"""Snapshot-versioned parquet state store — the sandbox's Iceberg.

Iceberg isn't on this classpath, so crawl state (frontier / docs /
crawl_log) persists as parquet snapshot directories plus an
atomically-swapped JSON manifest:

    root/
      _manifest.json              ← current snapshot path per table + metrics
      frontier/snap=000042-1f0c9a2e/*.parquet
      docs/snap=000042-1f0c9a2e/*.parquet
      ...

Semantics preserved from the Iceberg design (SURVEY §4.2.4): an
iteration commits every table under ONE manifest swap (os.replace is
atomic on POSIX), a reader always sees a consistent snapshot set, and
resume = read manifest → load those snapshots → continue the loop.
Every commit writes into fresh directories (snapshot id plus a random
suffix) that no manifest names yet, so neither a failed write nor a
re-commit of the current snapshot id — whose tables may be read from
the very files it replaces — can touch the live snapshot; the
manifest swap is the only commit point.  Old snapshots are pruned
lazily, never one the live manifest names.  On a real cluster the
same calls map 1:1 onto Iceberg MERGE INTO + snapshot ids; the engine
only uses this narrow interface.

Per-partition lineage (north rule: "resumable runs with
per-partition lineage and metrics"): each committed table records its
part files with per-file row counts / bytes / row-group counts read
from the parquet footers (Iceberg's manifest-file role), each
manifest records its parent snapshot id, and the full commit history
is kept in `_lineage.jsonl` so the snapshot chain survives data
pruning (Iceberg's metadata log role).  Each commit rewrites that log
after its manifest swap, and first records the previous manifest
when a crash kept it out of the log.  Footer reads are driver-side
pyarrow metadata calls — no extra Spark job.

INTEGRATION GATE: no Iceberg runtime jar is on the pyspark classpath
this package is tested with, so nothing here is validated against a
live Iceberg catalog.  The engine's seen anti-join (plans/crawl.py)
broadcasts the frontier's url_hash keys while they are small and
shuffles both sides on the hash beyond that; a `bucket(url_hash)`
Iceberg frontier with storage-partitioned joins would let that
shuffled side skip its exchange, which is untested.  On a cluster
with `iceberg-spark-runtime` on the classpath, the swap is
config-only:

    spark.sql.catalog.crawl = org.apache.iceberg.spark.SparkCatalog
    CREATE TABLE crawl.seen (url_hash BIGINT, ...)
      USING iceberg PARTITIONED BY (bucket(256, url_hash))
    + spark.sql.sources.v2.bucketing.enabled=true

and SnapshotStore's commit/load calls map onto MERGE INTO + snapshot
ids as documented above; no engine code changes.
"""

from __future__ import annotations

import json
import os
import shutil
import time
import uuid
from typing import Any

from pyspark.sql import DataFrame, SparkSession


class SnapshotStore:
    def __init__(self, root: str, keep_snapshots: int = 2) -> None:
        self.root = root
        self.keep_snapshots = keep_snapshots
        os.makedirs(root, exist_ok=True)

    # ── manifest ──────────────────────────────────────────────────────
    @property
    def _manifest_path(self) -> str:
        return os.path.join(self.root, "_manifest.json")

    def read_manifest(self) -> dict[str, Any] | None:
        try:
            with open(self._manifest_path) as f:
                return json.load(f)
        except FileNotFoundError:
            return None

    # ── commit: write all tables, then swap the manifest ─────────────
    def commit(
        self,
        snapshot_id: int,
        tables: dict[str, DataFrame],
        metrics: dict[str, Any] | None = None,
        state: dict[str, Any] | None = None,
    ) -> None:
        prev = self.read_manifest()
        # re-committing the current snapshot id REPLACES it (the engine's
        # final commit refreshes the last superstep's snapshot): the parent
        # stays the replaced snapshot's parent, and the lineage entry is
        # rewritten rather than duplicated.
        replaces = bool(prev and prev["snapshot_id"] == snapshot_id)
        parent = (prev.get("parent_snapshot_id") if replaces else prev["snapshot_id"]) if prev else None
        entry: dict[str, Any] = {
            "snapshot_id": snapshot_id,
            "parent_snapshot_id": parent,
            "committed_at": time.time(),
            "tables": {},
            "metrics": metrics or {},
            "state": state or {},
        }
        tag = uuid.uuid4().hex[:8]
        for name, df in tables.items():
            path = self._snap_path(name, snapshot_id, tag)
            df.write.parquet(path)  # a fresh path: never overwrites
            files = self._file_lineage(path)
            entry["tables"][name] = {
                "path": path,
                "rows": sum(f.get("rows", 0) for f in files),
                "files": files,
            }
        tmp = self._manifest_path + ".tmp"
        with open(tmp, "w") as f:
            json.dump(entry, f)
        os.replace(tmp, self._manifest_path)  # atomic commit point
        log = self.lineage()
        if replaces:
            log = [e for e in log if e["snapshot_id"] != snapshot_id]
        elif prev and (not log or log[-1] != prev):
            # a crash between the previous commit's swap and its log
            # write left the live snapshot out of the log: record it
            # first, so the chain has no gap at this entry's parent
            log = [e for e in log if e["snapshot_id"] != prev["snapshot_id"]] + [prev]
        # the log is rewritten and swapped, never appended in place: a
        # crash mid-write cannot leave a torn line behind
        lpath = os.path.join(self.root, "_lineage.jsonl")
        with open(lpath + ".tmp", "w") as f:
            f.writelines(json.dumps(e) + "\n" for e in log + [entry])
        os.replace(lpath + ".tmp", lpath)
        self._prune(entry)

    @staticmethod
    def _file_lineage(path: str) -> list[dict[str, Any]]:
        """Per-part-file (rows, bytes, row_groups) from parquet footers."""
        import pyarrow.parquet as pq

        files: list[dict[str, Any]] = []
        for fn in sorted(os.listdir(path)):
            if not fn.endswith(".parquet"):
                continue
            fp = os.path.join(path, fn)
            rec: dict[str, Any] = {"file": fn, "bytes": os.path.getsize(fp)}
            try:
                md = pq.ParquetFile(fp).metadata
                rec["rows"] = md.num_rows
                rec["row_groups"] = md.num_row_groups
            except Exception:
                pass  # unreadable footer: keep the byte-level record
            files.append(rec)
        return files

    def lineage(self) -> list[dict[str, Any]]:
        """Full commit history (parent-chained), oldest first."""
        try:
            with open(os.path.join(self.root, "_lineage.jsonl")) as f:
                return [json.loads(line) for line in f if line.strip()]
        except FileNotFoundError:
            return []

    def load(self, spark: SparkSession, name: str) -> DataFrame | None:
        m = self.read_manifest()
        if not m or name not in m["tables"]:
            return None
        t = m["tables"][name]
        path = t["path"] if isinstance(t, dict) else t  # pre-lineage manifests
        return spark.read.parquet(path)

    def _snap_path(self, name: str, snapshot_id: int, tag: str) -> str:
        return os.path.join(self.root, name, f"snap={snapshot_id:06d}-{tag}")

    def _prune(self, live: dict[str, Any]) -> None:
        """Drop snapshot directories whose id is older than the newest
        `keep_snapshots` ids, except any the live manifest names."""
        keep = {t["path"] for t in live["tables"].values()}
        for name in os.listdir(self.root):
            tdir = os.path.join(self.root, name)
            if not os.path.isdir(tdir):
                continue
            snaps = {
                d: int(d.split("=")[1].split("-")[0])
                for d in os.listdir(tdir) if d.startswith("snap=")
            }
            old = set(sorted(set(snaps.values()))[: -self.keep_snapshots])
            for d, sid in snaps.items():
                path = os.path.join(tdir, d)
                if sid in old and path not in keep:
                    shutil.rmtree(path, ignore_errors=True)
