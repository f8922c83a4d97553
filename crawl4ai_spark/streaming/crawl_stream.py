"""Always-on crawl as Structured Streaming: a self-feeding frontier.

The batch engine (plans/crawl.py) runs supersteps in a driver loop;
the streaming form makes the frontier ITSELF the stream: a parquet
directory is simultaneously the file-stream SOURCE of pending URLs
and the SINK where each micro-batch appends the links it discovers —
Spark's file source picks the new files up as the next batch, so the
crawl sustains itself until no batch discovers anything new.  That
gives the always-on deployment the reference's `arun(stream=True)`
users expect (results appear incrementally in the docs directory),
and a one-line run-to-exhaustion mode: `query.processAllAvailable()`
returns exactly when the frontier drains.

Per micro-batch (inside foreachBatch — each step is the same plan
shape as one engine superstep):

    pending ─dedup─ cuckoo-probe ─→ definitely-new ─┐
                    └─ maybe ─ anti-join(seen) ─────┴─ fresh
    fresh → mark seen (parquet append + cuckoo insert)
          → fetch (corpus join / transport seam)
          → ONE fused Arrow extract UDF
          → docs append (interleaved span rows)
          → discovered links (depth+1 ≤ max_depth) → frontier append

State: the seen set is a parquet directory + the incremental cuckoo
filter (operators/cuckoo) — the deletion-capable tier, so a recrawl
pass (plans/recrawl) can forget URLs between runs; the filter routes
most candidates around the seen-table scan.

Crash-safety (foreachBatch multi-sink writes are NOT transactional
with the stream checkpoint, so ordering carries the guarantee):
docs land FIRST, epoch-partitioned with dynamic partition overwrite
— a replayed epoch overwrites its own partition, never duplicates;
discovered links append SECOND — replay may append them twice, but
frontier entries are at-least-once by design and the seen gate makes
the crawl effect once; seen is marked LAST (parquet + cuckoo).  A
crash anywhere before the seen mark replays the batch identically
(seen unchanged ⇒ same fresh set); a crash after it means every sink
already landed, and the replay's fresh set is empty.  Net: each
URL's document is written exactly once per crawl, with no loss
window.

Scale notes: identical join/UDF shapes to the batch engine (which is
the tuned path — politeness admission, budgets, snapshot state); this
driver trades those controls for always-on incremental delivery.
Ordering is micro-batch BFS-like; the invariants (URL-seen set,
per-document span sequences) match the batch engine exactly and are
pinned by tests/test_crawl_stream.py.
"""

from __future__ import annotations

import os

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession

from crawl4ai_spark.plans.crawl import make_step_udf, spans_struct
from crawl4ai_spark.functions.urlnorm import get_host
from crawl4ai_spark.operators.cuckoo import (
    cuckoo_add,
    cuckoo_probe_cogroup,
    empty_cuckoo,
)

__all__ = ["StreamingCrawl"]

_FRONTIER_SCHEMA = "url string, host string, depth int"


class StreamingCrawl:
    """Self-feeding streaming crawl over a corpus table.

    `pages` must carry (url, status_code, html) — the synthetic corpus
    or any fetched-page table; production swaps the corpus join for
    the transport UDF exactly like the batch engine's fetch seam."""

    def __init__(
        self,
        spark: SparkSession,
        pages: DataFrame,
        workdir: str,
        max_depth: int = 3,
        user_agent: str = "crawl4ai-spark",
        markdown_dialect: str = "house",
        cuckoo_shards: int = 8,
        cuckoo_buckets: int = 1 << 10,
        host_budget: int | None = None,
    ) -> None:
        self.spark = spark
        self.pages = pages.select("url", "status_code", "html")
        self.max_depth = int(max_depth)
        self.frontier_dir = os.path.join(workdir, "frontier")
        self.seen_dir = os.path.join(workdir, "seen")
        self.docs_dir = os.path.join(workdir, "docs")
        self.ckpt_dir = os.path.join(workdir, "_checkpoint")
        os.makedirs(self.frontier_dir, exist_ok=True)
        self._step_udf = make_step_udf(
            None, user_agent, markdown_dialect=markdown_dialect
        )
        self._cuckoo_shards = cuckoo_shards
        self._cuckoo = empty_cuckoo(spark, cuckoo_shards, cuckoo_buckets)
        # restart on an existing workdir (the stream checkpoint's
        # resume flow): the seen directory persists but the filter is
        # process state — rebuild it, else previously-seen URLs probe
        # as definitely-new and bypass the exact anti-join (re-crawl).
        # DISTINCT urls: a replayed seen mark can leave duplicate rows,
        # and each key must enter the filter once so a later single
        # cuckoo_delete (plans/recrawl.forget_expired) stays exact
        prior = self._read_seen()
        if prior is not None:
            self._cuckoo = cuckoo_add(
                self._cuckoo,
                prior.distinct().select(F.xxhash64("url").alias("url_hash")),
                hash_col="url_hash",
                n_shards=cuckoo_shards,
            ).localCheckpoint(eager=True)
        # P1 politeness in streaming form: at most `host_budget` URLs
        # per host are admitted per micro-batch; the overflow is
        # re-queued to the frontier directory and comes around in a
        # later batch — the trigger interval IS the politeness window
        # (the engine's admission-budget analogue; None = unbounded).
        # SEMANTICS NOTE: deferral makes crawl order non-BFS, and a
        # page first reached through a longer route carries that
        # route's depth — so with a BINDING max_depth the reachable
        # set is order-dependent (the batch engine's level-ordered
        # admission guarantees minimal depths; streaming trades that
        # for always-on delivery).  Shallowest-first admission and
        # min-depth batch dedup (below) minimize the inflation; with a
        # non-binding depth cap the crawled set is order-independent.
        self.host_budget = host_budget
        self._query = None

    # ── lifecycle ────────────────────────────────────────────────────

    def seed(self, urls: list[str]) -> None:
        rows = [(u, get_host(u), 0) for u in dict.fromkeys(urls)]
        self.spark.createDataFrame(rows, _FRONTIER_SCHEMA).coalesce(1).write.mode(
            "append"
        ).parquet(self.frontier_dir)

    def start(self, max_files_per_trigger: int = 16):
        stream = (
            self.spark.readStream.schema(_FRONTIER_SCHEMA)
            .option("maxFilesPerTrigger", str(max_files_per_trigger))
            .parquet(self.frontier_dir)
        )
        self._query = (
            stream.writeStream.foreachBatch(self._step)
            .option("checkpointLocation", self.ckpt_dir)
            .start()
        )
        return self._query

    def run_to_exhaustion(self) -> None:
        """Block until the frontier drains (no batch discovers new
        URLs), then stop the query."""
        q = self._query or self.start()
        q.processAllAvailable()
        q.stop()

    # ── results ──────────────────────────────────────────────────────

    def docs(self) -> DataFrame:
        return self.spark.read.parquet(self.docs_dir)

    def seen(self) -> DataFrame:
        return self.spark.read.parquet(self.seen_dir)

    # ── one micro-batch ≡ one engine superstep ───────────────────────

    def _read_seen(self) -> DataFrame | None:
        try:
            return self.spark.read.parquet(self.seen_dir).select("url")
        except Exception:
            return None  # first batch: nothing marked yet

    def _step(self, batch: DataFrame, epoch: int) -> None:
        # within-batch dedup keeps the MIN depth per url (the engine's
        # first-discovery-wins analogue: under deferral the same url
        # can be pending at several depths; the shallowest is the one
        # BFS would have recorded)
        batch = batch.groupBy("url").agg(
            F.min("depth").alias("depth"), F.first("host").alias("host")
        )
        seen = self._read_seen()
        if seen is None:
            fresh = batch
        else:
            # cuckoo tier: definitely-new rows skip the seen-table
            # scan entirely; only `maybe` rows pay the exact anti-join
            probed = cuckoo_probe_cogroup(
                batch.withColumn("_h", F.xxhash64("url")),
                self._cuckoo,
                hash_col="_h",
                n_shards=self._cuckoo_shards,
            )
            new_part = probed.filter(~F.col("maybe_seen")).drop("maybe_seen", "_h")
            maybe = probed.filter(F.col("maybe_seen")).drop("maybe_seen", "_h")
            fresh = new_part.unionByName(maybe.join(seen, "url", "left_anti"))
        if self.host_budget is not None:
            # keyed rank (partitioned window — never global): admit
            # `host_budget` per host, defer the rest to a later batch
            from pyspark.sql import Window

            # shallowest-first admission: deferral then inflates depth
            # as little as possible (see politeness note below)
            w = Window.partitionBy("host").orderBy("depth", "url")
            ranked = fresh.withColumn("_rk", F.row_number().over(w))
            deferred = ranked.filter(F.col("_rk") > self.host_budget).drop("_rk")
            fresh = ranked.filter(F.col("_rk") <= self.host_budget).drop("_rk")
            deferred = deferred.localCheckpoint(eager=True)
            if not deferred.isEmpty():
                deferred.write.mode("append").parquet(self.frontier_dir)
        fresh = fresh.localCheckpoint(eager=True)
        if fresh.isEmpty():
            return

        fetched = fresh.join(self.pages, "url", "left").select(
            "url", "host", "depth",
            F.coalesce("status_code", F.lit(0)).alias("eff_status"),
            F.col("html").alias("eff_html"),
        )
        step = fetched.select(
            "url", "host", "depth", "eff_status",
            self._step_udf(
                F.col("url"), F.col("host"), F.col("url"),
                F.col("eff_html"), F.col("eff_status"),
            ).alias("ex"),
        ).localCheckpoint(eager=True)

        # 1) docs FIRST, epoch-partitioned dynamic overwrite: a replay
        # of this epoch overwrites its own partition — idempotent, so
        # a crash before the seen mark below cannot lose documents
        (
            step.filter((F.col("eff_status") == 200) & F.col("ex.success"))
            .select(
                F.col("url").alias("doc_id"),
                spans_struct(F.col("ex")).cast(
                    "array<struct<kind:string,text:string,media_ref:string,offset:int>>"
                ).alias("spans"),
                F.col("ex.raw_markdown").alias("raw_markdown"),
                F.lit(int(epoch)).alias("epoch"),
            )
            .write.mode("overwrite")
            .option("partitionOverwriteMode", "dynamic")
            .partitionBy("epoch")
            .parquet(self.docs_dir)
        )

        # 2) discovered links SECOND (replay may re-append them —
        # harmless: the seen gate filters them in the batch that picks
        # them up), 3) mark seen LAST in _mark_seen below
        if self.max_depth <= 0:
            self._mark_seen(fresh)
            return
        links = (
            step.filter((F.col("eff_status") == 200) & (F.col("depth") < self.max_depth))
            .select(
                F.col("depth"),
                F.explode(
                    F.arrays_zip(
                        F.col("ex.pl_canon").alias("canon"),
                        F.col("ex.pl_host").alias("lhost"),
                    )
                ).alias("l"),
            )
            .select(
                F.col("l.canon").alias("url"),
                F.col("l.lhost").alias("host"),
                (F.col("depth") + 1).alias("depth"),
            )
            .filter(F.col("url").isNotNull())
            .dropDuplicates(["url"])
        )
        # best-effort pre-filter (the next batch's seen gate is the
        # real one): keeps frontier files from refilling with knowns —
        # including this batch's own URLs, not yet in the seen table
        # because the seen mark now comes last.  Reuses the `seen`
        # frame read at the top of the batch (no seen write happens in
        # between, and re-listing a directory that grows one file per
        # batch gets progressively slower on long streams).
        if seen is not None:
            links = links.join(seen, "url", "left_anti")
        links = links.join(fresh.select("url"), "url", "left_anti")
        links = links.localCheckpoint(eager=True)
        if not links.isEmpty():
            links.write.mode("append").parquet(self.frontier_dir)
        self._mark_seen(fresh)

    def _mark_seen(self, fresh: DataFrame) -> None:
        """Mark the batch's URLs seen — LAST, after every other sink:
        a crash before this point replays the whole batch (docs
        overwrite their epoch partition, link re-appends are filtered
        by the next batch's seen gate); a crash after it means all
        sinks already landed and the replay's fresh set is empty."""
        fresh.select("url").write.mode("append").parquet(self.seen_dir)
        self._cuckoo = cuckoo_add(
            self._cuckoo,
            fresh.select(F.xxhash64("url").alias("url_hash")),
            hash_col="url_hash",
            n_shards=self._cuckoo_shards,
        ).localCheckpoint(eager=True)
