"""Checkpoint/resume (M7): kill the crawl mid-run, resume from the
snapshot store, and land in exactly the state of an uninterrupted run
(north rule: resumable from Iceberg snapshots — here the parquet
snapshot store with atomic manifest swap)."""

from __future__ import annotations

import os
from dataclasses import replace

import pytest
from pyspark.sql import DataFrameWriter
from pyspark.sql import functions as F

from crawl4ai_spark.plans import state as state_mod
from crawl4ai_spark.plans.config import CrawlConfig
from crawl4ai_spark.plans.crawl import CrawlEngine
from crawl4ai_spark.plans.state import SnapshotStore
from crawl4ai_spark.sources.synthetic_web import (
    WebConfig, robots_rows, seed_urls, synthetic_pages_pdf,
)

WEB = WebConfig(n_pages=120, n_hosts=5, seed=42)


def _inputs(spark):
    pdf = synthetic_pages_pdf(WEB)
    pages = spark.createDataFrame(pdf).cache()
    robots = spark.createDataFrame(robots_rows(WEB))
    return pages, robots, seed_urls(WEB, n_seeds=5)


def _cfg(max_iterations: int) -> CrawlConfig:
    return CrawlConfig(mode="bfs", max_depth=3, max_pages=40,
                       base_budget=4, global_budget=12,
                       max_iterations=max_iterations)


def _crawl(res) -> dict:
    """What a resumed crawl must reproduce of an uninterrupted one."""
    return {
        "pages_crawled": res.state.pages_crawled,
        "next_seq": res.state.next_seq,
        "seen": {r["url"] for r in res.seen.collect()},
        "log": [(r["iteration"], r["url"], r["outcome"])
                for r in res.crawl_log.orderBy("iteration", "batch_rank").collect()],
        "docs": {r["doc_id"] for r in res.docs.collect()},
        "host_state": {h: (round(d, 9), n) for h, (d, n) in res.state.host_state.items()},
    }


@pytest.fixture(scope="module")
def uninterrupted(spark):
    """max_iterations -> `_crawl` of an uninterrupted run, each run once."""
    runs: dict[int, dict] = {}

    def get(max_iterations: int) -> dict:
        if max_iterations not in runs:
            pages, robots, seeds = _inputs(spark)
            res = CrawlEngine(spark, _cfg(max_iterations), pages, robots).run(seeds)
            runs[max_iterations] = _crawl(res)
        return runs[max_iterations]

    return get


def _assert_lineage_chain(store: SnapshotStore) -> None:
    """The lineage log chains snapshots parent -> child with no gap
    and ends at the manifest's snapshot."""
    lin = store.lineage()
    ids = [e["snapshot_id"] for e in lin]
    assert ids == sorted(set(ids)), f"duplicate/unordered snapshots: {ids}"
    assert lin[0]["parent_snapshot_id"] is None
    for prev, cur in zip(lin, lin[1:]):
        assert cur["parent_snapshot_id"] == prev["snapshot_id"]
    assert lin[-1]["snapshot_id"] == store.read_manifest()["snapshot_id"]


def test_kill_and_resume_matches_uninterrupted(spark, tmp_path, uninterrupted):
    pages, robots, seeds = _inputs(spark)

    # interrupted run: stop after 2 iterations, state committed to the store
    store = SnapshotStore(str(tmp_path / "store"))
    partial = CrawlEngine(spark, _cfg(2), pages, robots, store=store).run(seeds)
    assert partial.state.iteration == 2
    assert store.read_manifest()["snapshot_id"] == 2

    # resume in a NEW engine (fresh driver state) and finish
    resumed = CrawlEngine(spark, _cfg(30), pages, robots, store=store).resume()
    got = _crawl(resumed)
    for key, want in uninterrupted(30).items():
        assert got[key] == want, key


class _CountingStore(SnapshotStore):
    def __init__(self, root: str) -> None:
        super().__init__(root)
        self.committed: list[int] = []

    def commit(self, snapshot_id, tables, metrics=None, state=None) -> None:
        self.committed.append(snapshot_id)
        super().commit(snapshot_id, tables, metrics, state)


@pytest.mark.parametrize("every, want", [(1, [1, 2, 3]), (2, [2, 3])])
def test_each_snapshot_committed_once(spark, tmp_path, every, want):
    """The crawl commits every `every` supersteps, and once more at the
    end only when its last superstep is not committed yet."""
    pages, robots, seeds = _inputs(spark)
    store = _CountingStore(str(tmp_path / "store5"))
    res = CrawlEngine(spark, _cfg(3), pages, robots, store=store,
                      checkpoint_every=every).run(seeds)
    assert res.state.iteration == 3
    assert store.committed == want


def test_manifest_atomicity(spark, tmp_path):
    store = SnapshotStore(str(tmp_path / "store2"))
    pages, robots, seeds = _inputs(spark)
    CrawlEngine(spark, _cfg(1), pages, robots, store=store).run(seeds)
    m = store.read_manifest()
    # seen is no longer a separate table: the frontier subsumes it
    # (trimmed rows keep their row, so seen ≡ frontier.url)
    assert set(m["tables"]) == {"frontier", "docs", "crawl_log"}
    # every referenced snapshot path exists, loads, and carries
    # per-partition lineage that agrees with the actual row count
    for name in m["tables"]:
        df = store.load(spark, name)
        assert df is not None
        t = m["tables"][name]
        assert t["files"], f"{name}: no part-file lineage recorded"
        for f in t["files"]:
            assert f["bytes"] > 0 and "rows" in f and "row_groups" in f
        assert t["rows"] == df.count()
    assert "pages_crawled" in m["metrics"]
    # lineage log chains snapshots parent -> child and survives pruning
    _assert_lineage_chain(store)


@pytest.mark.parametrize("reseed", [False, True], ids=["no_seeds", "own_seeds"])
def test_resume_of_finished_crawl_keeps_snapshot(spark, tmp_path, reseed):
    """Resuming a finished crawl runs no superstep and re-commits the
    current snapshot id from tables read out of that very snapshot.
    The re-commit must not read files it has deleted, and must leave a
    snapshot that loads with the manifest's row counts.  Seeds the
    frontier already holds add no row."""
    pages, robots, seeds = _inputs(spark)
    store = SnapshotStore(str(tmp_path / "store3"))
    full = CrawlEngine(spark, _cfg(30), pages, robots, store=store).run(seeds)
    rows = {name: t["rows"] for name, t in store.read_manifest()["tables"].items()}
    resumed = CrawlEngine(
        spark, _cfg(full.state.iteration), pages, robots, store=store
    ).resume(seeds if reseed else ())
    assert resumed.state.iteration == full.state.iteration
    assert resumed.state.pages_crawled == full.state.pages_crawled
    assert resumed.docs.count() == full.docs.count()
    m = store.read_manifest()
    assert m["snapshot_id"] == full.state.iteration
    for name, t in m["tables"].items():
        assert t["rows"] == rows[name] > 0, name
        assert store.load(spark, name).count() == t["rows"], name


def test_resume_under_changed_mode_raises(spark, tmp_path):
    """resume() refuses a config that differs from the committed
    crawl's in anything but the stop bounds: a changed mode would mix
    two admission orderings in one frontier."""
    pages, robots, seeds = _inputs(spark)
    store = SnapshotStore(str(tmp_path / "store5"))
    CrawlEngine(spark, _cfg(1), pages, robots, store=store).run(seeds)
    cfg = replace(_cfg(30), mode="best_first", max_pages=80)
    with pytest.raises(ValueError, match="mode") as err:
        CrawlEngine(spark, cfg, pages, robots, store=store).resume()
    assert "max_pages" not in str(err.value)
    assert "max_iterations" not in str(err.value)


def test_failed_recommit_keeps_live_snapshot(spark, tmp_path):
    """A re-commit of the current snapshot id whose table write fails
    mid-job leaves the previous snapshot live and loadable."""
    store = SnapshotStore(str(tmp_path / "store4"))
    df = spark.range(50).withColumnRenamed("id", "n")
    store.commit(snapshot_id=1, tables={"t": df})

    @F.udf("long")
    def boom(n):
        raise RuntimeError("write failed")

    with pytest.raises(Exception, match="write failed"):
        store.commit(snapshot_id=1, tables={"t": df.select(boom("n").alias("n"))})
    m = store.read_manifest()
    assert m["snapshot_id"] == 1 and m["tables"]["t"]["rows"] == 50
    assert store.load(spark, "t").count() == 50


_WRITE_POINTS = ["frontier", "docs", "crawl_log", "manifest_tmp", "swap", "lineage", "prune"]


@pytest.mark.parametrize("point", _WRITE_POINTS)
def test_crash_at_each_commit_write_point_resumes(
    spark, tmp_path, monkeypatch, uninterrupted, point
):
    """A crawl dies inside its second snapshot commit: after a table
    write lands (an unnamed snapshot directory stays behind), at the
    manifest tmp write, instead of the manifest swap, at the lineage
    write after the swap, or in the prune.  A fresh engine resumes to
    the uninterrupted crawl, and the lineage log has no gap."""
    pages, robots, seeds = _inputs(spark)
    store = _CountingStore(str(tmp_path / "store"))

    def crash_at(here: str | None) -> None:
        if here == point and len(store.committed) == 2:
            raise RuntimeError(f"injected crash at {here}")

    real_parquet, real_open, real_prune = DataFrameWriter.parquet, open, SnapshotStore._prune

    def parquet(self, path, *a, **kw):
        real_parquet(self, path, *a, **kw)
        crash_at(os.path.basename(os.path.dirname(path)))  # <root>/<table>/snap=…

    def open_(path, mode="r", *a, **kw):
        name = os.path.basename(path)
        if "r" not in mode:
            crash_at("manifest_tmp" if name == "_manifest.json.tmp"
                     else "lineage" if name.startswith("_lineage.jsonl") else None)
        return real_open(path, mode, *a, **kw)

    class _Os:
        def __getattr__(self, attr):
            return getattr(os, attr)

        def replace(self, src, dst):
            if os.path.basename(dst) == "_manifest.json":
                crash_at("swap")
            os.replace(src, dst)

    def prune(self, live):
        crash_at("prune")
        real_prune(self, live)

    monkeypatch.setattr(DataFrameWriter, "parquet", parquet)
    monkeypatch.setattr(state_mod, "open", open_, raising=False)
    monkeypatch.setattr(state_mod, "os", _Os())
    monkeypatch.setattr(SnapshotStore, "_prune", prune)
    with pytest.raises(RuntimeError, match=f"injected crash at {point}"):
        CrawlEngine(spark, _cfg(4), pages, robots, store=store).run(seeds)
    monkeypatch.undo()
    swapped = point in ("lineage", "prune")
    assert store.read_manifest()["snapshot_id"] == (2 if swapped else 1)

    fresh = SnapshotStore(store.root)
    resumed = CrawlEngine(spark, _cfg(4), pages, robots, store=fresh).resume()
    assert resumed.state.iteration == 4
    got = _crawl(resumed)
    for key, want in uninterrupted(4).items():
        assert got[key] == want, key
    _assert_lineage_chain(fresh)
