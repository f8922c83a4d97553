"""Checkpoint/resume (M7): kill the crawl mid-run, resume from the
snapshot store, and land in exactly the state of an uninterrupted run
(north rule: resumable from Iceberg snapshots — here the parquet
snapshot store with atomic manifest swap)."""

from __future__ import annotations

from dataclasses import replace

import pytest
from pyspark.sql import functions as F

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


def test_kill_and_resume_matches_uninterrupted(spark, tmp_path):
    pages, robots, seeds = _inputs(spark)

    # uninterrupted reference run
    full = CrawlEngine(spark, _cfg(30), pages, robots).run(seeds)

    # interrupted run: stop after 2 iterations, state committed to the store
    store = SnapshotStore(str(tmp_path / "store"))
    partial = CrawlEngine(spark, _cfg(2), pages, robots, store=store).run(seeds)
    assert partial.state.iteration == 2
    assert store.read_manifest()["snapshot_id"] == 2

    # resume in a NEW engine (fresh driver state) and finish
    resumed = CrawlEngine(spark, _cfg(30), pages, robots, store=store).resume()

    assert resumed.state.pages_crawled == full.state.pages_crawled
    assert resumed.state.next_seq == full.state.next_seq

    f_seen = {r["url"] for r in full.seen.collect()}
    r_seen = {r["url"] for r in resumed.seen.collect()}
    assert r_seen == f_seen

    f_log = [(r["iteration"], r["url"], r["outcome"])
             for r in full.crawl_log.orderBy("iteration", "batch_rank").collect()]
    r_log = [(r["iteration"], r["url"], r["outcome"])
             for r in resumed.crawl_log.orderBy("iteration", "batch_rank").collect()]
    assert r_log == f_log

    f_docs = {r["doc_id"] for r in full.docs.collect()}
    r_docs = {r["doc_id"] for r in resumed.docs.collect()}
    assert r_docs == f_docs

    hs_f = {h: (round(d, 9), n) for h, (d, n) in full.state.host_state.items()}
    hs_r = {h: (round(d, 9), n) for h, (d, n) in resumed.state.host_state.items()}
    assert hs_r == hs_f


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
    lin = store.lineage()
    ids = [e["snapshot_id"] for e in lin]
    assert ids == sorted(set(ids)), f"duplicate/unordered snapshots: {ids}"
    assert lin[0]["parent_snapshot_id"] is None
    for prev, cur in zip(lin, lin[1:]):
        assert cur["parent_snapshot_id"] == prev["snapshot_id"]
    assert lin[-1]["snapshot_id"] == m["snapshot_id"]


def test_resume_of_finished_crawl_keeps_snapshot(spark, tmp_path):
    """Resuming a finished crawl runs no superstep and re-commits the
    current snapshot id from tables read out of that very snapshot.
    The re-commit must not read files it has deleted, and must leave a
    snapshot that loads with the manifest's row counts."""
    pages, robots, seeds = _inputs(spark)
    store = SnapshotStore(str(tmp_path / "store3"))
    full = CrawlEngine(spark, _cfg(30), pages, robots, store=store).run(seeds)
    resumed = CrawlEngine(
        spark, _cfg(full.state.iteration), pages, robots, store=store
    ).resume()
    assert resumed.state.pages_crawled == full.state.pages_crawled
    assert resumed.docs.count() == full.docs.count()
    m = store.read_manifest()
    assert m["snapshot_id"] == full.state.iteration
    for name, t in m["tables"].items():
        assert t["rows"] > 0, name
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
