"""Streaming crawl (streaming/crawl_stream): a foreachBatch driver of
the batch engine.  Seeded like a batch crawl it crawls exactly what
`CrawlEngine.run` crawls, in the same order, under binding per-host
budgets and a binding depth cap, on a web with faults and robots; a
reseed adds only new URLs, and a crash mid-epoch resumes to the
uninterrupted result."""

from __future__ import annotations

from collections import Counter, defaultdict

import pytest
from pyspark.sql import functions as F

from crawl4ai_spark.functions.urlnorm import get_host
from crawl4ai_spark.plans import state as state_mod
from crawl4ai_spark.plans.config import CrawlConfig
from crawl4ai_spark.plans.crawl import CrawlEngine
from crawl4ai_spark.sources.synthetic_web import (
    WebConfig, robots_rows, seed_urls, synthetic_pages_pdf,
)
from crawl4ai_spark.streaming.crawl_stream import StreamingCrawl

WEB = WebConfig(n_pages=60, n_hosts=4, seed=13)
SEEDS = seed_urls(WEB, 4)
MAX_DEPTH = 1


def _cfg(max_depth: int = MAX_DEPTH) -> CrawlConfig:
    # the global budget admits every host's full budget at once, so
    # only the per-host cap can defer a URL
    return CrawlConfig(mode="bfs", max_depth=max_depth, max_pages=10_000,
                       base_budget=4, global_budget=4 * WEB.n_hosts,
                       max_iterations=100)


@pytest.fixture(scope="module")
def web(spark):
    pages = spark.createDataFrame(synthetic_pages_pdf(WEB)).cache()
    robots = spark.createDataFrame(robots_rows(WEB))
    return pages, robots


def _outcome(log, frontier, docs, host_state) -> dict:
    return {
        "log": [(r["iteration"], r["batch_rank"], r["url"], r["outcome"], r["depth"])
                for r in log.orderBy("iteration", "batch_rank").collect()],
        "status": {r["url"]: r["status"]
                   for r in frontier.filter(F.col("status") != "trimmed").collect()},
        # a list, so a duplicate doc_id shows as a difference
        "docs": sorted((r["doc_id"], [tuple(s) for s in r["spans"]])
                       for r in docs.collect()),
        "host_state": {h: (round(d, 9), n) for h, (d, n) in host_state.items()},
    }


def _stream_outcome(spark, sc: StreamingCrawl) -> dict:
    store = sc.store
    return _outcome(store.load(spark, "crawl_log"), store.load(spark, "frontier"),
                    sc.docs(), store.read_manifest()["state"]["host_state"])


@pytest.fixture(scope="module")
def batch_ref(spark, web) -> dict:
    pages, robots = web
    res = CrawlEngine(spark, _cfg(), pages, robots).run(SEEDS)
    out = _outcome(res.crawl_log, res.frontier, res.docs, res.state.host_state)
    out["seen"] = {r["url"] for r in res.seen.collect()}
    return out


def test_stream_matches_batch_engine(spark, web, batch_ref, tmp_path):
    pages, robots = web
    # the depth cap binds: one more level crawls more
    deeper = CrawlEngine(spark, _cfg(MAX_DEPTH + 1), pages, robots).run(SEEDS)
    assert deeper.crawl_log.count() > len(batch_ref["log"])

    sc = StreamingCrawl(spark, _cfg(), pages, str(tmp_path / "crawl"), robots)
    sc.seed(SEEDS)
    sc.run_to_exhaustion()
    got = _stream_outcome(spark, sc)
    for key in ("log", "status", "docs", "host_state"):
        assert got[key] == batch_ref[key], key
    assert {r["url"] for r in sc.seen().collect()} == batch_ref["seen"]
    outcomes = {o for *_, o, _d in got["log"]}
    assert {"robots_blocked", "fetch_error"} <= outcomes, outcomes

    # per (iteration, host) admissions never exceed the host budget ...
    budget = _cfg().base_budget
    per = Counter((it, get_host(url)) for it, _r, url, _o, _d in got["log"])
    assert max(per.values()) == budget
    # ... and the cap binds: some host's URLs of one BFS level (all
    # known when the level starts) are first admitted over several
    # supersteps, which only the per-host cap can cause here
    first = {}
    for it, _r, url, _o, depth in got["log"]:
        first.setdefault(url, (it, get_host(url), depth))
    spread = defaultdict(set)
    for it, host, depth in first.values():
        spread[host, depth].add(it)
    assert any(len(its) > 1 for its in spread.values())
    # docs landed incrementally: one commit per superstep
    assert len(sc.store.lineage()) >= 2


def test_stream_is_idempotent_on_reseed(spark, web, tmp_path):
    """Re-seeding already-crawled URLs crawls nothing; new seeds in a
    later epoch get crawled, and no document is written twice."""
    pages, robots = web
    cfg = _cfg()
    workdir = str(tmp_path / "crawl2")
    sc = StreamingCrawl(spark, cfg, pages, workdir, robots)
    sc.seed(SEEDS[:2])
    sc.run_to_exhaustion()
    n_docs = sc.docs().count()
    n_seen = sc.seen().count()
    seen1 = {r["url"] for r in sc.seen().collect()}
    snap1 = sc.store.read_manifest()["snapshot_id"]

    # a REAL restart: new object, same workdir, same URLs again
    sc2 = StreamingCrawl(spark, cfg, pages, workdir, robots)
    sc2.seed(SEEDS[:2])
    sc2.run_to_exhaustion()
    assert sc2.docs().count() == n_docs
    assert sc2.seen().count() == n_seen
    assert sc2.store.read_manifest()["snapshot_id"] == snap1

    # a second epoch with new seeds crawls them
    new = [u for u in SEEDS[2:] if u not in seen1]
    assert new
    sc2.seed(new)
    sc2.run_to_exhaustion()
    log = sc2.store.load(spark, "crawl_log")
    crawled = {r["url"] for r in log.filter(F.col("iteration") > snap1).collect()}
    assert set(new) <= crawled
    assert sc2.docs().count() > n_docs
    dups = sc2.docs().groupBy("doc_id").count().filter(F.col("count") > 1)
    assert dups.count() == 0


def test_stream_crash_mid_epoch_resumes_to_uninterrupted(
    spark, web, batch_ref, tmp_path, monkeypatch
):
    """The second snapshot commit dies after its table writes, before
    the manifest swap.  A restart on the same workdir replays the
    epoch, resumes from the first snapshot and lands on the
    uninterrupted crawl, with no duplicate documents."""
    pages, robots = web
    workdir = str(tmp_path / "crash")
    real_open, swaps = open, []

    def crashing_open(path, *a, **kw):
        if str(path).endswith("_manifest.json.tmp"):
            swaps.append(path)
            if len(swaps) == 2:
                raise RuntimeError("injected crash before the manifest swap")
        return real_open(path, *a, **kw)

    monkeypatch.setattr(state_mod, "open", crashing_open, raising=False)
    sc = StreamingCrawl(spark, _cfg(), pages, workdir, robots)
    sc.seed(SEEDS)
    with pytest.raises(Exception, match="injected crash"):
        sc.run_to_exhaustion()
    monkeypatch.undo()
    assert sc.store.read_manifest()["snapshot_id"] == 1

    sc2 = StreamingCrawl(spark, _cfg(), pages, workdir, robots)
    sc2.run_to_exhaustion()
    got = _stream_outcome(spark, sc2)
    for key in ("log", "status", "docs", "host_state"):
        assert got[key] == batch_ref[key], key
