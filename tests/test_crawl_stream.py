"""Self-feeding streaming crawl (streaming/crawl_stream): runs to
frontier exhaustion and matches the batch engine's URL-seen set and
per-document span sequences on the same corpus (the north-rule
invariants; ordering is micro-batch-dependent by design)."""

from __future__ import annotations

from crawl4ai_spark.plans.config import CrawlConfig
from crawl4ai_spark.plans.crawl import CrawlEngine
from crawl4ai_spark.sources.synthetic_web import (
    WebConfig, seed_urls, synthetic_pages_pdf,
)
from crawl4ai_spark.streaming.crawl_stream import StreamingCrawl

# all-200 web (fault_every huge): the streaming driver trades the
# engine's redirect/retry handling for always-on delivery, so parity
# is pinned on the clean-web invariants
WEB = WebConfig(n_pages=150, n_hosts=4, seed=13, fault_every=10**9)


def test_stream_matches_batch_engine(spark, tmp_path):
    pages = spark.createDataFrame(synthetic_pages_pdf(WEB)).cache()
    seeds = seed_urls(WEB, 4)

    cfg = CrawlConfig(
        mode="bfs", max_depth=3, max_pages=10_000, base_budget=1_000,
        global_budget=10_000, max_iterations=50, respect_robots=False,
        track_host_state=False,
    )
    batch = CrawlEngine(spark, cfg, pages, None).run(seeds)
    batch_seen = {r["url"] for r in batch.seen.select("url").collect()}
    batch_docs = {
        r["doc_id"]: [(s["kind"], s["text"], s["media_ref"], s["offset"])
                      for s in r["spans"]]
        for r in batch.docs.select("doc_id", "spans").collect()
    }

    sc = StreamingCrawl(spark, pages, str(tmp_path / "crawl"), max_depth=3)
    sc.seed(seeds)
    sc.run_to_exhaustion()

    stream_seen = {r["url"] for r in sc.seen().collect()}
    assert stream_seen == batch_seen

    stream_docs = {
        r["doc_id"]: [(s["kind"], s["text"], s["media_ref"], s["offset"])
                      for s in r["spans"]]
        for r in sc.docs().select("doc_id", "spans").collect()
    }
    assert set(stream_docs) == set(batch_docs)
    for did, spans in batch_docs.items():
        assert stream_docs[did] == spans, did
    # docs arrived across multiple micro-batches (really incremental)
    epochs = {r["epoch"] for r in sc.docs().select("epoch").collect()}
    assert len(epochs) >= 2


def test_stream_host_budget_politeness(spark, tmp_path):
    """host_budget caps per-host admissions per micro-batch (overflow
    re-queues) without changing WHAT gets crawled."""
    import pyspark.sql.functions as F

    pages = spark.createDataFrame(synthetic_pages_pdf(WEB)).cache()
    seeds = seed_urls(WEB, 4)

    # non-binding depth cap: with deferral, depth is path-dependent
    # (documented in crawl_stream.py), so set parity holds exactly
    # when the cap doesn't bind
    free = StreamingCrawl(spark, pages, str(tmp_path / "free"), max_depth=8)
    free.seed(seeds)
    free.run_to_exhaustion()

    polite = StreamingCrawl(
        spark, pages, str(tmp_path / "polite"), max_depth=8, host_budget=3
    )
    polite.seed(seeds)
    polite.run_to_exhaustion()

    assert ({r["url"] for r in polite.seen().collect()}
            == {r["url"] for r in free.seen().collect()})
    # per (epoch, host) admissions never exceed the budget
    per = (
        polite.docs()
        .withColumn("host", F.regexp_extract("doc_id", r"https?://([^/]+)/", 1))
        .groupBy("epoch", "host").count()
    )
    assert per.filter(F.col("count") > 3).count() == 0
    # and the polite run needed more micro-batches
    assert (polite.docs().agg(F.max("epoch")).collect()[0][0]
            > free.docs().agg(F.max("epoch")).collect()[0][0])


def test_stream_is_idempotent_on_reseed(spark, tmp_path):
    """Re-seeding already-crawled URLs discovers nothing new — the
    seen gate makes replays/duplicates no-ops."""
    pages = spark.createDataFrame(synthetic_pages_pdf(WEB)).cache()
    seeds = seed_urls(WEB, 3)
    sc = StreamingCrawl(spark, pages, str(tmp_path / "crawl2"), max_depth=1)
    sc.seed(seeds)
    sc.run_to_exhaustion()
    n_docs = sc.docs().count()
    n_seen = sc.seen().count()

    # a REAL restart: new object, same workdir — the filter must
    # rebuild itself from the persisted seen directory
    sc2 = StreamingCrawl(spark, pages, str(tmp_path / "crawl2"), max_depth=1)
    sc2.seed(seeds)  # same URLs again
    sc2.run_to_exhaustion()
    assert sc2.docs().count() == n_docs
    assert sc2.seen().count() == n_seen


def test_stream_crash_before_seen_mark_loses_nothing(spark, tmp_path):
    """Crash-safety ordering: docs (epoch-overwrite) and links land
    BEFORE the seen mark, so a crash between sinks replays the batch
    without losing documents or discovered links, and the replay
    duplicates nothing (the docs epoch partition is overwritten, the
    re-appended links are filtered by the seen gate downstream)."""
    pages = spark.createDataFrame(synthetic_pages_pdf(WEB)).cache()
    seeds = seed_urls(WEB, 3)

    # ground truth: an uninterrupted run on the same corpus
    ref = StreamingCrawl(spark, pages, str(tmp_path / "ref"), max_depth=2)
    ref.seed(seeds)
    ref.run_to_exhaustion()
    want_docs = {r["doc_id"] for r in ref.docs().select("doc_id").collect()}
    want_seen = {r["url"] for r in ref.seen().select("url").collect()}

    # crashing run: the FIRST seen mark raises after docs+links landed
    sc = StreamingCrawl(spark, pages, str(tmp_path / "crash"), max_depth=2)
    real_mark, calls = sc._mark_seen, {"n": 0}

    def flaky_mark(fresh):
        calls["n"] += 1
        if calls["n"] == 1:
            raise RuntimeError("injected crash between sinks")
        real_mark(fresh)

    sc._mark_seen = flaky_mark
    sc.seed(seeds)
    q = sc.start()
    try:
        q.processAllAvailable()
    except Exception:
        pass
    q.stop()
    # restart from the same workdir (the checkpoint replays the failed
    # micro-batch); the wrapper is gone — marks succeed from here on
    sc2 = StreamingCrawl(spark, pages, str(tmp_path / "crash"), max_depth=2)
    sc2.run_to_exhaustion()

    assert {r["doc_id"] for r in sc2.docs().select("doc_id").collect()} == want_docs
    assert {r["url"] for r in sc2.seen().select("url").collect()} == want_seen
    # no duplicate documents from the replayed epoch
    assert sc2.docs().count() == len(want_docs)
    assert sc2.seen().count() == len(want_seen)


def test_stream_restart_rebuilds_filter_from_distinct_seen(
    spark, tmp_path, monkeypatch
):
    """A duplicate row in the seen directory (a replayed seen mark)
    must not put a second copy of its key into the filter rebuilt on
    restart: the insert-once contract is what lets ONE cuckoo_delete
    (plans/recrawl.forget_expired) forget the URL exactly.  The keys
    handed to cuckoo_add are checked directly, because the shard
    kernel's own intra-batch dedup would otherwise mask a duplicate."""
    import pyspark.sql.functions as F

    from crawl4ai_spark.operators import cuckoo as C
    from crawl4ai_spark.streaming import crawl_stream

    pages = spark.createDataFrame(synthetic_pages_pdf(WEB)).cache()
    workdir = str(tmp_path / "dup")
    sc = StreamingCrawl(spark, pages, workdir, max_depth=0)
    sc.seed(seed_urls(WEB, 3))
    sc.run_to_exhaustion()
    url = sorted(r["url"] for r in sc.seen().collect())[0]
    spark.createDataFrame([(url,)], "url string").write.mode("append").parquet(sc.seen_dir)
    assert sc.seen().filter(F.col("url") == url).count() == 2

    # restart on the same workdir; record the keys the rebuild inserts
    inserted = []
    real_add = crawl_stream.cuckoo_add

    def recording_add(filt, keys, *a, **kw):
        inserted.extend(r[0] for r in keys.collect())
        return real_add(filt, keys, *a, **kw)

    monkeypatch.setattr(crawl_stream, "cuckoo_add", recording_add)
    sc2 = StreamingCrawl(spark, pages, workdir, max_depth=0)
    monkeypatch.undo()
    assert len(inserted) == len(set(inserted)) == 3

    key = spark.createDataFrame([(url,)], "url string").select(
        F.xxhash64("url").alias("h")
    )
    filt = C.cuckoo_delete(sc2._cuckoo, key, hash_col="h")
    probed = C.cuckoo_probe_cogroup(key, filt, hash_col="h").collect()
    assert probed[0]["maybe_seen"] is False
