"""P1 variant b: wall-clock same-host pacing inside the fetch UDF.

Asserts the reference RateLimiter.wait_if_needed contract
(async_dispatcher.py:45-63): consecutive SAME-HOST requests are spaced
>= the host's delay, while distinct hosts proceed concurrently (the
batch does not serialize globally).
"""

import functools
import os
import tempfile
import time

from pyspark.sql import functions as F

from crawl4ai_spark.testing.transports import RecordingTransport


def _run_paced(spark, rows, delay, log_path, key):
    from crawl4ai_spark.sources.fetch import make_paced_fetch_udf

    udf = make_paced_fetch_udf(
        functools.partial(RecordingTransport, log_path), cache_key=key
    )
    df = spark.createDataFrame(rows, "url string, delay double").coalesce(1)
    out = df.withColumn("_fr", udf(F.col("url"), F.col("delay")))
    return out.select("url", "_fr.status_code").collect()


def _read_log(log_path):
    events = []
    with open(log_path) as f:
        for line in f:
            ts, url = line.rstrip("\n").split("\t")
            events.append((float(ts), url))
    return events


def test_same_host_spacing(spark):
    delay = 0.25
    with tempfile.TemporaryDirectory() as d:
        log = os.path.join(d, "fetch.log")
        urls = [f"https://h0.test/p{i}" for i in range(4)]
        got = _run_paced(spark, [(u, delay) for u in urls], delay, log,
                         key=f"pace-test-{time.time()}")
        assert all(r["status_code"] == 200 for r in got)
        events = sorted(e for e in _read_log(log) if "h0.test" in e[1])
        assert len(events) == 4
        gaps = [b[0] - a[0] for a, b in zip(events, events[1:])]
        # spacing >= delay (small scheduling tolerance)
        assert all(g >= delay * 0.9 for g in gaps), gaps


def test_hosts_parallel_not_serialized(spark):
    delay = 0.3
    with tempfile.TemporaryDirectory() as d:
        log = os.path.join(d, "fetch.log")
        # 3 urls on each of 3 hosts: serialized would take >= 9*delay;
        # per-host pacing alone costs ~2*delay end to end
        rows = [(f"https://h{h}.test/p{i}", delay)
                for h in range(3) for i in range(3)]
        t0 = time.monotonic()
        _run_paced(spark, rows, delay, log, key=f"pace-par-{time.time()}")
        wall = time.monotonic() - t0
        events = _read_log(log)
        assert len(events) == 9
        # every host individually paced
        for h in range(3):
            ev = sorted(e for e in events if f"h{h}.test" in e[1])
            gaps = [b[0] - a[0] for a, b in zip(ev, ev[1:])]
            assert all(g >= delay * 0.9 for g in gaps), (h, gaps)
        # but hosts overlapped: the fetch span is far below the
        # fully-serialized 8*delay lower bound
        span = max(e[0] for e in events) - min(e[0] for e in events)
        assert span < 6 * delay, (span, wall)


def test_cache_hit_null_urls_skip_pacing(spark):
    delay = 5.0  # would blow the test timeout if nulls were paced
    with tempfile.TemporaryDirectory() as d:
        log = os.path.join(d, "fetch.log")
        rows = [(None, delay), (None, delay), ("https://h1.test/p0", 0.0)]
        got = _run_paced(spark, rows, delay, log, key=f"pace-null-{time.time()}")
        by_url = {r["url"]: r["status_code"] for r in got}
        assert by_url["https://h1.test/p0"] == 200


def test_engine_paced_parity(spark):
    """Pacing changes timing only: the paced engine produces the same
    crawl as the unpaced transport engine."""
    from crawl4ai_spark.plans.config import CrawlConfig
    from crawl4ai_spark.plans.crawl import CrawlEngine
    from crawl4ai_spark.sources.fetch import SyntheticTransport
    from crawl4ai_spark.sources.synthetic_web import (
        WebConfig, robots_rows, seed_urls, synthetic_pages_df,
    )

    web = WebConfig(n_pages=60, n_hosts=4, seed=7)
    pages = synthetic_pages_df(spark, web).cache()
    robots = spark.createDataFrame(robots_rows(web))
    corpus = {
        r["url"]: {"status_code": r["status_code"],
                   "redirect_to": r["redirect_to"], "html": r["html"]}
        for r in pages.collect()
    }
    cfg = CrawlConfig(mode="bfs", max_depth=2, max_pages=25, base_budget=4,
                      global_budget=12, max_iterations=10, base_delay=0.02)

    def run(paced: bool):
        eng = CrawlEngine(
            spark, cfg, pages, robots,
            transport_factory=functools.partial(SyntheticTransport, corpus),
            transport_cache_key=f"parity-{paced}-{time.time()}",
            pace_fetch=paced,
        )
        res = eng.run(seed_urls(web, 5))
        log = [
            (r["iteration"], r["url"], r["outcome"])
            for r in res.crawl_log.orderBy("iteration", "batch_rank").collect()
        ]
        return res.state.pages_crawled, log

    n_plain, log_plain = run(False)
    n_paced, log_paced = run(True)
    assert n_paced == n_plain
    assert log_paced == log_plain
