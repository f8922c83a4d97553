#!/usr/bin/env python3
"""Localhost stress bench ≡ the reference's published benchmark tiers.

The reference's only performance artifact is URLs/sec over a locally
served generated site at 5 tiers (50→2000 URLs, 4→64 sessions:
/root/reference/tests/memory/run_benchmark.py:21-25, site generator
test_stress_sdk.py:51-106 — 5 paragraphs × 200 lorem words + 3 image
tags per page, an index page, `python -m http.server`).  This harness
reproduces that shape against THIS repo's fetch→extract path over real
sockets:

    urls ─repartition(max_sessions)─ fetch UDF (UrllibTransport,
        1 connection per task ⇒ total concurrency = max_sessions,
        the reference's max_session_permit analogue)
      → ONE fused extract UDF (make_step_udf: scrape→markdown→spans)
      → count + span stats

Same two-Arrow-node shape the engine uses at real-fetch time (paced
fetch UDF + step UDF).  The reference's RateLimiter is OFF by default
in its bench (test_stress_sdk.py:245 creates it only with
--use-rate-limiter); pass --paced to pace same-host fetches at the
reference default base delay midpoint instead.

Notes: aiohttp is absent in this sandbox, so the stdlib Urllib
transport is the real-socket path (the Aiohttp transport is the same
seam).  Tiers with max_sessions > cores are concurrency-capped by the
local[] master — reported per row.

Usage: python scripts/stress_bench.py [--tiers quick,small,...]
       [--paced] [--write]   (--write appends the table to
       BENCH/STRESS.md)
Prints one JSON line: {"tiers": {...}, "metric": "urls_per_sec"}.
"""

from __future__ import annotations

import argparse
import json
import os
import random
import socket
import sys
import tempfile
import threading
import time
from http.server import SimpleHTTPRequestHandler, ThreadingHTTPServer

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

# reference run_benchmark.py:21-25
TIERS = {
    "quick":   {"urls": 50,   "max_sessions": 4},
    "small":   {"urls": 100,  "max_sessions": 8},
    "medium":  {"urls": 500,  "max_sessions": 16},
    "large":   {"urls": 1000, "max_sessions": 32},
    "extreme": {"urls": 2000, "max_sessions": 64},
}

LOREM = "lorem ipsum dolor sit amet".split()


def generate_site(site_dir: str, page_count: int, seed: int = 42) -> None:
    """Reference site shape (test_stress_sdk.py:51-93), deterministic:
    5 paragraphs × 200 words + 3 <img> per page + an index of links."""
    rng = random.Random(seed)
    os.makedirs(site_dir, exist_ok=True)
    for i in range(page_count):
        paragraphs = "\n".join(
            "<p>" + " ".join(rng.choices(LOREM, k=200)) + "</p>" for _ in range(5)
        )
        images = "\n".join(
            f'<img src="/images/{rng.getrandbits(32):08x}.jpg" loading="lazy" '
            f'alt="Random image {j}"/>' for j in range(3)
        )
        html = (
            "<!doctype html>\n<html>\n<head>\n"
            f"    <title>Test Page {i}</title>\n    <meta charset=\"utf-8\">\n"
            "</head>\n<body>\n"
            f"    <h1>Test Page {i}</h1>\n    {paragraphs}\n    {images}\n"
            "</body>\n</html>\n"
        )
        with open(os.path.join(site_dir, f"page_{i}.html"), "w") as f:
            f.write(html)
    index = ["<!doctype html><html><head><title>Test Site Index</title>"
             "</head><body><h1>Test Site Index</h1>"]
    index += [f'<a href="page_{i}.html">Test Page {i}</a><br>'
              for i in range(page_count)]
    index.append("</body></html>")
    with open(os.path.join(site_dir, "index.html"), "w") as f:
        f.write("\n".join(index))


class _QuietHandler(SimpleHTTPRequestHandler):
    def log_message(self, *args):  # noqa: D102 — silence per-request logs
        pass


def serve(site_dir: str) -> tuple[ThreadingHTTPServer, int]:
    handler = lambda *a, **k: _QuietHandler(*a, directory=site_dir, **k)  # noqa: E731
    srv = ThreadingHTTPServer(("127.0.0.1", 0), handler)
    port = srv.server_address[1]
    t = threading.Thread(target=srv.serve_forever, daemon=True)
    t.start()
    return srv, port


def run_tier(spark, port: int, n_urls: int, max_sessions: int,
             paced: bool) -> dict:
    import pyspark.sql.functions as F

    from crawl4ai_spark.plans.crawl import make_step_udf
    from crawl4ai_spark.sources.fetch import (
        UrllibTransport, make_fetch_udf, make_paced_fetch_udf,
    )

    urls = [f"http://127.0.0.1:{port}/page_{i}.html" for i in range(n_urls)]
    df = spark.createDataFrame([(u,) for u in urls], "url string")
    if paced:
        # pacing is enforced per executor process — the engine routes
        # same-host URLs to one partition (repartition by host) before
        # the paced UDF so spacing is a true per-host wall-clock floor
        df = df.repartition(max_sessions, F.lit("127.0.0.1"))
    else:
        df = df.repartition(max_sessions)

    factory = lambda: UrllibTransport(timeout=30.0, max_connections=1)  # noqa: E731
    key = f"stress-{port}-{max_sessions}-{paced}"
    if paced:
        fetch = make_paced_fetch_udf(factory, cache_key=key)
        # reference RateLimiter base_delay=(0.1, 0.3) midpoint
        # (async_dispatcher.py:31) — same-host wall-clock spacing
        fetched = df.select(
            "url", fetch(F.col("url"), F.lit(0.2)).alias("f")
        )
    else:
        fetch = make_fetch_udf(factory, cache_key=key)
        fetched = df.select("url", fetch(F.col("url")).alias("f"))

    step = make_step_udf(None, "crawl4ai-spark-stress")
    ex = fetched.select(
        "url",
        F.col("f.status_code").alias("status"),
        step(
            F.col("url"), F.lit("127.0.0.1"), F.coalesce("f.final_url", "url"),
            F.col("f.html"), F.col("f.status_code"),
        ).alias("ex"),
    )

    t0 = time.monotonic()
    row = ex.select(
        F.count("*").alias("n"),
        F.sum(F.when(F.col("status") == 200, 1).otherwise(0)).alias("ok"),
        F.sum(F.when(F.col("ex.success"), 1).otherwise(0)).alias("extracted"),
        F.sum(F.size("ex.span_kinds")).alias("spans"),
    ).collect()[0]
    dt = time.monotonic() - t0
    return {
        "urls": n_urls,
        "max_sessions": max_sessions,
        "ok": int(row["ok"]),
        "extracted": int(row["extracted"]),
        "spans": int(row["spans"]),
        "sec": round(dt, 3),
        "urls_per_sec": round(n_urls / dt, 1),
    }


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--tiers", default="quick,small,medium,large,extreme")
    ap.add_argument("--paced", action="store_true")
    ap.add_argument("--write", action="store_true")
    ap.add_argument("--cpus", type=int,
                    default=int(os.environ.get("SPARK_GRAFT_CPUS", "32")))
    args = ap.parse_args()
    tiers = [t.strip() for t in args.tiers.split(",") if t.strip()]
    for t in tiers:
        if t not in TIERS:
            raise SystemExit(f"unknown tier {t!r} (choose from {list(TIERS)})")

    from crawl4ai_spark import get_spark

    max_pages = max(TIERS[t]["urls"] for t in tiers)
    site = tempfile.mkdtemp(prefix="stress_site_")
    generate_site(site, max_pages)
    srv, port = serve(site)

    spark = get_spark(master=f"local[{args.cpus}]",
                      shuffle_partitions=args.cpus)
    # warmup: JVM + Python workers + first socket (excluded from
    # timing) — at the LARGEST tier's session count so worker spawn
    # (one process per concurrent task) isn't billed to the first tier
    warm_sessions = min(max(TIERS[t]["max_sessions"] for t in tiers), args.cpus)
    run_tier(spark, port, 2 * warm_sessions, warm_sessions, args.paced)

    results = {}
    for t in tiers:
        cfg = TIERS[t]
        results[t] = run_tier(spark, port, cfg["urls"], cfg["max_sessions"],
                              args.paced)
        r = results[t]
        print(f"# {t:8s} {r['urls']:5d} urls, {r['max_sessions']:2d} sessions"
              f"{' (capped to ' + str(args.cpus) + ' cores)' if r['max_sessions'] > args.cpus else ''}:"
              f" {r['sec']:7.2f} s  {r['urls_per_sec']:8.1f} urls/s "
              f" ok={r['ok']} extracted={r['extracted']} spans={r['spans']}",
              file=sys.stderr)
    srv.shutdown()

    out = {"metric": "urls_per_sec", "paced": args.paced,
           "cpus": args.cpus, "tiers": results}
    print(json.dumps(out))

    if args.write:
        lines = [
            "",
            f"### Localhost stress tiers ({'paced' if args.paced else 'unpaced'}, "
            f"local[{args.cpus}], stdlib http.server + UrllibTransport)",
            "",
            "Reference harness shape: tests/memory/run_benchmark.py:21-25 "
            "(50→2000 URLs, 4→64 max sessions over a generated lorem site); "
            "rate limiter off by default like the reference bench.",
            "",
            "| tier | urls | sessions | sec | urls/s | extracted | spans |",
            "|---|---|---|---|---|---|---|",
        ]
        for t in tiers:
            r = results[t]
            lines.append(
                f"| {t} | {r['urls']} | {r['max_sessions']} | {r['sec']} "
                f"| {r['urls_per_sec']} | {r['extracted']} | {r['spans']} |"
            )
        with open(os.path.join(os.path.dirname(os.path.dirname(
                os.path.abspath(__file__))), "BENCH", "STRESS.md"), "a") as f:
            f.write("\n".join(lines) + "\n")


if __name__ == "__main__":
    main()
