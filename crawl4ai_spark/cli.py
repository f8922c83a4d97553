"""Command-line surface — the reference `crwl` verbs on Spark.

Clean-room re-expression of the reference CLI's in-scope commands
(/root/reference/crawl4ai/cli.py: `crawl` :1004-1060 with
--deep-crawl/--max-pages/--output/-c key=value overrides :108-131,
`examples` :1257-1260; the naked-URL shorthand `crwl URL` :1466):

    python -m crawl4ai_spark.cli crawl URL [--deep-crawl bfs|dfs|
        best-first] [--max-pages N] [--max-depth N]
        [-o all|json|markdown|md|markdown-fit|md-fit] [-O file]
        [-c key=value,key2=value2] [--respect-robots] [-v]
    python -m crawl4ai_spark.cli seed SITEMAP_URL [--pattern GLOB]
        [--query TEXT] [--max-urls N] [-O file]
    python -m crawl4ai_spark.cli examples
    python -m crawl4ai_spark.cli URL          # shorthand for `crawl URL`

Out-of-scope verbs (browser/profiles/cdp — Playwright management) are
rejected with an explanatory message, mirroring SURVEY §2's S6 scope
line.  The fetch path is the real-socket Urllib transport (http/https/
file/raw), so the CLI works against any reachable site — in-sandbox,
a localhost server or file:// paths.

Single-page crawl and deep crawl run through the SAME engine surfaces
a cluster job uses (fetch UDF + fused extract UDF; CrawlEngine with
the transport seam for deep crawls) — the CLI is a thin driver, not a
second implementation.
"""

from __future__ import annotations

import argparse
import dataclasses
import json
import sys

_OUT_CHOICES = ["all", "json", "markdown", "md", "markdown-fit", "md-fit"]
_DEEP_MODES = {"bfs": "bfs", "dfs": "dfs", "best-first": "best_first"}
_OUT_OF_SCOPE = {
    "browser": "browser management (Playwright) — S6, out of scope on Spark",
    "profiles": "browser profiles (Playwright) — S6, out of scope on Spark",
    "cdp": "Chrome DevTools protocol — S6, out of scope on Spark",
}


def parse_key_values(s: str | None) -> dict:
    """`key1=value1,key2=value2` → typed dict (reference
    parse_key_values, cli.py:108-131: bools/ints/floats coerced,
    quotes stripped)."""
    out: dict = {}
    if not s:
        return out
    for part in s.split(","):
        part = part.strip()
        if not part:
            continue
        if "=" not in part:
            raise SystemExit(f"invalid -c entry {part!r}: expected key=value")
        k, v = part.split("=", 1)
        v = v.strip().strip("\"'")
        if v.lower() in ("true", "false"):
            out[k.strip()] = v.lower() == "true"
        else:
            try:
                out[k.strip()] = int(v)
            except ValueError:
                try:
                    out[k.strip()] = float(v)
                except ValueError:
                    out[k.strip()] = v
    return out


def _get_spark(cpus: int):
    from crawl4ai_spark import get_spark

    return get_spark(master=f"local[{cpus}]", shuffle_partitions=cpus)


def _transport_factory():
    from crawl4ai_spark.sources.fetch import UrllibTransport

    return UrllibTransport(timeout=30.0)


def _fetch_robots(url: str) -> tuple[str, str]:
    """(host, robots.txt rules) for the URL's host — driver-side one
    small fetch; missing/failed robots ⇒ empty rules (allow-all, the
    reference default)."""
    from urllib.parse import urlparse

    from crawl4ai_spark.sources.fetch import UrllibTransport

    p = urlparse(url)
    res = UrllibTransport(timeout=10.0).fetch_batch(
        [f"{p.scheme}://{p.netloc}/robots.txt"]
    )[0]
    return p.netloc, res.html if res.status_code == 200 and res.html else ""


def _emit(text: str, output_file: str | None) -> None:
    if output_file:
        with open(output_file, "w") as f:
            f.write(text)
    else:
        sys.stdout.write(text)
        if not text.endswith("\n"):
            sys.stdout.write("\n")


def _format_doc(row, output: str) -> str:
    """One fetched+extracted row → the requested output form."""
    ex = row["ex"]
    if output in ("markdown", "md"):
        return ex["raw_markdown"] or ""
    if output in ("markdown-fit", "md-fit"):
        return row["fit_markdown"] or ""
    doc = {
        "url": row["url"],
        "status_code": row["status"],
        "success": bool(ex["success"]),
        "metadata": dict(ex["metadata"] or {}),
        "markdown": ex["raw_markdown"],
        "markdown_with_citations": ex["markdown_with_citations"],
        "links": [u for u in (ex["pl_abs"] or []) if u],
        "spans": [
            {"kind": k, "text": t, "media_ref": r, "offset": o}
            for k, t, r, o in zip(
                ex["span_kinds"] or [], ex["span_texts"] or [],
                ex["span_refs"] or [], ex["span_offsets"] or [],
            )
        ],
    }
    if output == "json":
        return json.dumps(doc)
    # "all": markdown then the json record (reference prints both)
    return (ex["raw_markdown"] or "") + "\n---\n" + json.dumps(doc)


def cmd_crawl(args) -> None:
    import pyspark.sql.functions as F

    spark = _get_spark(args.cpus)
    overrides = parse_key_values(args.crawler)

    if args.deep_crawl:
        from crawl4ai_spark.plans.config import CrawlConfig
        from crawl4ai_spark.plans.crawl import CrawlEngine

        if args.output in ("markdown-fit", "md-fit"):
            # the engine's docs carry spans+markdown, not raw html, so
            # the pruning filter has nothing to re-walk — fail loudly
            # instead of silently emitting unpruned output
            raise SystemExit(
                "-o md-fit is not supported with --deep-crawl "
                "(fit markdown needs the raw html; use the single-page "
                "form per URL)"
            )
        cfg_kw = dict(
            mode=_DEEP_MODES[args.deep_crawl],
            max_depth=args.max_depth,
            max_pages=args.max_pages,
            respect_robots=args.respect_robots,
            max_iterations=max(50, 4 * args.max_depth),
        )
        valid = sorted(f.name for f in dataclasses.fields(CrawlConfig))
        unknown = sorted(set(overrides) - set(valid))
        if unknown:
            raise SystemExit(
                f"unknown -c key(s) {', '.join(unknown)} for --deep-crawl; "
                f"valid keys: {', '.join(valid)}"
            )
        cfg_kw.update(overrides)
        cfg = CrawlConfig(**cfg_kw)
        robots = None
        if args.respect_robots:
            # fetch /robots.txt for the seed host driver-side (one
            # small dim row — the engine broadcasts it)
            host_, rules_ = _fetch_robots(args.url)
            robots = spark.createDataFrame(
                [(host_, rules_)], "host string, rules string"
            )
        engine = CrawlEngine(
            spark, cfg, None, robots,
            transport_factory=_transport_factory,
            transport_cache_key="cli-urllib",
        )
        result = engine.run([args.url])
        rows = result.docs.select("doc_id", "spans", "raw_markdown").collect()

        def _doc_json(r) -> str:
            return json.dumps({
                "url": r["doc_id"],
                "markdown": r["raw_markdown"],
                "spans": [
                    {"kind": s["kind"], "text": s["text"],
                     "media_ref": s["media_ref"], "offset": s["offset"]}
                    for s in (r["spans"] or [])
                ],
            })

        if args.output in ("markdown", "md"):
            text = "\n\n".join(
                f"# {r['doc_id']}\n{r['raw_markdown'] or ''}" for r in rows
            )
        elif args.output == "json":
            text = "\n".join(_doc_json(r) for r in rows)
        else:  # "all": per-doc markdown + json record (single-page form)
            text = "\n".join(
                f"# {r['doc_id']}\n{r['raw_markdown'] or ''}\n---\n"
                + _doc_json(r)
                for r in rows
            )
        _emit(text, args.output_file)
        if args.verbose:
            print(f"# crawled {result.state.pages_crawled} pages",
                  file=sys.stderr)
        return

    # single page: url → fetch UDF → fused extract UDF (the engine's
    # real-fetch plan shape at batch size 1)
    from crawl4ai_spark.plans.crawl import make_step_udf
    from crawl4ai_spark.sources.fetch import make_fetch_udf
    from urllib.parse import urlparse

    host = urlparse(args.url).netloc
    fetch = make_fetch_udf(_transport_factory, cache_key="cli-urllib")
    robots_map = None
    if args.respect_robots:
        # robots gate in the step UDF's closure (the engine's J4
        # path): a disallowed page reports robots_ok=False
        h_, rules_ = _fetch_robots(args.url)
        robots_map = {h_: rules_}
    step = make_step_udf(robots_map, overrides.get("user_agent", "crawl4ai-spark"))
    df = (
        spark.createDataFrame([(args.url,)], "url string")
        .select("url", fetch(F.col("url")).alias("f"))
        .select(
            "url",
            F.col("f.status_code").alias("status"),
            F.col("f.error").alias("error"),
            step(
                F.col("url"), F.lit(host), F.coalesce("f.final_url", "url"),
                F.col("f.html"), F.col("f.status_code"),
            ).alias("ex"),
        )
    )
    if args.output in ("markdown-fit", "md-fit"):
        # E5 pruning filter over the fetched html (same UDF the
        # fit_markdown oracle query uses)
        from crawl4ai_spark.extraction.pruning import make_fit_markdown_udf

        df = (
            spark.createDataFrame([(args.url,)], "url string")
            .select("url", fetch(F.col("url")).alias("f"))
            .select(
                "url",
                F.col("f.status_code").alias("status"),
                F.col("f.error").alias("error"),
                step(
                    F.col("url"), F.lit(host), F.coalesce("f.final_url", "url"),
                    F.col("f.html"), F.col("f.status_code"),
                ).alias("ex"),
                make_fit_markdown_udf()(F.col("url"), F.col("f.html"))
                .alias("fit_markdown"),
            )
        )
    else:
        df = df.withColumn("fit_markdown", F.lit(None).cast("string"))
    row = df.collect()[0]
    if row["error"] and not row["ex"]["success"]:
        print(f"# fetch error: {row['error']}", file=sys.stderr)
        sys.exit(2)
    if args.respect_robots and row["ex"]["robots_ok"] is False:
        print(f"# blocked by robots.txt: {args.url}", file=sys.stderr)
        sys.exit(2)
    _emit(_format_doc(row, args.output), args.output_file)


def cmd_seed(args) -> None:
    """Sitemap seeding (async_url_seeder semantics via
    sources/sitemap.seed_urls_pipeline): live-fetch the root sitemap +
    nested indexes driver-side (they are few and small), then run the
    distributed filter/pattern/rank pipeline."""
    from urllib.parse import urlparse

    from crawl4ai_spark.sources.fetch import UrllibTransport
    from crawl4ai_spark.sources.sitemap import parse_sitemap_py, seed_urls_pipeline

    t = UrllibTransport(timeout=15.0)
    fetched: dict[str, str] = {}
    frontier = [args.sitemap_url]
    for _ in range(4):  # nested-index recursion bound (S3)
        batch = [u for u in frontier if u not in fetched]
        if not batch:
            break
        frontier = []
        for u, res in zip(batch, t.fetch_batch(batch)):
            if res.status_code == 200 and res.html:
                fetched[u] = res.html
                frontier += [
                    e["loc"] for e in parse_sitemap_py(res.html)
                    if e["kind"] == "sitemap"
                ]
    if not fetched:
        print(f"# could not fetch sitemap {args.sitemap_url}", file=sys.stderr)
        sys.exit(2)

    spark = _get_spark(args.cpus)
    sitemaps = spark.createDataFrame(
        list(fetched.items()), "url string, xml string"
    )
    out = seed_urls_pipeline(
        spark, sitemaps, [args.sitemap_url],
        query=args.query, pattern=args.pattern, max_urls=args.max_urls,
    )
    urls = [r["url"] for r in out.select("url").collect()]
    _emit("\n".join(urls), args.output_file)
    host = urlparse(args.sitemap_url).netloc
    print(f"# {len(urls)} urls seeded from {host}", file=sys.stderr)


EXAMPLES = """\
# Single page -> markdown
python -m crawl4ai_spark.cli crawl https://example.com -o markdown

# Single page -> pruned fit markdown
python -m crawl4ai_spark.cli crawl https://example.com -o md-fit

# Deep crawl, BFS, 10 pages max, JSON-lines out
python -m crawl4ai_spark.cli crawl https://example.com \\
    --deep-crawl bfs --max-pages 10 -o json -O docs.jsonl

# Engine overrides (reference -c key=value syntax)
python -m crawl4ai_spark.cli crawl https://example.com \\
    --deep-crawl best-first -c base_budget=8,global_budget=64

# Sitemap seeding with a glob pattern and relevance query
python -m crawl4ai_spark.cli seed https://example.com/sitemap.xml \\
    --pattern '*/blog/*' --query 'spark tuning' --max-urls 500

# file:// works too (no network needed)
python -m crawl4ai_spark.cli crawl file:///tmp/page.html -o md
"""


def cmd_examples(_args) -> None:
    print(EXAMPLES)


def build_parser() -> argparse.ArgumentParser:
    ap = argparse.ArgumentParser(
        prog="crawl4ai_spark.cli",
        description="Crawl4AI-on-Spark command line",
    )
    sub = ap.add_subparsers(dest="command")

    c = sub.add_parser("crawl", help="crawl a URL (optionally deep)")
    c.add_argument("url")
    c.add_argument("--deep-crawl", choices=sorted(_DEEP_MODES))
    c.add_argument("--max-pages", type=int, default=10)  # reference default
    c.add_argument("--max-depth", type=int, default=2)
    c.add_argument("-o", "--output", choices=_OUT_CHOICES, default="all")
    c.add_argument("-O", "--output-file")
    c.add_argument("-c", "--crawler", help="key1=value1,key2=value2 "
                   "CrawlConfig overrides")
    c.add_argument("--respect-robots", action="store_true")
    c.add_argument("-v", "--verbose", action="store_true")
    c.add_argument("--cpus", type=int, default=4)
    c.set_defaults(func=cmd_crawl)

    s = sub.add_parser("seed", help="sitemap URL seeding")
    s.add_argument("sitemap_url")
    s.add_argument("--pattern")
    s.add_argument("--query")
    s.add_argument("--max-urls", type=int, default=10_000)
    s.add_argument("-O", "--output-file")
    s.add_argument("--cpus", type=int, default=4)
    s.set_defaults(func=cmd_seed)

    e = sub.add_parser("examples", help="show usage examples")
    e.set_defaults(func=cmd_examples)
    return ap


def main(argv: list[str] | None = None) -> None:
    argv = list(sys.argv[1:] if argv is None else argv)
    if argv and argv[0] in _OUT_OF_SCOPE:
        print(f"# {argv[0]!r} is not available: {_OUT_OF_SCOPE[argv[0]]}",
              file=sys.stderr)
        sys.exit(3)
    # reference shorthand: a naked URL implies `crawl URL` (cli.py:1466)
    if argv and ("://" in argv[0] or argv[0].startswith("raw:")):
        argv.insert(0, "crawl")
    ap = build_parser()
    args = ap.parse_args(argv)
    if not getattr(args, "command", None):
        ap.print_help()
        sys.exit(1)
    args.func(args)


if __name__ == "__main__":
    main()
