"""CLI surface (crawl4ai_spark/cli): the reference `crwl` verbs on
Spark — single-page crawl, deep crawl, sitemap seed, key=value
overrides, the naked-URL shorthand, and out-of-scope rejection."""

import json
import os
import subprocess
import sys
import threading
from http.server import SimpleHTTPRequestHandler, ThreadingHTTPServer

import pytest

from crawl4ai_spark.cli import parse_key_values

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _run(args, timeout=300):
    return subprocess.run(
        [sys.executable, "-m", "crawl4ai_spark.cli", *args],
        capture_output=True, text=True, timeout=timeout, cwd=REPO,
    )


def test_parse_key_values():
    assert parse_key_values("a=1,b=2.5,c=true,d=x y,e='q'") == {
        "a": 1, "b": 2.5, "c": True, "d": "x y", "e": "q"
    }
    assert parse_key_values(None) == {}
    with pytest.raises(SystemExit):
        parse_key_values("novalue")


def test_out_of_scope_verbs():
    for verb in ("browser", "profiles", "cdp"):
        r = _run([verb], timeout=60)
        assert r.returncode == 3 and "out of scope" in r.stderr


@pytest.fixture(scope="module")
def site(tmp_path_factory):
    d = tmp_path_factory.mktemp("cli_site")
    for i in range(6):
        links = "".join(
            f'<a href="/page_{j}.html">page {j}</a>'
            for j in (i + 1, i + 2) if j < 6
        )
        (d / f"page_{i}.html").write_text(
            f"<html><head><title>Page {i}</title></head><body>"
            f"<h1>Page {i}</h1><p>spark text {i}</p>{links}</body></html>"
        )
    handler = lambda *a, **k: SimpleHTTPRequestHandler(  # noqa: E731
        *a, directory=str(d), **k
    )
    srv = ThreadingHTTPServer(("127.0.0.1", 0), handler)
    port = srv.server_address[1]
    (d / "sitemap.xml").write_text(
        '<?xml version="1.0"?>'
        '<urlset xmlns="http://www.sitemaps.org/schemas/sitemap/0.9">'
        + "".join(
            f"<url><loc>http://127.0.0.1:{port}/page_{i}.html</loc></url>"
            for i in range(6)
        )
        + "</urlset>"
    )
    threading.Thread(target=srv.serve_forever, daemon=True).start()
    yield port
    srv.shutdown()


@pytest.mark.parametrize("output", ["markdown", "md-fit"])
def test_single_page_markdown_file_url(tmp_path, output):
    page = tmp_path / "p.html"
    page.write_text(
        "<html><head><title>T</title></head><body>"
        '<nav><a href="/a">Home</a> | <a href="/b">About</a></nav>'
        "<h1>Hello CLI</h1><p>body text</p>"
        "<footer>Copyright footer</footer></body></html>"
    )
    # naked-URL shorthand implies `crawl` (reference cli.py:1466)
    r = _run([f"file://{page}", "-o", output])
    assert r.returncode == 0, r.stderr[-2000:]
    assert "# Hello CLI" in r.stdout and "body text" in r.stdout
    # md-fit's pruning filter drops the nav and footer
    keeps_boilerplate = output == "markdown"
    assert ("Copyright footer" in r.stdout) is keeps_boilerplate
    assert ("[Home](/a)" in r.stdout) is keeps_boilerplate


def test_deep_crawl_json_lines(site):
    r = _run([
        "crawl", f"http://127.0.0.1:{site}/page_0.html",
        "--deep-crawl", "bfs", "--max-pages", "4", "--max-depth", "3",
        "-o", "json", "-c", "base_budget=8",
    ])
    assert r.returncode == 0, r.stderr[-2000:]
    docs = [json.loads(l) for l in r.stdout.strip().splitlines() if l]
    assert len(docs) == 4
    urls = {d["url"] for d in docs}
    assert f"http://127.0.0.1:{site}/page_0.html" in urls
    for d in docs:
        assert d["spans"] and d["markdown"].startswith("# Page")


def test_seed_sitemap(site):
    r = _run([
        "seed", f"http://127.0.0.1:{site}/sitemap.xml",
        "--pattern", "*page_*", "--max-urls", "3",
    ])
    assert r.returncode == 0, r.stderr[-2000:]
    urls = [u for u in r.stdout.strip().splitlines() if u]
    assert len(urls) == 3
    assert all(f"127.0.0.1:{site}/page_" in u for u in urls)
    assert "3 urls seeded" in r.stderr


def test_deep_crawl_rejects_md_fit(site):
    r = _run([
        "crawl", f"http://127.0.0.1:{site}/page_0.html",
        "--deep-crawl", "bfs", "-o", "md-fit",
    ], timeout=120)
    assert r.returncode != 0
    assert "not supported with --deep-crawl" in r.stderr


def test_deep_crawl_rejects_unknown_config_key(site):
    r = _run([
        "crawl", f"http://127.0.0.1:{site}/page_0.html",
        "--deep-crawl", "bfs", "-c", "max_page=5",
    ], timeout=120)
    assert r.returncode != 0
    assert "unknown -c key(s) max_page" in r.stderr
    assert "valid keys:" in r.stderr and "max_pages" in r.stderr
    assert "Traceback" not in r.stderr


def test_single_page_respects_robots(site, tmp_path_factory):
    """--respect-robots on the single-page path gates the output: a
    disallowed page exits 2 with a block message."""
    d = tmp_path_factory.mktemp("robots_site")
    (d / "secret.html").write_text(
        "<html><head><title>S</title></head><body><h1>Secret</h1></body></html>"
    )
    (d / "robots.txt").write_text("User-agent: *\nDisallow: /secret\n")
    handler = lambda *a, **k: SimpleHTTPRequestHandler(  # noqa: E731
        *a, directory=str(d), **k
    )
    srv = ThreadingHTTPServer(("127.0.0.1", 0), handler)
    port = srv.server_address[1]
    threading.Thread(target=srv.serve_forever, daemon=True).start()
    try:
        r = _run(["crawl", f"http://127.0.0.1:{port}/secret.html",
                  "--respect-robots", "-o", "md"])
        assert r.returncode == 2 and "blocked by robots.txt" in r.stderr
        # without the flag the page crawls fine
        r2 = _run(["crawl", f"http://127.0.0.1:{port}/secret.html", "-o", "md"])
        assert r2.returncode == 0 and "# Secret" in r2.stdout
    finally:
        srv.shutdown()


def test_seed_query_ranks_by_url_relevance(site):
    """--query without head texts ranks by the R10 URL-relevance
    fallback instead of silently ignoring the query."""
    r = _run([
        "seed", f"http://127.0.0.1:{site}/sitemap.xml",
        "--query", "page_3", "--max-urls", "2",
    ])
    assert r.returncode == 0, r.stderr[-2000:]
    urls = [u for u in r.stdout.strip().splitlines() if u]
    assert urls and urls[0].endswith("page_3.html")
