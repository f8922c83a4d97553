"""Per-layer measurements taken from outside the program: a timing
wrapper around the SnapshotStore the engine is given, and single-
process replays of the per-page Python the fused step UDF runs."""

from __future__ import annotations

import time

from crawl4ai_spark.extraction.udfs import extract_one
from crawl4ai_spark.functions.urlnorm import canonicalize_for_crawl, get_host
from crawl4ai_spark.plans.state import SnapshotStore
from crawl4ai_spark.sources.robots import build_parser


class TimedStore(SnapshotStore):
    """SnapshotStore that records the wall-clock of each commit and the
    bytes each commit's snapshot holds (from the manifest's per-file
    lineage)."""

    def __init__(self, root: str, keep_snapshots: int = 2) -> None:
        super().__init__(root, keep_snapshots)
        self.commit_s: list[float] = []
        self.commit_bytes: list[int] = []

    def commit(self, snapshot_id, tables, metrics=None, state=None) -> None:
        t0 = time.perf_counter()
        super().commit(snapshot_id, tables, metrics, state)
        self.commit_s.append(time.perf_counter() - t0)
        self.commit_bytes.append(self.snapshot_bytes())

    def snapshot_bytes(self) -> int:
        m = self.read_manifest() or {"tables": {}}
        return sum(f["bytes"] for t in m["tables"].values() for f in t["files"])


def replay_pages(pages: dict[str, dict], robots: dict[str, str], user_agent: str,
                 sample: int = 150) -> dict[str, float]:
    """Time the step UDF's per-page work on the first `sample` fetchable
    pages of the generated corpus (by page id), one call at a time:
    extraction, link canonicalization + host, and the robots check of
    each link on a host with rules (parsers built once per host, as the
    UDF caches them)."""
    rows = sorted((p for p in pages.values() if p["status_code"] == 200),
                  key=lambda p: p["page_id"])[:sample]
    parsers = {h: build_parser(r) for h, r in robots.items() if r and r.strip()}
    extract_s = canon_s = robots_s = 0.0
    n_spans = n_links = n_checks = 0
    for p in rows:
        t0 = time.perf_counter()
        ex = extract_one(p["url"], p["html"])
        extract_s += time.perf_counter() - t0
        n_spans += len(ex["spans"])
        hrefs = [link["href"] for link in ex["links"] if isinstance(link["href"], str)]
        t0 = time.perf_counter()
        canon = [c for c in (canonicalize_for_crawl(h, p["url"]) for h in hrefs) if c]
        hosted = [(c, get_host(c)) for c in canon]
        canon_s += time.perf_counter() - t0
        n_links += len(hrefs)
        checks = [(parsers[h], c) for c, h in hosted if h in parsers]
        t0 = time.perf_counter()
        for parser, c in checks:
            parser.can_fetch(user_agent, c)
        robots_s += time.perf_counter() - t0
        n_checks += len(checks)
    n = max(1, len(rows))
    return {
        "extract_ms_per_page": 1000.0 * extract_s / n,
        "spans_per_page": n_spans / n,
        "canonicalize_us_per_link": 1e6 * canon_s / max(1, n_links),
        "links_per_page": n_links / n,
        "robots_us_per_check": 1e6 * robots_s / max(1, n_checks),
        "robots_checks_per_page": n_checks / n,
    }
