"""Correctness of one crawl: the engine's result tables against the
pure-Python simulator run on the same generated inputs, field by field
as tests/test_crawl_parity.py compares them, plus a read-back of a
committed snapshot of the result."""

from __future__ import annotations

import time
from dataclasses import dataclass

import pyarrow.compute as pc

from crawl4ai_spark.plans.config import CrawlConfig
from crawl4ai_spark.plans.crawl import CrawlResultTables
from crawl4ai_spark.plans.state import SnapshotStore
from crawl4ai_spark.testing.simulator import SimResult

_LOG_COLS = ("iteration", "url", "depth", "score", "parent_url", "seq", "outcome")


@dataclass
class Counts:
    """Work counts of one crawl; they repeat exactly for one seed."""
    supersteps: int
    admitted: int
    pages: int
    frontier_rows: int
    seen: int


def _rows(df) -> list[dict]:
    """Collect flat rows through Arrow (faster than Row objects)."""
    return df.toArrow().to_pylist()


def _docs(df) -> dict[str, list[tuple]]:
    """doc_id -> [(kind, text, media_ref, offset), ...], unpacked column
    by column: per-row conversion of the nested spans of rich docs
    costs seconds."""
    t = df.select("doc_id", "spans").toArrow()
    spans = t.column("spans").combine_chunks()
    lengths = pc.list_value_length(spans).to_pylist()
    flat = pc.list_flatten(spans)
    tuples = list(zip(*(flat.field(k).to_pylist()
                        for k in ("kind", "text", "media_ref", "offset"))))
    docs, i = {}, 0
    for doc_id, n in zip(t.column("doc_id").to_pylist(), lengths):
        docs[doc_id] = tuples[i:i + n]
        i += n
    return docs


def compare(res: CrawlResultTables, sim: SimResult, cfg: CrawlConfig) -> tuple[list[str], Counts]:
    """Mismatches between engine and simulator (empty when equal)."""
    bad: list[str] = []
    log = sorted(_rows(res.crawl_log.select("batch_rank", *_LOG_COLS)),
                 key=lambda r: (r["iteration"], r["batch_rank"]))
    got = [tuple(round(r[c], 9) if c == "score" else r[c] for c in _LOG_COLS) for r in log]
    exp = [tuple(round(o[c], 9) if c == "score" else o[c] for c in _LOG_COLS)
           for o in sim.crawl_order]
    if got != exp:
        bad.append(f"crawl order: {len(got)} log rows vs {len(exp)} simulated")

    seen = set(res.seen.select("url").toArrow().column("url").to_pylist())
    if seen != sim.seen:
        bad.append("seen set")

    docs = _docs(res.docs)
    if docs != sim.docs:
        bad.append(f"docs spans: {len(docs)} docs vs {len(sim.docs)} simulated")

    frontier = {
        r["url"]: (r["status"], r["depth"], r["seq"], r["retry_count"])
        for r in _rows(res.frontier.select("url", "status", "depth", "seq", "retry_count"))
    }
    expected_frontier = {
        e.url: (e.status, e.depth, e.seq, e.retry_count) for e in sim.frontier.values()
    }
    if frontier != expected_frontier:
        bad.append("frontier terminal status")

    if cfg.track_host_state:
        got_hs = {h: (round(d, 9), f) for h, (d, f) in res.state.host_state.items()}
        exp_hs = {h: (round(d, 9), f) for h, (d, f) in sim.host_state.items()}
        if got_hs != exp_hs:
            bad.append("host state")

    if res.state.iteration != sim.iterations:
        bad.append(f"supersteps {res.state.iteration} vs {sim.iterations}")
    if res.state.pages_crawled != sim.pages_crawled:
        bad.append(f"pages_crawled {res.state.pages_crawled} vs {sim.pages_crawled}")
    counts = Counts(supersteps=res.state.iteration, admitted=len(log),
                    pages=res.state.pages_crawled, frontier_rows=len(frontier),
                    seen=len(seen))
    return bad, counts


def check_snapshot(spark, store: SnapshotStore, want: dict[str, int]) -> tuple[list[str], float]:
    """Load each table of the store's latest snapshot and count its
    rows.  Returns the mismatches against `want` (table -> rows) and
    the seconds the loads and counts took: the snapshot read path."""
    bad = []
    t0 = time.perf_counter()
    for name, rows in want.items():
        df = store.load(spark, name)
        got = None if df is None else df.count()
        if got != rows:
            bad.append(f"snapshot {name}: {got} rows vs {rows}")
    return bad, time.perf_counter() - t0
