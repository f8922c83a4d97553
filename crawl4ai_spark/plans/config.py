"""CrawlConfig — one plain-data spec shared by the Spark engine and
the pure-Python parity simulator.

The engine's iteration semantics (what an "iteration" admits, how
retries/backoff/budgets work) are defined HERE, once, so that
plans.crawl and testing.simulator cannot drift apart.  Reference
anchors: BFS level loop bfs_strategy.py:142-192, best-first priority
pop bff_strategy.py:129-213 (lower score = higher priority), rate
limiter async_dispatcher.py:28-85 (backoff ×2 capped, decay ×0.75,
codes {429,503}, give up after 3 retries), robots gate
async_webcrawler.py:318-331.

Determinism deviations from the reference (pinned, tested):
- politeness jitter U(0.75,1.25) and base delay U(1,3) are replaced
  by fixed factors (jitter=1, base_delay=1.0) — parity is defined on
  admitted sets/ordering, not wall-clock (SURVEY.md §7.4.5);
- best-first discovers links at iteration (batch) granularity, the
  reference at result granularity within a batch of 10 — parity is
  defined at batch barriers (SURVEY.md §7.4.2).
"""

from __future__ import annotations

from dataclasses import dataclass, field
from typing import Any

BACKOFF_CODES = (429, 503)


@dataclass
class CrawlConfig:
    mode: str = "bfs"                       # 'bfs' | 'best_first'
    max_depth: int = 3
    max_pages: int = 1_000_000_000
    score_threshold: float = float("-inf")
    scorer: dict[str, Any] | None = None    # functions.specs scorer spec
    filters: list[dict[str, Any]] = field(default_factory=list)
    respect_robots: bool = True
    user_agent: str = "crawl4ai-spark"
    # politeness (per-iteration admission control, P1 in SURVEY §2.10)
    base_budget: int = 4       # admissions per host per iteration at base delay
    global_budget: int = 64    # admissions per iteration across all hosts
    base_delay: float = 1.0
    max_delay: float = 60.0
    backoff_factor: float = 2.0
    decay_factor: float = 0.75
    max_retries: int = 3
    max_iterations: int = 200
    # O5 dispatcher fairness aging (async_dispatcher.py:217-226):
    # an entry pending longer than this many iterations is promoted
    # with priority -wait (lower = higher priority); otherwise its
    # priority is retry_count.  None disables aging.
    fairness_timeout_iters: int | None = None
    # E4 markdown dialect of the docs table's markdown columns:
    # "house" (span-walker dialect, parity-pinned) or "html2text"
    # (the reference's html2text output conventions via
    # extraction.html2md).  Spans are identical either way.
    markdown_dialect: str = "house"
    # False = throughput mode: per-host backoff state is not
    # maintained (legitimate ONLY when budgets provably never bind —
    # host_budget shrinks at most ×(max_delay/base_delay), so
    # base_budget ≥ global_budget·max_delay/base_delay guarantees it).
    # Either way the host outcomes are observed on the step checkpoint;
    # False only skips the driver-side dict update.
    track_host_state: bool = True
    # Hot-host skew defense on the politeness admission window.  A
    # single Window.partitionBy(host) puts ALL of a host's pending
    # rows in one task — a 10^7-URL host serializes one straggler.
    # With S>1 the per-host cap runs in two EXACT phases: rank within
    # (host, pmod(url_hash, S)) keeping ≤ budget rows per salt group,
    # then the true host window over the survivors (≤ S·budget rows
    # per host).  Phase 1 never drops a winner: a row in the host's
    # true top-budget has < budget better-ranked rows on the whole
    # host, hence < budget in its own salt group.  None/≤1 = single
    # window (identical admitted set, parity-pinned either way).
    admission_salts: int | None = None

    def host_budget(self, current_delay: float) -> int:
        """Admissions this host gets this iteration: base_budget scaled
        down by its backoff level, never below 1 (a host always gets a
        retry slot; per-URL give-up is max_retries)."""
        return max(1, int(self.base_budget * self.base_delay / current_delay))

    def order_key_is_priority(self) -> bool:
        """best_first orders by (score asc, depth asc, seq asc) — the
        reference's min-heap with FIFO tiebreak; bfs orders by (depth
        asc, seq asc) — level discovery order."""
        return self.mode == "best_first"
