"""The benchmark's workloads: crawls of the deterministic synthetic web.

Each workload fixes the shape of the web and of the crawl; the run's
--seed picks the web itself, so one seed always gives the same pages,
links, faults and robots rules.  Why each workload exists is in
README.md next to this file.
"""

from __future__ import annotations

from dataclasses import dataclass

from crawl4ai_spark.plans.config import CrawlConfig
from crawl4ai_spark.sources.synthetic_web import (
    WebConfig,
    robots_rows,
    seed_urls,
    synthetic_pages_pdf,
)


@dataclass(frozen=True)
class Workload:
    name: str
    why: str
    n_pages: int
    n_hosts: int
    richness: int
    n_seeds: int
    cfg: CrawlConfig
    # True: the engine gets the SnapshotStore and its final commit is
    # inside the crawl window.  False: the engine runs without a store,
    # and the benchmark commits the last crawl's result after the window.
    commit_in_window: bool

    def web(self, seed: int) -> WebConfig:
        return WebConfig(n_pages=self.n_pages, n_hosts=self.n_hosts,
                         seed=seed, richness=self.richness)


# Both crawls stop on a superstep count, not on a page count: every seed
# then admits the same number of pages per superstep and runs the same
# number of supersteps, so seeds differ only in which pages they fetch.
WORKLOADS: dict[str, Workload] = {
    w.name: w
    for w in [
        Workload(
            name="bulk_extract",
            why="rich pages in two 512-page supersteps, no commit in the window: per-page "
                "work (extraction, link prep, robots, Arrow transfer) fills most slot time",
            n_pages=1300, n_hosts=16, richness=16, n_seeds=512,
            # bench.py's throughput mode: per-host budgets that provably
            # never bind, no host-state tracking, no retries of 429/503
            cfg=CrawlConfig(
                mode="best_first", max_depth=256, base_budget=512 * 64,
                global_budget=512, max_retries=0, max_iterations=2,
                track_host_state=False,
            ),
            commit_in_window=False,
        ),
        Workload(
            name="deep_frontier",
            why="thin pages, 64-page batches under binding per-host budgets with "
                "429/503 backoff, 3 supersteps and a commit: fixed driver work dominates",
            n_pages=1200, n_hosts=16, richness=1, n_seeds=64,
            cfg=CrawlConfig(
                mode="best_first", max_depth=256, base_budget=8,
                global_budget=64, max_delay=4.0, max_retries=1,
                max_iterations=3, track_host_state=True,
            ),
            commit_in_window=True,
        ),
    ]
}


@dataclass
class Inputs:
    """What one seed generates: the simulator gets the dicts, the
    engine gets the same pages generated distributedly."""
    web: WebConfig
    seeds: list[str]
    pages: dict[str, dict]
    robots: dict[str, str]


def make_inputs(w: Workload, seed: int) -> Inputs:
    web = w.web(seed)
    pages = {r["url"]: r for r in synthetic_pages_pdf(web).to_dict("records")}
    robots = {r["host"]: r["rules"] for r in robots_rows(web)}
    return Inputs(web=web, seeds=seed_urls(web, n_seeds=w.n_seeds),
                  pages=pages, robots=robots)
