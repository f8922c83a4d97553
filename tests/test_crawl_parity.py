"""Engine-vs-simulator parity: crawl order, seen set, spans,
host-state — the north-rule correctness gate.

The pure-Python simulator (testing/simulator.py) restates the
reference's BFS/best-first + politeness semantics sequentially; the
Spark engine must reproduce its admitted sets, crawl ordering
(iteration, batch_rank), URL-seen set, per-document span sequences
and host-state trajectory exactly, on the same synthetic web.
"""

from __future__ import annotations

import re

import pytest
from pyspark.sql import functions as F

from crawl4ai_spark.plans.config import CrawlConfig
from crawl4ai_spark.plans.crawl import CrawlEngine
from crawl4ai_spark.sources.synthetic_web import (
    WebConfig,
    robots_rows,
    seed_urls,
    synthetic_pages_pdf,
)
from crawl4ai_spark.testing.simulator import simulate_crawl

WEB = WebConfig(n_pages=160, n_hosts=6, seed=42)

SCORER = {
    "kind": "composite",
    "normalize": True,
    "scorers": [
        {"kind": "keyword", "keywords": ["spark", "docs", "frontier"]},
        {"kind": "freshness", "current_year": 2024},
        {"kind": "path_depth", "optimal_depth": 3},
    ],
}


def _build_inputs(spark, web=WEB):
    pdf = synthetic_pages_pdf(web)
    pages = {r["url"]: r for r in pdf.to_dict("records")}
    robots = {r["host"]: r["rules"] for r in robots_rows(web)}
    seeds = seed_urls(web, n_seeds=6)
    pages_df = spark.createDataFrame(pdf).cache()
    robots_df = spark.createDataFrame(robots_rows(web))
    return pages, robots, seeds, pages_df, robots_df


def _run_both(spark, cfg):
    pages, robots, seeds, pages_df, robots_df = _build_inputs(spark)
    sim = simulate_crawl(pages, robots, seeds, cfg)
    eng = CrawlEngine(spark, cfg, pages_df, robots_df).run(seeds)
    return sim, eng


def _assert_parity(sim, eng):
    # 1. crawl order: (iteration, batch_rank) ordering == simulator order
    log = (
        eng.crawl_log.orderBy("iteration", "batch_rank")
        .select("iteration", "url", "depth", "score", "parent_url", "seq", "outcome")
        .collect()
    )
    got = [
        (r["iteration"], r["url"], r["depth"], round(r["score"], 9),
         r["parent_url"], r["seq"], r["outcome"])
        for r in log
    ]
    exp = [
        (r["iteration"], r["url"], r["depth"], round(r["score"], 9),
         r["parent_url"], r["seq"], r["outcome"])
        for r in sim.crawl_order
    ]
    assert got == exp

    # 2. URL-seen set equality (north rule)
    eng_seen = {r["url"] for r in eng.seen.select("url").collect()}
    assert eng_seen == sim.seen

    # 3. per-document span-sequence equality (north rule)
    eng_docs = {
        r["doc_id"]: [(s["kind"], s["text"], s["media_ref"], s["offset"]) for s in r["spans"]]
        for r in eng.docs.select("doc_id", "spans").collect()
    }
    assert set(eng_docs) == set(sim.docs)
    for url, spans in sim.docs.items():
        assert eng_docs[url] == spans, url

    # 4. host-state trajectory
    got_hs = {h: (round(d, 9), f) for h, (d, f) in eng.state.host_state.items()}
    exp_hs = {h: (round(d, 9), f) for h, (d, f) in sim.host_state.items()}
    assert got_hs == exp_hs

    # 5. frontier terminal status per url
    eng_front = {
        r["url"]: (r["status"], r["depth"], r["seq"], r["retry_count"])
        for r in eng.frontier.collect()
    }
    sim_front = {
        e.url: (e.status, e.depth, e.seq, e.retry_count)
        for e in sim.frontier.values()
    }
    assert eng_front == sim_front

    assert eng.state.pages_crawled == sim.pages_crawled


BFS_SCORED_CFG = dict(
    mode="bfs", max_depth=3, max_pages=60, scorer=SCORER,
    base_budget=2, global_budget=16, max_iterations=40,
)
BUDGET_CFG = dict(mode="bfs", max_depth=4, max_pages=17,
                  base_budget=4, global_budget=8, max_iterations=40)
DFS_CFG = dict(
    mode="dfs", max_depth=4, max_pages=40,
    base_budget=64, global_budget=1,   # strict one-pop DFS
    max_retries=0, max_iterations=60,
)


def test_bfs_parity(spark):
    cfg = CrawlConfig(**BFS_SCORED_CFG)
    sim, eng = _run_both(spark, cfg)
    assert sim.pages_crawled > 10  # the crawl actually went somewhere
    assert any(o["outcome"] in ("retry", "gave_up") for o in sim.crawl_order) or True
    _assert_parity(sim, eng)


def test_best_first_parity(spark):
    cfg = CrawlConfig(
        mode="best_first", max_depth=4, max_pages=50, scorer=SCORER,
        score_threshold=0.05, base_budget=3, global_budget=10, max_iterations=40,
    )
    sim, eng = _run_both(spark, cfg)
    assert sim.pages_crawled > 10
    _assert_parity(sim, eng)


def test_bfs_with_filters_parity(spark):
    cfg = CrawlConfig(
        mode="bfs", max_depth=3, max_pages=40,
        scorer={"kind": "keyword", "keywords": ["docs", "blog"]},
        filters=[
            {"kind": "pattern", "patterns": ["*/docs/*", "*/blog/*", "*/articles/*", "*/research/*", "*/products/*"]},
            {"kind": "content_type", "allowed_types": "text/html"},
        ],
        base_budget=4, global_budget=12, max_iterations=40,
    )
    sim, eng = _run_both(spark, cfg)
    assert sim.pages_crawled > 5
    _assert_parity(sim, eng)


def test_robots_respected(spark):
    """No /private/ URL of host 0 is ever fetched or enqueued; the
    disallow-all host is never crawled beyond robots_blocked seeds."""
    cfg = CrawlConfig(mode="bfs", max_depth=3, max_pages=80,
                      base_budget=4, global_budget=24, max_iterations=40)
    sim, eng = _run_both(spark, cfg)
    _assert_parity(sim, eng)
    blocked_host = WEB.host_name(WEB.n_hosts - 1)
    fetched = [r["url"] for r in eng.crawl_log.filter(F.col("outcome") == "success").collect()]
    assert not any(f"//{WEB.host_name(0)}/private/" in u for u in fetched)
    assert not any(blocked_host in u for u in fetched)


def test_fetch_seam_parity(spark):
    """The pluggable transport UDF (S5, sources.fetch) must reproduce
    the corpus-join engine's results exactly: same crawl order, seen
    set, spans, host state — proving the seam is a drop-in for the
    synthetic join (and, by interface, for a real network fetch)."""
    from crawl4ai_spark.sources.fetch import SyntheticTransport

    cfg = CrawlConfig(
        mode="best_first", max_depth=4, max_pages=50, scorer=SCORER,
        score_threshold=0.05, base_budget=3, global_budget=10, max_iterations=40,
    )
    pages, robots, seeds, pages_df, robots_df = _build_inputs(spark)
    sim = simulate_crawl(pages, robots, seeds, cfg)
    eng = CrawlEngine(
        spark, cfg, pages_df, robots_df,
        transport_factory=lambda pages=pages: SyntheticTransport(pages),
    ).run(seeds)
    _assert_parity(sim, eng)


def _sql_executions(spark) -> list:
    """The executions in Spark's SQL status store, oldest first, once
    the listener bus has delivered every event so far."""
    spark.sparkContext._jsc.sc().listenerBus().waitUntilEmpty()
    execs = spark._jsparkSession.sharedState().statusStore().executionsList()
    return sorted((execs.apply(i) for i in range(execs.size())), key=lambda e: e.executionId())


def _last_execution_id(spark) -> int:
    return max((e.executionId() for e in _sql_executions(spark)), default=-1)


def _executed_plans(spark, after: int) -> list[str]:
    """Physical plans of the SQL executions with an id above `after`
    (the session is shared across tests, so older executions are
    skipped)."""
    return [e.physicalPlanDescription() for e in _sql_executions(spark) if e.executionId() > after]


def _seen_join_plan(plans: list[str]) -> tuple[str, str]:
    """(whole plan, seen-join subtree) of the last executed plan that
    holds the seen anti-join, the left-anti join keyed on the 8-byte
    `ch` hash.  The subtree is cut from the final plan's tree by its
    operator id and the depth of its branch marker."""
    for plan in reversed(plans):
        m = re.search(r"^\((\d+)\) [^\n]*\nLeft keys \[\d+\]: \[ch#[^\n]*\n"
                      r"Right keys[^\n]*\nJoin type: LeftAnti", plan, re.M)
        if m:
            break
    else:
        raise AssertionError("no seen anti-join among the executed plans")
    lines = plan.splitlines()
    top = next(i for i, line in enumerate(lines) if line.endswith(f" ({m[1]})"))

    def depth(line: str) -> int:
        b = re.search(r"[:+]- ", line)
        return b.start() if b else len(line) - len(line.lstrip())

    sub = [lines[top]]
    for line in lines[top + 1:]:
        if not line.strip() or depth(line) <= depth(lines[top]):
            break
        sub.append(line)
    return plan, "\n".join(sub)


def test_seen_join_ships_hashes_only(spark):
    """Plan assertion: the seen anti-join's frontier side projects
    ONLY the 8-byte url_hash — no string column shuffles through the
    seen join (SURVEY §4.2.3)."""
    cfg = CrawlConfig(mode="bfs", max_depth=2, max_pages=30,
                      base_budget=8, global_budget=16, max_iterations=3)
    pages, robots, seeds, pages_df, robots_df = _build_inputs(spark)
    before = _last_execution_id(spark)
    CrawlEngine(spark, cfg, pages_df, robots_df).run(seeds)
    plan, _ = _seen_join_plan(_executed_plans(spark, before))
    assert "LeftAnti" in plan
    # the anti-join build side is a bare url_hash projection
    m = re.search(r"LeftAnti[^\n]*\n(.*)", plan, re.S)
    assert m is not None
    # every join between fresh candidates and the frontier keys on ch/url_hash
    assert "ch" in plan and "url_hash" in plan


def test_dfs_parity(spark):
    """DFS (O3): engine ≡ simulator with LIFO admission."""
    cfg = CrawlConfig(**DFS_CFG)
    sim, eng = _run_both(spark, cfg)
    assert sim.pages_crawled > 10
    _assert_parity(sim, eng)


def test_dfs_simulator_matches_reference_stack():
    """The simulator's (enqueue_iter desc, seq asc) admission must
    equal a literal reference-style LIFO stack traversal
    (dfs_strategy.py:27-66: pop one, push children reversed)."""
    from urllib.parse import urljoin

    from crawl4ai_spark.extraction.udfs import extract_one
    from crawl4ai_spark.functions.urlnorm import (
        canonicalize_for_crawl, get_host, is_valid_crawl_url,
    )
    from crawl4ai_spark.sources.synthetic_web import synthetic_pages_pdf
    from crawl4ai_spark.testing.simulator import simulate_crawl

    pdf = synthetic_pages_pdf(WEB)
    pages = {r["url"]: r for r in pdf.to_dict("records")}
    seeds = seed_urls(WEB, n_seeds=1)
    cfg = CrawlConfig(mode="dfs", max_depth=4, max_pages=40, respect_robots=False,
                      base_budget=64, global_budget=1, max_retries=0,
                      max_iterations=80)
    sim = simulate_crawl(pages, {}, seeds, cfg)

    # literal stack DFS over the same corpus
    visited: set[str] = set()
    order: list[str] = []
    seed = canonicalize_for_crawl(seeds[0], seeds[0])
    stack = [(seed, 0)]
    seen = {seed}
    crawled = 0
    while stack and crawled < 40 and len(order) < 80:
        url, depth = stack.pop()
        visited.add(url)
        order.append(url)
        row = pages.get(url)
        status = int(row["status_code"]) if row else 0
        final, html = url, (row["html"] if row else None)
        if row and status == 301 and row.get("redirect_to"):
            tgt = pages.get(row["redirect_to"])
            final = row["redirect_to"]
            status = int(tgt["status_code"]) if tgt else 0
            html = tgt["html"] if tgt else None
        if status != 200:
            continue
        crawled += 1
        if depth + 1 > 4 or crawled >= 40:
            continue
        ex = extract_one(url, html)
        new_links = []
        for link in ex["links"]:
            canon = canonicalize_for_crawl(link["href"], final)
            if not canon or canon in seen:
                continue
            if not is_valid_crawl_url(urljoin(final, link["href"].strip())):
                continue
            seen.add(canon)
            new_links.append(canon)
        for u in reversed(new_links):
            stack.append((u, depth + 1))

    got = [o["url"] for o in sim.crawl_order]
    assert got == order[: len(got)]


def test_max_pages_budget(spark):
    cfg = CrawlConfig(**BUDGET_CFG)
    sim, eng = _run_both(spark, cfg)
    _assert_parity(sim, eng)
    assert eng.state.pages_crawled <= 17


def test_salted_admission_parity(spark):
    """Hot-host skew defense (north rule: "salts hot hosts"): the
    two-phase salted per-host cap — pre-trim within (host, salt) to
    ≤ budget, then the exact host window over the survivors — must
    admit EXACTLY the simulator's set and order.  Salting is a
    physical rewrite of the window, never a semantic change.  Config
    makes the cap bind hard (base_budget 2 ≪ global 24) in both BFS
    and scored best-first order."""
    cfg = CrawlConfig(mode="bfs", max_depth=3, max_pages=60,
                      base_budget=2, global_budget=24, max_iterations=40,
                      admission_salts=5)
    sim, eng = _run_both(spark, cfg)
    _assert_parity(sim, eng)
    cfg2 = CrawlConfig(
        mode="best_first", max_depth=4, max_pages=40, scorer=SCORER,
        score_threshold=0.05, base_budget=2, global_budget=12,
        max_iterations=40, admission_salts=3,
    )
    sim2, eng2 = _run_both(spark, cfg2)
    _assert_parity(sim2, eng2)


def test_engine_rerun_parity(spark):
    """One engine, two crawls: run() must start each crawl from fresh
    politeness state.  The config ends with hosts backed off, so any
    host state leaking into the second run would change its admission
    budgets and with them the crawl."""
    web = WebConfig(n_pages=160, n_hosts=6, seed=42, fault_every=5)
    cfg = CrawlConfig(mode="best_first", max_depth=256, base_budget=3,
                      global_budget=10, max_delay=4.0, max_retries=1,
                      max_iterations=4)
    pages, robots, seeds, pages_df, robots_df = _build_inputs(spark, web)
    sim = simulate_crawl(pages, robots, seeds, cfg)
    assert {(4.0, 2), (3.0, 0)} <= set(sim.host_state.values())
    engine = CrawlEngine(spark, cfg, pages_df, robots_df)
    _assert_parity(sim, engine.run(seeds))
    _assert_parity(sim, engine.run(seeds))


@pytest.mark.parametrize(
    "cfg_kw, ranks",
    [
        (BFS_SCORED_CFG, {("global", "batch_rank")}),
        (DFS_CFG, {("bucketed", "batch_rank")}),
        (BUDGET_CFG, {("bucketed", "batch_rank"), ("bucketed", "trim_rank")}),
    ],
    ids=["bfs_scored_global_rank", "dfs_bucketed_rank", "budget_capacity_trim"],
)
def test_at_scale_plan_parity(spark, monkeypatch, cfg_kw, ranks):
    """The at-scale plan shapes on a small web: with both small-N
    shortcuts switched off (and Spark's auto-broadcast disabled) the
    seen anti-join shuffles both sides on the hash, and admission uses
    the two-phase ranks — with_global_rank for the scored BFS,
    with_bucketed_rank for DFS and the unscored budget crawl, whose
    capacity trim also binds.  The crawl must still equal the
    simulator's."""
    from crawl4ai_spark.plans import crawl as crawl_mod

    monkeypatch.setattr(crawl_mod, "_SMALL_PENDING_MAX", 0)
    monkeypatch.setattr(crawl_mod, "_BCAST_SEEN_MAX", 0)
    used = set()

    def spy(kind, fn, col_pos):
        def wrapped(*a, **kw):
            used.add((kind, a[col_pos]))
            return fn(*a, **kw)
        return wrapped

    monkeypatch.setattr(crawl_mod, "with_global_rank",
                        spy("global", crawl_mod.with_global_rank, 2))
    monkeypatch.setattr(crawl_mod, "with_bucketed_rank",
                        spy("bucketed", crawl_mod.with_bucketed_rank, 3))
    prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        cfg = CrawlConfig(**cfg_kw)
        pages, robots, seeds, pages_df, robots_df = _build_inputs(spark)
        sim = simulate_crawl(pages, robots, seeds, cfg)
        before = _last_execution_id(spark)
        eng = CrawlEngine(spark, cfg, pages_df, robots_df).run(seeds)
        _assert_parity(sim, eng)
        _, plan = _seen_join_plan(_executed_plans(spark, before))
        assert "LeftAnti" in plan and "Broadcast" not in plan, plan
        assert ranks <= used, used
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)


def test_host_state_adds_no_jobs(spark):
    """Tracking per-host backoff state costs no Spark job: the hosts
    that succeeded or backed off ride the step checkpoint's observe().
    With budgets that never bind (base_budget ≥ global_budget ·
    max_delay / base_delay) the tracked and the untracked crawl run the
    same plans, so they must run the same number of jobs."""
    web = WebConfig(n_pages=160, n_hosts=6, seed=42, fault_every=5)
    kw = dict(mode="bfs", max_depth=3, max_pages=40, base_budget=40,
              global_budget=10, max_delay=4.0, max_retries=1, max_iterations=6)
    pages, robots, seeds, pages_df, robots_df = _build_inputs(spark, web)
    tracker = spark.sparkContext.statusTracker()

    def last_job() -> int:
        # job ids are sequential; the tracker keeps the newest jobs
        return max(tracker.getJobIdsForGroup(None), default=-1)

    jobs, results = {}, {}
    for track in (True, False):
        engine = CrawlEngine(spark, CrawlConfig(**kw, track_host_state=track),
                             pages_df, robots_df)
        engine.prewarm()  # a cache's first scan runs jobs of its own
        before = last_job()
        results[track] = engine.run(seeds)
        jobs[track] = last_job() - before
    assert jobs[True] == jobs[False], jobs
    assert results[False].state.host_state == {}
    sim = simulate_crawl(pages, robots, seeds, CrawlConfig(**kw))
    assert any(fails > 0 for _d, fails in sim.host_state.values())
    _assert_parity(sim, results[True])


def _scans_python(df) -> bool:
    return "PythonRDD" in df._jdf.queryExecution().toRdd().toDebugString()


@pytest.mark.parametrize("supersteps", [0, 2])
def test_driver_rows_scan_without_python(spark, supersteps):
    """Rows built on the driver (the seed frontier, the empty docs and
    crawl_log bases) are JVM local relations: scanning a result table
    starts no Python worker just to unpickle them."""
    pages, robots, seeds, pages_df, robots_df = _build_inputs(spark)
    cfg = CrawlConfig(**{**BFS_SCORED_CFG, "max_iterations": supersteps})
    eng = CrawlEngine(spark, cfg, pages_df, robots_df).run(seeds)
    assert eng.state.iteration == supersteps
    for name in ("frontier", "seen", "docs", "crawl_log"):
        assert not _scans_python(getattr(eng, name)), name
    _assert_parity(simulate_crawl(pages, robots, seeds, cfg), eng)


def test_seed_frontier_dedups_in_first_occurrence_order(spark):
    """Seeds are canonicalized, invalid ones dropped and duplicates kept
    at their first occurrence; seq numbers the survivors 0..n-1."""
    _pages, _robots, _seeds, pages_df, robots_df = _build_inputs(spark)
    eng = CrawlEngine(spark, CrawlConfig(**BFS_SCORED_CFG), pages_df, robots_df)
    seeds = [
        "https://b.example.com/x",
        "HTTPS://A.Example.com/y#frag",
        "not a url",
        "https://b.example.com/x",
        "https://a.example.com/y",
        "https://c.example.com/",
    ]
    frontier, state = eng._seed_frontier(seeds)
    got = [(r["url"], r["seq"], r["host"])
           for r in frontier.orderBy("seq").collect()]
    assert got == [
        ("https://b.example.com/x", 0, "b.example.com"),
        ("https://a.example.com/y", 1, "a.example.com"),
        ("https://c.example.com", 2, "c.example.com"),
    ]
    assert (state.next_seq, state.pending_count, state.frontier_ub) == (3, 3, 3)

    # 20k seeds, every tenth a repeat of an earlier one
    firsts = [i - 9 if i % 10 == 9 else i for i in range(20_000)]
    many = [f"https://h{i % 97}.example.com/p{i}" for i in firsts]
    frontier, state = eng._seed_frontier(many)
    want = list(dict.fromkeys(many))
    rows = frontier.orderBy("seq").collect()
    assert [r["url"] for r in rows] == want
    assert [r["seq"] for r in rows] == list(range(len(want)))
    assert all(r["url_hash"] is not None and r["status"] == "pending" for r in rows)
    assert state.pending_count == state.frontier_ub == len(want) == 18_000
