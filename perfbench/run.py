"""Crawl-loop benchmark for crawl4ai_spark's CrawlEngine.

Run from the root of a checkout:

    python3 perfbench/run.py --workload deep_frontier --seed 7 --seconds 8 --trace 0

One process is one closed-loop client: it crawls one crawl at a time
on Spark local[N_SLOTS] and checks every crawl against the pure-Python
simulator.  --trace 0 reports the end-to-end metrics.  --trace 1 makes
the same measurement, then sets up once more in a new session and
crawls with Spark's event log on, a timing wrapper around the
SnapshotStore and an RSS sampler, and reports the per-layer metrics.
The last line of stdout is one JSON object with the keys correct,
attempted, failed and metrics; the line before it carries the run's
context (slots, heap, steal, spin probe, counts).  See README.md next
to this file.
"""

from __future__ import annotations

import argparse
import gc
import json
import os
import shutil
import statistics
import subprocess
import sys
import time
import traceback
from contextlib import nullcontext
from dataclasses import asdict, dataclass, field
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
N_SLOTS = max(1, min(2, os.cpu_count() or 1))
SETUP_REPS = 3
# the first crawl in a session takes 20-70% longer than the next ones
# (prewarm() does not do all of its JIT and worker warm-up): it is
# checked but not timed into a metric
WARMUP_CRAWLS = 1
MIN_CRAWLS = 2
# an engine with a store commits only when the crawl ends
FINAL_COMMIT_ONLY = 1 << 30


def _import_program() -> None:
    """Make the checkout's crawl4ai_spark importable, and refuse to run
    against any other copy."""
    sys.path.insert(0, str(ROOT))
    try:
        import crawl4ai_spark
    except ImportError as e:
        raise SystemExit(f"perfbench: crawl4ai_spark is not in {ROOT}: {e}")
    if not Path(crawl4ai_spark.__file__).resolve().is_relative_to(ROOT):
        raise SystemExit(f"perfbench: crawl4ai_spark imported from outside {ROOT}")


def driver_heap_mb(mem_total_mb: int) -> int:
    """An eighth of the host's memory, within [1, 8] GiB: the crawls
    here hold tens of MB of corpus and checkpoints, and the host is
    shared."""
    return min(8192, max(1024, mem_total_mb // 8))


def start_session(heap_mb: int, work: Path, event_dir: Path | None = None):
    from crawl4ai_spark.session import get_spark

    conf = {
        "spark.driver.memory": f"{heap_mb}m",
        # a fixed heap (no heap-growth pauses) and GC threads sized to
        # the slots, as bench.py sizes its legs
        "spark.driver.extraJavaOptions": (
            f"-Xms{heap_mb}m -XX:ParallelGCThreads={N_SLOTS} -XX:ConcGCThreads=1 "
            f"-Djava.io.tmpdir={work / 'tmp'}"
        ),
        "spark.ui.showConsoleProgress": "false",
        "spark.eventLog.enabled": "false",
    }
    if event_dir is not None:
        conf.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": event_dir.as_uri(),
            "spark.eventLog.compress": "false",
            "spark.eventLog.rolling.enabled": "false",
        })
    t0 = time.perf_counter()
    spark = get_spark(app_name="perfbench", master=f"local[{N_SLOTS}]",
                      shuffle_partitions=N_SLOTS, extra_conf=conf)
    spark.sparkContext.setLogLevel("ERROR")
    return spark, time.perf_counter() - t0


@dataclass
class Fixture:
    """The corpus and the prewarmed engine of one set-up."""
    pages: object
    engine: object
    corpus_s: float
    prewarm_s: float

    def release(self) -> None:
        self.engine.pages_eff.unpersist()
        self.pages.unpersist()


def set_up(spark, w, inputs, store) -> Fixture:
    from crawl4ai_spark.plans.crawl import CrawlEngine
    from crawl4ai_spark.sources.synthetic_web import robots_rows, synthetic_pages_df

    t0 = time.perf_counter()
    pages = synthetic_pages_df(spark, inputs.web, num_partitions=2 * N_SLOTS).persist()
    pages.count()
    t1 = time.perf_counter()
    robots = spark.createDataFrame(robots_rows(inputs.web))
    engine = CrawlEngine(spark, w.cfg, pages, robots,
                         store=store if w.commit_in_window else None,
                         checkpoint_every=FINAL_COMMIT_ONLY)
    engine.prewarm()
    return Fixture(pages, engine, t1 - t0, time.perf_counter() - t1)


@dataclass
class Crawl:
    seconds: float = 0.0
    window_ms: tuple[int, int] = (0, 0)
    counts: object = None
    problems: list[str] = field(default_factory=list)
    result: object = None  # kept for the window's last crawl only
    check_s: float = 0.0
    warmup: bool = False


def crawl_once(fx: Fixture, inputs, sim, cfg, sampler=None) -> Crawl:
    """One crawl.  The window runs from the call into the engine until
    it returns with docs, seen and crawl_log computed (each superstep
    checkpoints them eagerly), after the engine's final commit if it
    has a store; that commit goes to a fresh snapshot directory."""
    from check import compare

    store = fx.engine.store
    if store is not None:
        shutil.rmtree(store.root, ignore_errors=True)
        os.makedirs(store.root)
    with sampler or nullcontext():
        start_ms = int(time.time() * 1000)
        t0 = time.perf_counter()
        res = fx.engine.run(inputs.seeds)
        seconds = time.perf_counter() - t0
        end_ms = int(time.time() * 1000)
    t0 = time.perf_counter()
    problems, counts = compare(res, sim, cfg)
    return Crawl(seconds, (start_ms, end_ms), counts, problems, res,
                 time.perf_counter() - t0)


def run_window(spark, fx, inputs, sim, cfg, seconds: float, sampler=None) -> list[Crawl]:
    """Crawls back to back: WARMUP_CRAWLS, then measured ones until
    MIN_CRAWLS are done and `seconds` of measured crawl time are spent.
    A crawl that raises ends the window."""
    crawls: list[Crawl] = []
    measured: list[Crawl] = []
    while len(measured) < MIN_CRAWLS or sum(c.seconds for c in measured) < seconds:
        if crawls:
            crawls[-1].result = None
        try:
            crawls.append(crawl_once(fx, inputs, sim, cfg, sampler))
            if len(crawls) <= WARMUP_CRAWLS:
                crawls[-1].warmup = True
            else:
                measured.append(crawls[-1])
        except Exception:
            traceback.print_exc()
            crawls.append(Crawl(problems=["raised"]))
            break
        # drop the previous crawl's checkpoints before the next one starts
        gc.collect()
        spark._jvm.System.gc()
    return crawls


def check_last_snapshot(spark, w, store, crawl: Crawl) -> float:
    """The window's last crawl must read back from a committed snapshot
    with the result's row counts.  With commit_in_window the engine
    committed it inside the window; otherwise it is committed here,
    after the window.  Returns the seconds the read-back took."""
    from check import check_snapshot

    res, c = crawl.result, crawl.counts
    if w.commit_in_window:
        frontier_rows = c.seen  # the engine's frontier table keeps trimmed rows
    else:
        store.commit(c.supersteps, {"frontier": res.frontier, "docs": res.docs,
                                    "crawl_log": res.crawl_log})
        frontier_rows = c.frontier_rows
    problems, load_s = check_snapshot(
        spark, store, {"frontier": frontier_rows, "crawl_log": c.admitted, "docs": c.pages})
    crawl.problems += problems
    return load_s


def _metric(value, unit: str) -> dict:
    return {"value": value, "unit": unit}


def _measured(crawls: list[Crawl]) -> list[Crawl]:
    return [c for c in crawls if not c.warmup and c.counts is not None]


def _pages_per_s(crawls: list[Crawl]) -> float:
    """Median over the measured crawls of pages crawled / crawl window."""
    rates = [c.counts.pages / c.seconds for c in _measured(crawls)]
    return statistics.median(rates) if rates else 0.0


@dataclass
class Session:
    start_s: float
    setups: list[Fixture]
    crawls: list[Crawl]
    load_s: float | None


def measure_session(w, inputs, sim, seconds, work, heap_mb, store, reps,
                    event_dir=None, sampler=None) -> Session:
    """Start a Spark session and set up `reps` times in it, each set-up
    replacing the previous one's corpus and engine; then crawl on the
    last set-up and check the last crawl's snapshot."""
    spark, start_s = start_session(heap_mb, work, event_dir)
    try:
        setups: list[Fixture] = []
        for _ in range(reps):
            if setups:
                setups[-1].release()
            setups.append(set_up(spark, w, inputs, store))
        crawls = run_window(spark, setups[-1], inputs, sim, w.cfg, seconds, sampler)
        load_s = None
        if crawls[-1].result is not None:
            try:
                load_s = check_last_snapshot(spark, w, store, crawls[-1])
            except Exception:
                traceback.print_exc()
                crawls[-1].problems.append("snapshot check raised")
            crawls[-1].result = None
    finally:
        spark.stop()
    return Session(start_s, setups, crawls, load_s)


def stop_jvm() -> None:
    """End the JVM that PySpark launched and wait until it has exited;
    it exits when its stdin closes."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    if gateway is None:
        return
    proc = gateway.proc
    gateway.shutdown()
    SparkContext._gateway = None
    proc.stdin.close()
    try:
        proc.wait(timeout=60)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait()


def measure_end_to_end(args, w, inputs, sim, work, heap_mb, ctx) -> tuple[Session, dict]:
    from crawl4ai_spark.plans.state import SnapshotStore

    s = measure_session(w, inputs, sim, args.seconds, work, heap_mb,
                        SnapshotStore(str(work / "store")), SETUP_REPS)
    reps = [f.corpus_s + f.prewarm_s for f in s.setups]
    ctx.update(session_s=s.start_s, setup_reps_s=reps, load_s=s.load_s)
    done = [c.counts for c in s.crawls if c.counts is not None]
    if done:
        ctx["counts"] = asdict(done[0])
    passed = sum(1 for c in s.crawls if not c.problems)
    return s, {
        "crawl_pages_per_s": _metric(_pages_per_s(s.crawls), "pages/s"),
        "setup_s": _metric(s.start_s + statistics.median(reps), "s"),
        "passed_crawl_share": _metric(passed / len(s.crawls), "share"),
    }


def measure_layers(args, w, inputs, sim, work, heap_mb, ctx) -> tuple[list[Crawl], dict]:
    """The untraced measurement first, then one more set-up and window
    in a new session in the same JVM, with tracing on."""
    from eventlog import read_events, summarize
    from host import RssSampler
    from layers import TimedStore, replay_pages

    untraced, e2e = measure_end_to_end(args, w, inputs, sim, work, heap_mb, ctx)
    event_dir = work / "events"
    event_dir.mkdir()
    store = TimedStore(str(work / "traced-store"))
    sampler = RssSampler()
    try:
        s = measure_session(w, inputs, sim, args.seconds, work, heap_mb, store, 1,
                            event_dir, sampler)
    finally:
        sampler.close()
    crawls = untraced.crawls + s.crawls
    if any(c.counts is None for c in crawls) or s.load_s is None:
        return crawls, {}
    keys = ("supersteps", "admitted", "pages")
    want = {k: getattr(untraced.crawls[0].counts, k) for k in keys}
    for c in s.crawls:
        if {k: getattr(c.counts, k) for k in keys} != want:
            c.problems.append("traced counts differ from the untraced run's")
    measured = _measured(s.crawls)
    base = measured[0].counts
    # the engine commits once per crawl inside the window; otherwise the
    # one commit is the benchmark's, after the window
    commits = store.commit_s[WARMUP_CRAWLS:] if w.commit_in_window else store.commit_s

    logs = sorted(event_dir.iterdir())
    if len(logs) != 1:
        raise RuntimeError(f"expected one event log, found {[p.name for p in logs]}")
    ev = summarize(read_events(str(logs[0])), [c.window_ms for c in measured], N_SLOTS)
    rp = replay_pages(inputs.pages, inputs.robots, w.cfg.user_agent)

    n = len(measured)
    window_s = sum(c.seconds for c in measured) / n
    supersteps = base.supersteps
    page_python_s = (rp["extract_ms_per_page"] / 1e3
                     + rp["links_per_page"] * rp["canonicalize_us_per_link"] / 1e6
                     + rp["robots_checks_per_page"] * rp["robots_us_per_check"] / 1e6)
    untraced_pps = e2e["crawl_pages_per_s"]["value"]
    traced_pps = _pages_per_s(measured)
    ctx.update(traced_crawl_s=[c.seconds for c in s.crawls], event_window_s=ev["window_s"],
               peak_procs=sampler.peak_procs, untraced_pages_per_s=untraced_pps)
    m = {
        "plans.crawl.supersteps": _metric(supersteps, "count"),
        "plans.crawl.s_per_superstep": _metric(window_s / supersteps, "s"),
        "plans.crawl.spark_jobs_per_superstep": _metric(ev["jobs"] / n / supersteps, "count"),
        "plans.crawl.spark_stages_per_superstep": _metric(ev["stages"] / n / supersteps, "count"),
        "plans.crawl.spark_tasks_per_superstep": _metric(ev["tasks"] / n / supersteps, "count"),
        "plans.crawl.driver_serial_s": _metric(ev["serial_s"] / n, "s"),
        "plans.crawl.executor_busy_s": _metric(ev["busy_s"] / n, "s"),
        "plans.crawl.slot_utilization": _metric(ev["slot_utilization"], "share"),
        "plans.crawl.python_udf_s": _metric(ev["python_udf_s"] / n, "s"),
        "plans.crawl.python_udf_share": _metric(
            ev["python_udf_s"] / (N_SLOTS * ev["window_s"]), "share"),
        "plans.crawl.arrow_to_python_mb": _metric(ev["arrow_to_python_mb"] / n, "MB"),
        "plans.crawl.arrow_from_python_mb": _metric(ev["arrow_from_python_mb"] / n, "MB"),
        "plans.crawl.shuffle_write_mb": _metric(ev["shuffle_write_mb"] / n, "MB"),
        "plans.crawl.shuffle_read_mb": _metric(ev["shuffle_read_mb"] / n, "MB"),
        "plans.crawl.spill_mb": _metric(ev["spill_mb"] / n, "MB"),
        "plans.crawl.gc_s": _metric(ev["gc_s"] / n, "s"),
        "plans.crawl.task_skew": _metric(ev["task_skew"], "ratio"),
        "plans.crawl.admitted": _metric(base.admitted, "count"),
        "plans.crawl.success_ratio": _metric(base.pages / base.admitted, "share"),
        "plans.crawl.frontier_rows": _metric(base.frontier_rows, "count"),
        "plans.crawl.page_python_share": _metric(
            page_python_s * base.pages / (N_SLOTS * window_s), "share"),
        "plans.crawl.traced_pages_per_s": _metric(traced_pps, "pages/s"),
        "plans.crawl.tracing_overhead_pages_per_s": _metric(untraced_pps - traced_pps, "pages/s"),
        "plans.state.commit_s": _metric(statistics.mean(commits), "s"),
        "plans.state.commit_share": _metric(
            statistics.mean(commits) / window_s if w.commit_in_window else 0.0, "share"),
        "plans.state.bytes_written_mb": _metric(statistics.mean(store.commit_bytes) / 2**20, "MB"),
        "plans.state.load_s": _metric(s.load_s, "s"),
        "extraction.extract_ms_per_page": _metric(rp["extract_ms_per_page"], "ms"),
        "extraction.spans_per_page": _metric(rp["spans_per_page"], "count"),
        "functions.canonicalize_us_per_link": _metric(rp["canonicalize_us_per_link"], "us"),
        "functions.links_per_page": _metric(rp["links_per_page"], "count"),
        "sources.robots_us_per_check": _metric(rp["robots_us_per_check"], "us"),
        "sources.cold_setup_s": _metric(
            untraced.setups[0].corpus_s + untraced.setups[0].prewarm_s, "s"),
        "sources.corpus_gen_s": _metric(
            statistics.median(f.corpus_s for f in untraced.setups), "s"),
        "sources.prewarm_s": _metric(
            statistics.median(f.prewarm_s for f in untraced.setups), "s"),
        "peak_rss_mb": _metric(sampler.peak_mb, "MB"),
    }
    return crawls, m


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    _import_program()
    from crawl4ai_spark.testing.simulator import simulate_crawl
    from host import mem_total_mb, spin_mops, steal_jiffies, steal_pct
    from workloads import WORKLOADS, make_inputs

    if args.workload not in WORKLOADS:
        raise SystemExit(f"perfbench: unknown workload {args.workload!r}; "
                         f"choose from {sorted(WORKLOADS)}")
    w = WORKLOADS[args.workload]
    mem_mb = mem_total_mb()
    heap_mb = driver_heap_mb(mem_mb)
    ctx: dict = {"workload": w.name, "seed": args.seed, "trace": args.trace,
                 "n_slots": N_SLOTS, "mem_total_mb": mem_mb, "driver_heap_mb": heap_mb,
                 "spin_mops_start": spin_mops()}
    steal0 = steal_jiffies()

    work = ROOT / ".perfbench_work" / f"run-{os.getpid()}"
    shutil.rmtree(work, ignore_errors=True)
    (work / "tmp").mkdir(parents=True)
    for k in [k for k in os.environ if k.startswith("SPARK_GRAFT_")]:
        del os.environ[k]  # the session config is the benchmark's own
    os.environ["SPARK_LOCAL_DIRS"] = str(work / "spark-local")
    os.environ["TMPDIR"] = str(work / "tmp")
    os.environ["PYSPARK_PYTHON"] = sys.executable
    os.environ["PYTHONPATH"] = os.pathsep.join(
        [str(ROOT)] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p])
    try:
        t0 = time.perf_counter()
        inputs = make_inputs(w, args.seed)
        sim = simulate_crawl(inputs.pages, inputs.robots, inputs.seeds, w.cfg)
        ctx["simulator_s"] = time.perf_counter() - t0
        if args.trace:
            crawls, metrics = measure_layers(args, w, inputs, sim, work, heap_mb, ctx)
        else:
            s, metrics = measure_end_to_end(args, w, inputs, sim, work, heap_mb, ctx)
            crawls = s.crawls
    finally:
        stop_jvm()
        shutil.rmtree(work, ignore_errors=True)
        try:
            work.parent.rmdir()
        except OSError:
            pass  # another run is using it

    failed = sum(1 for c in crawls if c.problems)
    ctx.update(
        crawls=len(crawls),
        failed_run_share=failed / len(crawls),
        problems=sorted({p for c in crawls for p in c.problems}),
        crawl_s=[c.seconds for c in crawls],
        check_s=[c.check_s for c in crawls],
        pages_per_crawl=sim.pages_crawled,
        supersteps=sim.iterations,
        steal_pct=steal_pct(steal0, steal_jiffies()),
        spin_mops_end=spin_mops(),
    )
    print(json.dumps({"context": ctx}))
    print(json.dumps({"correct": failed == 0 and bool(metrics), "attempted": len(crawls),
                      "failed": failed, "metrics": metrics}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
