"""Per-layer numbers for the crawl loop, read from Spark's own event log.

The benchmark turns event logging on in its session config (plain JSON
lines: no compression, no rolling) and parses the log after the session
stops.  Only events that start inside one of the benchmark's crawl
windows count, so set-up jobs and correctness checks are excluded.

Python-worker figures come from the stage accumulables that PySpark's
Arrow evaluation nodes publish: "time to run Python workers" (ms) and
"data sent to / returned from Python workers" (bytes), summed over the
tasks of each stage.
"""

from __future__ import annotations

import json
import statistics
from collections import defaultdict
from typing import Iterable, Iterator

PY_RUN_MS = "time to run Python workers"
PY_SENT_BYTES = "data sent to Python workers"
PY_RETURNED_BYTES = "data returned from Python workers"

MB = 1024 * 1024


def read_events(path: str) -> Iterator[dict]:
    with open(path) as f:
        for line in f:
            if line.strip():
                yield json.loads(line)


def _window_of(t: int | None, windows: list[tuple[int, int]]) -> int | None:
    if t is None:
        return None
    for i, (start, end) in enumerate(windows):
        if start <= t <= end:
            return i
    return None


def _union_ms(intervals: list[tuple[int, int]]) -> int:
    total, cur_start, cur_end = 0, None, None
    for start, end in sorted(intervals):
        if cur_end is None or start > cur_end:
            if cur_end is not None:
                total += cur_end - cur_start
            cur_start, cur_end = start, end
        else:
            cur_end = max(cur_end, end)
    if cur_end is not None:
        total += cur_end - cur_start
    return total


def summarize(
    events: Iterable[dict], windows_ms: list[tuple[int, int]], n_slots: int
) -> dict[str, float]:
    """Aggregate jobs, stages, tasks and their metrics over the windows
    (epoch-ms [start, end] pairs, the clock Spark stamps events with).

    - busy_s: summed task wall-clock (launch to finish);
    - serial_s: window time during which no task ran at all — the
      driver-side share of the loop (Amdahl's serial part);
    - slot_utilization: busy / (n_slots x window);
    - task_skew: max / median task time in the stage with the most
      summed task time;
    - gc_s: summed per-task JVM GC time (in local mode the tasks share
      one JVM, so concurrent tasks can report the same pause).
    """
    jobs = stages = 0
    py = {PY_RUN_MS: 0, PY_SENT_BYTES: 0, PY_RETURNED_BYTES: 0}
    gc_ms = spill_bytes = shuffle_read = shuffle_write = busy_ms = 0
    per_window: dict[int, list[tuple[int, int]]] = defaultdict(list)
    per_stage: dict[tuple[int, int], list[int]] = defaultdict(list)
    for e in events:
        kind = e.get("Event")
        if kind == "SparkListenerJobStart":
            if _window_of(e.get("Submission Time"), windows_ms) is not None:
                jobs += 1
        elif kind == "SparkListenerStageCompleted":
            info = e["Stage Info"]
            if _window_of(info.get("Submission Time"), windows_ms) is None:
                continue
            stages += 1
            for acc in info.get("Accumulables", []):
                if acc.get("Name") in py:
                    py[acc["Name"]] += int(acc["Value"])
        elif kind == "SparkListenerTaskEnd":
            info = e["Task Info"]
            launch, finish = info["Launch Time"], info["Finish Time"]
            w = _window_of(launch, windows_ms)
            if w is None:
                continue
            finish = min(finish, windows_ms[w][1])
            per_window[w].append((launch, finish))
            per_stage[(e["Stage ID"], e.get("Stage Attempt ID", 0))].append(finish - launch)
            busy_ms += finish - launch
            m = e.get("Task Metrics") or {}
            gc_ms += m.get("JVM GC Time", 0)
            spill_bytes += m.get("Disk Bytes Spilled", 0)
            rd = m.get("Shuffle Read Metrics") or {}
            shuffle_read += rd.get("Remote Bytes Read", 0) + rd.get("Local Bytes Read", 0)
            shuffle_write += (m.get("Shuffle Write Metrics") or {}).get("Shuffle Bytes Written", 0)
    window_ms = sum(end - start for start, end in windows_ms)
    covered_ms = sum(_union_ms(iv) for iv in per_window.values())
    n_tasks = sum(len(v) for v in per_stage.values())
    skew = 0.0
    if per_stage:
        heaviest = max(per_stage.values(), key=sum)
        med = statistics.median(heaviest)
        skew = max(heaviest) / med if med > 0 else 1.0
    return {
        "window_s": window_ms / 1000.0,
        "jobs": jobs,
        "stages": stages,
        "tasks": n_tasks,
        "busy_s": busy_ms / 1000.0,
        "serial_s": (window_ms - covered_ms) / 1000.0,
        "slot_utilization": busy_ms / (n_slots * window_ms) if window_ms else 0.0,
        "python_udf_s": py[PY_RUN_MS] / 1000.0,
        "arrow_to_python_mb": py[PY_SENT_BYTES] / MB,
        "arrow_from_python_mb": py[PY_RETURNED_BYTES] / MB,
        "shuffle_write_mb": shuffle_write / MB,
        "shuffle_read_mb": shuffle_read / MB,
        "spill_mb": spill_bytes / MB,
        "gc_s": gc_ms / 1000.0,
        "task_skew": skew,
    }
