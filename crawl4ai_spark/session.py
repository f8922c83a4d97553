"""SparkSession factory with scale-oriented defaults.

The knobs here are the ones that matter at 100 TB and do no harm at
test scale:

- AQE on (runtime re-planning, skew-join splitting, partition
  coalescing) — the frontier's hot-host skew is first bounded by the
  politeness admission window, and whatever skew survives the anti-
  join/agg stages is AQE's job.
- Arrow for all pandas-UDF transport, with a bounded batch size so the
  fetch/extract UDFs see small-enough batches to pipeline.
- shuffle partitions sized for local[N] testing; on a real cluster
  this is overridden by --conf (we never hardcode cluster-only values
  into the plan).
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

_MAX_DRIVER_MEM_MB = 24 * 1024


def default_driver_memory(mem_total_bytes: int | None) -> str:
    """Default `spark.driver.memory`: half the host's memory, at most
    24g (24g when the host's memory is unknown).  A fixed 24g let a
    whole test-suite run grow the driver JVM past a 15 GB host's memory
    until the kernel killed it."""
    if not mem_total_bytes:
        return f"{_MAX_DRIVER_MEM_MB}m"
    return f"{min(_MAX_DRIVER_MEM_MB, mem_total_bytes // 2 // (1 << 20))}m"


def _mem_total_bytes() -> int | None:
    try:
        return os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES")
    except (ValueError, OSError, AttributeError):
        return None


def get_spark(
    app_name: str = "crawl4ai_spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    master = master or os.environ.get("SPARK_GRAFT_MASTER") or f"local[{os.environ.get('SPARK_GRAFT_CPUS', '32')}]"
    if shuffle_partitions is None:
        # local[N] → N shuffle partitions; a real cluster overrides this.
        inner = master[master.find("[") + 1 : master.find("]")] if "[" in master else "32"
        shuffle_partitions = os.cpu_count() or 32 if inner == "*" else int(inner)

    builder = (
        SparkSession.builder.appName(app_name)
        .master(master)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.default.parallelism", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        # AQE coalesces post-shuffle partitions by MAP-OUTPUT BYTES,
        # but the crawl's hot stage is a pandas-UDF extract whose input
        # rows are skinny URLs and whose cost is per-row Python work —
        # bytes are the wrong cost model there, and the default 1m
        # floor let AQE fold a 15k-URL (~2 MB) admission batch into 1-2
        # tasks, idling every other slot for the dominant stage
        # (measured: crawl throughput saturated at ~700-900 urls/s
        # regardless of slot count; dropping the floor to 16k restored
        # linear use of slots — 637 → 1280 urls/s at local[4]).  With
        # parallelismFirst (default true) coalescing then still runs,
        # but never below defaultParallelism unless partitions would
        # dip under 16k bytes.
        .config("spark.sql.adaptive.coalescePartitions.minPartitionSize",
                os.environ.get("SPARK_GRAFT_MIN_PART_SIZE", "16kb"))
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch",
                os.environ.get("SPARK_GRAFT_ARROW_BATCH", "2048"))
        .config("spark.sql.session.timeZone", "UTC")
        # up to a 24g heap: the crawl loop holds a few GB of
        # localCheckpoint blocks between natural GCs.  Do NOT set a
        # short spark.cleaner.periodicGC.interval — it calls
        # System.gc(), and a forced full GC on this heap stop-the-
        # worlds for seconds (measured up to 46 s mid-crawl).
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM")
                or default_driver_memory(_mem_total_bytes()))
        .config("spark.ui.enabled", "false")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        # shuffled-hash over sort-merge where legal: the crawl's fetch
        # join builds on the (small) batch side and must never sort
        # the html-carrying corpus partitions
        .config("spark.sql.join.preferSortMergeJoin", "false")
        # Kryo: the crawl loop stores its long-lived checkpoint blocks
        # SERIALIZED (see plans/crawl.py _CKPT_LEVEL) — Java
        # serialization of those blocks is both slower and ~2x larger
        .config("spark.serializer", "org.apache.spark.serializer.KryoSerializer")
    )
    # SPARK_GRAFT_EXTRA_CONF: semicolon-separated k=v pairs applied
    # last (e.g. "spark.eventLog.enabled=true;spark.eventLog.dir=/tmp/ev"
    # for profiling, or cluster overrides when spark-submit --conf is
    # not an option).  Explicit extra_conf wins over the env.
    env_conf = os.environ.get("SPARK_GRAFT_EXTRA_CONF", "")
    for pair in filter(None, (p.strip() for p in env_conf.split(";"))):
        k, _, v = pair.partition("=")
        builder = builder.config(k.strip(), v.strip())
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    return builder.getOrCreate()
