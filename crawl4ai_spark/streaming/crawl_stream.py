"""Always-on crawl as Structured Streaming: a foreachBatch driver of
the batch engine.

The stream's file source is a seed directory: `seed(urls)` appends a
`url string` parquet file there, and each micro-batch (epoch) collects
its seed URLs on the driver (seeds are user input, and small).  All
epochs drive ONE `CrawlEngine` whose state lives in a `SnapshotStore`
under the workdir: while the store has no manifest an epoch calls
`engine.run(seeds)`, after that `engine.resume(seeds)`, which adds the
seeds the committed frontier does not hold yet.  Either way the engine
loop runs to its usual stop and commits after every superstep
(`checkpoint_every=1`), so documents land incrementally, and `docs()`
/ `seen()` read the store's live snapshot.  That is the always-on
deployment shape of the reference's `arun(stream=True)`;
`run_to_exhaustion()` returns once every seed file so far is crawled.

The stream therefore has the engine's one seen path, one politeness
path (per-host budgets with backoff) and one snapshot format: seeded
like a batch crawl, it crawls what `CrawlEngine.run` crawls, in the
same order, under the same depth cap (pinned by
tests/test_crawl_stream.py).

Crash safety: the manifest swap is the only commit point, and the
stream checkpoint replays an epoch whose foreachBatch failed.  The
replay finds the manifest of the last committed superstep, resumes
from it (its seeds are known by then, so dropped) and finishes the
crawl the failed attempt started: no document is lost or written
twice.
"""

from __future__ import annotations

import os

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession

from crawl4ai_spark.plans.config import CrawlConfig
from crawl4ai_spark.plans.crawl import CrawlEngine
from crawl4ai_spark.plans.state import SnapshotStore

__all__ = ["StreamingCrawl"]


class StreamingCrawl:
    """Streaming crawl over a corpus table.  `pages` and `robots` are
    the batch engine's inputs: production swaps the corpus join for
    the transport UDF through the engine's fetch seam."""

    def __init__(
        self,
        spark: SparkSession,
        cfg: CrawlConfig,
        pages: DataFrame,
        workdir: str,
        robots: DataFrame | None = None,
    ) -> None:
        self.spark = spark
        self.seeds_dir = os.path.join(workdir, "seeds")
        self.ckpt_dir = os.path.join(workdir, "_checkpoint")
        os.makedirs(self.seeds_dir, exist_ok=True)
        self.store = SnapshotStore(os.path.join(workdir, "state"))
        self.engine = CrawlEngine(
            spark, cfg, pages, robots, store=self.store, checkpoint_every=1
        )
        self._query = None

    # ── lifecycle ────────────────────────────────────────────────────

    def seed(self, urls: list[str]) -> None:
        df = self.spark.createDataFrame([(u,) for u in urls], "url string")
        df.coalesce(1).write.mode("append").parquet(self.seeds_dir)

    def start(self):
        self._query = (
            self.spark.readStream.schema("url string")
            .parquet(self.seeds_dir)
            .writeStream.foreachBatch(self._epoch)
            .option("checkpointLocation", self.ckpt_dir)
            .start()
        )
        return self._query

    def run_to_exhaustion(self) -> None:
        """Block until every seed file so far is crawled, then stop
        the query."""
        q = self._query or self.start()
        try:
            q.processAllAvailable()
        finally:
            q.stop()
            self._query = None

    # ── results: the store's live snapshot ───────────────────────────

    def docs(self) -> DataFrame:
        return self.store.load(self.spark, "docs")

    def seen(self) -> DataFrame:
        """The batch engine's `seen` view: every frontier row."""
        return self.store.load(self.spark, "frontier").select(
            "url", "url_hash", F.col("enqueue_iter").alias("first_iter")
        )

    # ── one epoch: run or resume the engine over its seeds ───────────

    def _epoch(self, batch: DataFrame, epoch: int) -> None:
        seeds = [r["url"] for r in batch.collect()]
        if not seeds:
            return
        if self.store.read_manifest() is None:
            self.engine.run(seeds)
        else:
            self.engine.resume(seeds)
