"""OPIC — On-line Page Importance Computation as a frontier policy.

Adaptive OPIC (Abiteboul, Preda & Cobena, WWW 2003 — public) computes
page importance DURING the crawl instead of from a finished link
graph: every page holds "cash"; crawling a page distributes its cash
equally over its outlinks; a page's accumulated cash is its crawl
priority.  Unlike PageRank (operators/graph.py) it needs no completed
graph and no convergence loop — importance sharpens as the crawl
proceeds, which is why large crawlers use it for frontier ordering.

This module adapts the per-page rule to the engine's batch supersteps
and plugs into `CrawlEngine(link_score_fn=...)` (the R11 seam —
called once per superstep on the candidate-link rows BEFORE
within-batch dedup and the seen filter, exactly where the reference
applies per-link scorers):

  * each crawled parent p in the batch distributes cash(p)/outdeg(p)
    to every discovered link row;
  * `score` becomes base_score + opic_weight · contribution (the
    engine's best-first order consumes it unchanged);
  * the cash state advances: distributing parents are zeroed, each
    target's cash grows by the SUM of its inflows this superstep
    (summed across parents even though the engine's first-discovery
    dedup keeps one row's score — state must conserve cash, the
    admission priority is per-discovery, matching the reference's
    first-discovery link scoring).

Known deviations from paper OPIC, both documented leaks, both safe:
  * a crawled page with zero outlinks never appears at the seam, so
    its cash is dropped rather than routed through the paper's
    "virtual page" (bounded by the leaf fraction of the crawl);
  * pages crawled before the scorer knew them (seeds resumed from a
    checkpoint, etc.) distribute `default_cash`.

Scale shape per superstep: one groupBy(parent) count (the batch is
superstep-sized, small), one join of the batch against the cash dim
on parent (hash join on url), one groupBy(canon) sum for the inflow,
and a localCheckpoint of the new cash table (O(discovered URLs) rows,
hash-keyed — the same class of state as the frontier itself; on
Iceberg this is one MERGE INTO).  No driver collect, no windows.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StructType

from crawl4ai_spark.functions.urlnorm import canonicalize_for_crawl
from crawl4ai_spark.plans.crawl import local_relation

__all__ = ["OpicScorer"]


class OpicScorer:
    """`link_score_fn` implementation maintaining OPIC cash state.

    Usage::

        scorer = OpicScorer(spark, seeds)
        eng = CrawlEngine(spark, cfg, pages, robots, link_score_fn=scorer)
        res = eng.run(seeds)
        scorer.cash          # (url, cash) importance of the frontier
    """

    def __init__(
        self,
        spark: SparkSession,
        seeds: list[str],
        opic_weight: float = 1.0,
        default_cash: float | None = None,
        keep_base_score: bool = True,
    ) -> None:
        # first occurrence of each canonical seed, in seed order
        canon = list(dict.fromkeys(
            c for c in (canonicalize_for_crawl(s, s) for s in seeds) if c
        ))
        n = max(len(canon), 1)
        self.spark = spark
        self.opic_weight = float(opic_weight)
        # a page first crawled without ever receiving cash distributes
        # the same initial endowment the seeds got
        self.default_cash = float(default_cash if default_cash is not None else 1.0 / n)
        self.keep_base_score = bool(keep_base_score)
        self.cash: DataFrame = local_relation(
            spark, [(u, 1.0 / n) for u in canon], StructType.fromDDL("url string, cash double")
        )
        self.supersteps = 0

    def __call__(self, links: DataFrame, iteration: int) -> DataFrame:
        outdeg = links.groupBy("parent_url").agg(
            F.count(F.lit(1)).alias("_n_out")
        )
        # batch-side join: the cash dim is keyed by url; the batch's
        # parents are superstep-sized, so this is a small hash join
        # (broadcast-able; left join keeps unknown parents at default)
        parent_cash = outdeg.join(
            self.cash.select(
                F.col("url").alias("parent_url"), F.col("cash").alias("_cash")
            ),
            "parent_url",
            "left",
        ).select(
            "parent_url",
            "_n_out",
            (F.coalesce("_cash", F.lit(self.default_cash)) / F.col("_n_out")
             ).alias("_contrib"),
        )
        scored = links.join(F.broadcast(parent_cash), "parent_url", "left")
        base = F.col("score") if self.keep_base_score else F.lit(0.0)
        out = scored.withColumn(
            "score",
            (base + F.lit(self.opic_weight) * F.coalesce("_contrib", F.lit(0.0))
             ).cast("double"),
        ).drop("_n_out", "_contrib")

        # ── advance the cash state (one job via eager checkpoint) ────
        inflow = (
            scored.groupBy(F.col("canon").alias("url"))
            .agg(F.sum("_contrib").alias("_in"))
        )
        distributed = parent_cash.select(F.col("parent_url").alias("url"))
        new_cash = (
            self.cash.join(distributed, "url", "left_anti")  # zero the spenders
            .unionByName(inflow.select("url", F.col("_in").alias("cash")))
            .groupBy("url")
            .agg(F.sum("cash").alias("cash"))
        )
        self.cash = new_cash.localCheckpoint(eager=True)
        self.supersteps += 1
        return out

    def total_cash(self) -> float:
        """Σ cash over the state (conservation probe for tests: grows
        only by default_cash endowments of cash-unknown parents, and
        shrinks only by the documented leaf/dedup leaks)."""
        row = self.cash.agg(F.sum("cash").alias("s")).collect()[0]
        return float(row["s"] or 0.0)
