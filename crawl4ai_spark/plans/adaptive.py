"""Adaptive crawl driver loop (the reference's `digest()`).

Clean-room re-expression of the reference's AdaptiveCrawler.digest
(crawl4ai/adaptive_crawler.py:1266-1441): crawl a start URL, then
repeatedly

  1. score confidence over the knowledge base gathered so far,
  2. stop if confident / out of budget / out of links / saturated,
  3. rank pending links by expected information gain,
  4. stop if the best link's expected gain is below min_gain_threshold,
  5. crawl the top-k links, fold them into the KB, repeat.

One loop serves both strategies.  A strategy object, picked from
`DigestConfig.strategy` like the reference's `_create_strategy`
(:1258-1272), supplies only the metrics, its two stop checks, link
ranking, its extra KB state and the final metrics.

Spark-first shape: the knowledge base and the pending-link frontier
live as DataFrames (text never collects to the driver); per iteration
the only driver traffic is the metric SCALARS and the ≤ top_k selected
hrefs.  The loop itself is a driver loop by nature — adaptive crawling
is a small-page-count, stop-early algorithm (max_pages defaults to 20
in the reference), so supersteps are few and each is a fully
distributed plan.  At scale the same loop runs with a fetch UDF
instead of the corpus join; the plan shapes are unchanged.
"""

from __future__ import annotations

from dataclasses import dataclass, field

from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StructType

from crawl4ai_spark.functions.bm25 import tokenize_py
from crawl4ai_spark.operators.adaptive import (
    adaptive_rank,
    confidence,
    consistency,
    coverage,
    new_terms_per_iteration,
    saturation,
)
from crawl4ai_spark.operators.embedding import (
    _query_df,
    coverage_gaps,
    embedding_confidence,
    hash_embed,
    kb_dedup_mask,
    query_variations,
    select_links,
    split_train_val,
    validation_score,
)
from crawl4ai_spark.plans.crawl import local_relation
from crawl4ai_spark.plans.state import SnapshotStore

__all__ = ["DigestConfig", "DigestResult", "adaptive_digest"]


@dataclass
class DigestConfig:
    """Mirrors the reference AdaptiveConfig defaults
    (adaptive_crawler.py:157-230; embedding params :180-230, factory
    `_create_strategy` :1258-1272 dispatches on `strategy`)."""

    confidence_threshold: float = 0.7
    max_depth: int = 5
    max_pages: int = 20
    top_k_links: int = 3
    min_gain_threshold: float = 0.1
    saturation_threshold: float = 0.8
    relevance_weight: float = 0.5
    novelty_weight: float = 0.3
    authority_weight: float = 0.2
    # strategy dispatch + EmbeddingStrategy parameters (defaults are
    # the reference's AdaptiveConfig values)
    strategy: str = "statistical"            # "statistical" | "embedding"
    n_query_variations: int = 10
    embedding_dim: int = 32                  # hash_embed width (model seam)
    embedding_min_confidence_threshold: float = 0.1
    embedding_coverage_radius: float = 0.2
    embedding_overlap_threshold: float = 0.85
    embedding_min_relative_improvement: float = 0.1
    embedding_validation_min_score: float = 0.4
    embedding_kb_threshold: float = 0.95     # KB near-dup gate
    coverage_tau: float | None = None        # None ⇒ mean best-sim
    # persistence (reference AdaptiveConfig :176-177 + CrawlState
    # .save/.load :53-111): saved once per completed iteration and
    # once at loop end; `adaptive_digest(resume_from=...)` reloads
    save_state: bool = False
    state_path: str | None = None


@dataclass
class DigestResult:
    kb: DataFrame                     # (url, iteration, text)
    crawl_order: list[str]
    metrics: dict[str, float]
    depth_reached: int
    stop_reason: str
    metrics_history: list[dict] = field(default_factory=list)


def _pending_links(batch: DataFrame, crawled: list[str], iteration: int) -> DataFrame:
    """(href, link_text, seq) exploded from a fetched batch.

    discovery seq = (iteration, fetch-rank of source page, within-page
    position): the reference appends links to pending in exactly this
    order, and its stable score sort preserves it on ties.  Fetch rank
    comes from the crawl order (a when-chain over ≤ max_pages urls —
    tiny)."""
    rank_expr = F.lit(0)
    for i, u in enumerate(crawled):
        rank_expr = F.when(F.col("_src") == u, F.lit(i)).otherwise(rank_expr)
    return (
        batch.select(
            F.col("url").alias("_src"),
            F.posexplode_outer("links").alias("_pos", "_lnk"),
        )
        .filter(F.col("_lnk.href").isNotNull())
        .select(
            F.col("_lnk.href").alias("href"),
            F.coalesce(F.col("_lnk.text"), F.lit("")).alias("link_text"),
            (F.lit(iteration) * F.lit(1 << 40)
             + rank_expr.cast("long") * F.lit(1 << 20)
             + F.col("_pos")).alias("seq"),
        )
    )


# ═════════════════════ strategies ════════════════════════════════════

class _Statistical:
    """StatisticalStrategy: confidence = 0.4·coverage +
    0.3·consistency + 0.3·saturation over the KB; links ranked by
    expected information gain (w_r·relevance + w_n·novelty +
    w_a·authority — operators.adaptive.adaptive_rank, R11)."""

    def __init__(self, spark: SparkSession, query: str, cfg: DigestConfig) -> None:
        self.query, self.cfg = query, cfg
        # reference link/query tokenizer (_tokenize :576-585): word
        # tokens, length > 2, order kept
        self.qt = [t for t in tokenize_py(query) if len(t) > 2]
        self.tables: dict[str, DataFrame] = {}

    def merge(self, batch: DataFrame) -> None:
        pass

    def measure(self, kb: DataFrame) -> dict[str, float]:
        kb_named = kb.select(F.col("url").alias("doc_id"), "iteration", "text")
        cov = coverage(kb_named, self.qt)
        cons = consistency(kb_named)
        sat = saturation(new_terms_per_iteration(kb_named))
        return {"coverage": cov, "consistency": cons,
                "saturation": sat, "confidence": confidence(cov, cons, sat)}

    def first_stop(self, metrics: dict) -> str | None:
        if metrics["confidence"] >= self.cfg.confidence_threshold:
            return "confidence"
        return None

    def second_stop(self, metrics: dict) -> str | None:
        if metrics["saturation"] >= self.cfg.saturation_threshold:
            return "saturation"
        return None

    def rank(self, cand: DataFrame, kb: DataFrame) -> DataFrame:
        return adaptive_rank(
            cand.select(F.col("href").alias("doc_id"),
                        F.col("link_text").alias("text"), "seq"),
            kb.select("text"),
            self.query,
            relevance_weight=self.cfg.relevance_weight,
            novelty_weight=self.cfg.novelty_weight,
            authority_weight=self.cfg.authority_weight,
        ).select(F.col("doc_id").alias("href"),
                 F.col("adaptive_score").alias("score"), "seq")

    def final(self, metrics: dict, kb: DataFrame, ran_out: bool) -> dict:
        # a loop that fell off the end recomputes its metrics like the
        # reference's final calculate_confidence (digest :1387-1397)
        return self.measure(kb) if ran_out else metrics


class _Embedding:
    """EmbeddingStrategy on deterministic hash embeddings
    (operators/embedding — the documented model/LLM seams).

    Confidence = mean best-cosine of the train-query points vs the
    near-dup-deduped KB embeddings.  The strategy stops below the
    minimum relevance first, and after the shared checks on
    convergence (avg |Δconfidence| < min_relative_improvement ·
    confidence) gated by held-out validation (:1093-1140).  Links rank
    by gap-filling score (×2-amplified mean improvement over uncovered
    gaps × (1 − overlap penalty)).  Final confidence maps through the
    reference's quality bands (get_quality_confidence :1143-1168; its
    active coverage score feeds the mapping — the reference reads a
    stale 'learning_score' key its active confidence never writes, an
    internal inconsistency we resolve toward the evident intent).

    Spark shape: every product (KB×queries, links×queries, links×KB)
    is a broadcast of the tiny query set or the ≤max_pages-row KB
    against the distributed side, aggregated map-side.  Driver traffic
    per iteration: the confidence scalar, ≤n_variations gap rows, and
    the ≤top_k selected hrefs."""

    def __init__(self, spark: SparkSession, query: str, cfg: DigestConfig) -> None:
        self.cfg = cfg
        # map the query semantic space (digest :1290-1299); original
        # query always trains, last max(2, 20%) variations validate
        train_q, val_q = split_train_val(
            query, query_variations(query, cfg.n_query_variations))
        self.train_df = _query_df(spark, train_q, cfg.embedding_dim).localCheckpoint(eager=True)
        self.val_df = _query_df(spark, val_q, cfg.embedding_dim).localCheckpoint(eager=True)
        self.tables = {"kb_emb": None}  # (url, vec) — near-dup-deduped KB
        # not persisted, like the reference's CrawlState: a resumed run
        # starts its convergence history fresh
        self.conf_history: list[float] = []

    def merge(self, batch: DataFrame) -> None:
        # update_state (:1170-1220): embed, drop near-dups vs the PRIOR
        # KB (threshold 0.95), extend
        emb_batch = batch.select(
            "url", hash_embed("text", self.cfg.embedding_dim).alias("vec"))
        kb_emb = self.tables["kb_emb"]
        emb_new = kb_dedup_mask(
            emb_batch, kb_emb, vec_col="vec",
            threshold=self.cfg.embedding_kb_threshold,
        ).select("url", "vec")
        self.tables["kb_emb"] = (
            emb_new if kb_emb is None else kb_emb.union(emb_new)
        ).localCheckpoint(eager=True)

    def measure(self, kb: DataFrame) -> dict[str, float]:
        return {"confidence": embedding_confidence(
            self.tables["kb_emb"], self.train_df, vec_col="vec",
            qvec_col="qvec", tau=self.cfg.coverage_tau)}

    def first_stop(self, metrics: dict) -> str | None:
        if metrics["confidence"] < self.cfg.embedding_min_confidence_threshold:
            metrics["is_irrelevant"] = 1.0
            return "below_minimum_relevance_threshold"
        return None

    def second_stop(self, metrics: dict) -> str | None:
        cfg, conf, hist = self.cfg, metrics["confidence"], self.conf_history
        hist.append(conf)  # appended after basic limits (:1113)
        if len(hist) < 2:
            return None
        avg_improvement = sum(abs(b - a) for a, b in zip(hist, hist[1:])) / (len(hist) - 1)
        metrics["avg_improvement"] = avg_improvement
        if avg_improvement < cfg.embedding_min_relative_improvement * conf:
            val = validation_score(self.tables["kb_emb"], self.val_df,
                                   vec_col="vec", qvec_col="qvec")
            metrics["validation_confidence"] = val
            if val > cfg.embedding_validation_min_score:
                metrics["validation_passed"] = 1.0
                return "converged_validated"
            # low_validation: keep crawling despite convergence
        return None

    def rank(self, cand: DataFrame, kb: DataFrame) -> DataFrame:
        # rank_links (:1024-1054): gaps vs train queries, then
        # gap-filling link scores; zero-text links are skipped like the
        # reference's empty link_text guard (:869-871)
        kb_emb = self.tables["kb_emb"]
        gaps_q = coverage_gaps(kb_emb, self.train_df, vec_col="vec", qvec_col="qvec")
        gaps_q = self.train_df.join(gaps_q, "qid").select("qid", "qvec", "gap")
        cand_emb = cand.withColumn(
            "lvec", hash_embed("link_text", self.cfg.embedding_dim)
        ).filter(F.exists(F.col("lvec"), lambda x: x != 0))
        return select_links(
            cand_emb, gaps_q, kb_emb,
            coverage_radius=self.cfg.embedding_coverage_radius,
            overlap_threshold=self.cfg.embedding_overlap_threshold,
            vec_col="vec", link_vec_col="lvec",
        ).select("href", F.col("emb_score").alias("score"), "seq")

    def final(self, metrics: dict, kb: DataFrame, ran_out: bool) -> dict:
        # final confidence through the quality bands (:1143-1168)
        learning = self.measure(kb)["confidence"]
        metrics["coverage_score"] = learning
        if metrics.get("validation_passed", 0.0) < 1.0:
            quality = learning * 0.8
        elif learning < 0.4:
            quality = 0.7
        elif learning > 0.7:
            quality = 0.95
        else:
            quality = 0.7 + (learning - 0.4) * 0.833
        metrics["confidence"] = quality
        return metrics


_STRATEGIES = {"statistical": _Statistical, "embedding": _Embedding}


def _load_digest_state(spark: SparkSession, path: str, strategy: str) -> dict:
    """CrawlState.load (reference :82-111).  Raises on a strategy
    mismatch: the two strategies keep different derived state (the
    embedding KB is near-dup-deduped in crawl order) and silently
    rebuilding it would diverge from an uninterrupted run."""
    store = SnapshotStore(path)
    m = store.read_manifest()
    if m is None:
        raise FileNotFoundError(f"no saved digest state at {path!r}")
    meta = m["state"]
    if meta["strategy"] != strategy:
        raise ValueError(
            f"state at {path!r} was saved by the {meta['strategy']!r} "
            f"strategy; resuming with {strategy!r} is not supported"
        )
    out = dict(meta)
    for name in m["tables"]:
        out[name] = store.load(spark, name).localCheckpoint(eager=True)
    return out


def adaptive_digest(
    spark: SparkSession,
    pages: DataFrame,
    start_url: str,
    query: str,
    cfg: DigestConfig | None = None,
    url_col: str = "url",
    text_col: str = "text",
    links_col: str = "links",
    resume_from: str | None = None,
) -> DigestResult:
    """Crawl-until-confident over a page corpus.

    `pages` columns: (url_col: string, text_col: string, links_col:
    array<struct<href:string, text:string>>) — the extracted-document
    shape (CrawlEngine docs map onto it via url/markdown/links).

    Stop semantics in the reference's evaluation ORDER (digest
    :1325-1349 + should_stop :505-525, :1093-1140): the strategy's
    first check (statistical confidence, embedding below-minimum-
    relevance) → max_pages → frontier exhausted → the strategy's
    second check (statistical saturation, embedding convergence plus
    validation) → no rankable links → min-gain.  Link selection is
    score DESC, discovery-seq ASC — the reference's stable sort over
    append-ordered pending links.

    `resume_from`: a `state_path` directory saved by a prior run
    (cfg.save_state) — the KB/pending tables reload and the loop
    continues (reference digest(resume_from=...) :1280-1288; like the
    reference, the depth counter restarts at 0 and, for the embedding
    strategy, the convergence history starts fresh — the reference's
    CrawlState does not persist confidence_history either).
    """
    cfg = cfg or DigestConfig()
    if cfg.strategy not in _STRATEGIES:
        raise ValueError(f"Unknown strategy: {cfg.strategy}")  # factory :1258-1272
    strategy = _STRATEGIES[cfg.strategy](spark, query, cfg)

    crawled: list[str] = []  # urls only — O(max_pages) driver state
    # (url, iteration, text) and (href, link_text, seq) — stay distributed
    kb = local_relation(spark, [], StructType.fromDDL(
        "url string, iteration int, text string"))
    pending = local_relation(spark, [], StructType.fromDDL(
        "href string, link_text string, seq long"))
    metrics: dict[str, float] = {}
    history: list[dict] = []

    def _fetch(urls: list[str], iteration: int) -> DataFrame:
        return pages.filter(F.col(url_col).isin(urls)).select(
            F.col(url_col).alias("url"), F.lit(iteration).alias("iteration"),
            F.col(text_col).alias("text"), F.col(links_col).alias("links"),
        ).localCheckpoint(eager=True)  # cut lineage; batch is ≤ top_k rows

    def _merge(batch: DataFrame, iteration: int) -> None:
        nonlocal kb, pending
        kb = kb.union(batch.select("url", "iteration", "text"))
        strategy.merge(batch)
        pending = pending.union(_pending_links(batch, crawled, iteration))

    it0 = 0  # iteration-label base: continues the KB's numbering on
    #          resume so per-iteration metrics (saturation's new-term
    #          history) see one consistent timeline
    if resume_from:
        st = _load_digest_state(spark, resume_from, cfg.strategy)
        crawled, kb, pending = st["crawled"], st["kb"], st["pending"]
        history = list(st["history"])
        strategy.tables = {name: st[name] for name in strategy.tables}
        it0 = kb.agg(F.max("iteration").alias("m")).collect()[0]["m"] or 0

    # ── initial crawl, skipped when already crawled (digest :1303) ───
    if start_url not in crawled:
        batch0 = _fetch([start_url], 0)
        if batch0.limit(1).count() == 0:
            if not crawled:
                return DigestResult(kb=kb, crawl_order=[], metrics={},
                                    depth_reached=0, stop_reason="no_start")
        else:
            crawled.append(start_url)
            _merge(batch0, 0)

    def _save(depth_now: int) -> None:
        """CrawlState.save (reference :53-80) in Spark form: one
        SnapshotStore commit of the KB / pending-link / strategy tables
        (they are DataFrames — text never collects) with the scalar
        state (crawl order, metrics, history, query) in the manifest.
        Written once per completed iteration + once at loop end (digest
        :1385,:1402); the manifest swap is the commit point, so a crash
        mid-save leaves the previous save loadable."""
        if cfg.save_state and cfg.state_path:
            SnapshotStore(cfg.state_path).commit(
                snapshot_id=depth_now,
                tables={"kb": kb, "pending": pending, **strategy.tables},
                state={"strategy": cfg.strategy, "query": query,
                       "crawled": list(crawled), "metrics": dict(metrics),
                       "history": history, "depth": depth_now},
            )

    depth = 0
    while depth < cfg.max_depth:
        metrics = strategy.measure(kb)
        history.append({"depth": depth, "pages": len(crawled), **metrics})

        # should_stop — each strategy's reference order
        stop_reason = strategy.first_stop(metrics)
        if stop_reason:
            break
        if len(crawled) >= cfg.max_pages:
            stop_reason = "max_pages"
            break
        # dedup pending by first discovery, drop crawled; counted on the checkpoint
        n_cand = Observation()
        cand = (
            pending.groupBy("href")
            .agg(F.min("seq").alias("seq"),
                 F.min_by("link_text", "seq").alias("link_text"))
            .filter(~F.col("href").isin(crawled))
            .observe(n_cand, F.count(F.lit(1)).alias("n"))
            .localCheckpoint(eager=True)
        )
        if n_cand.get["n"] == 0:
            stop_reason = "exhausted"
            break
        stop_reason = strategy.second_stop(metrics)
        if stop_reason:
            break

        top = (
            strategy.rank(cand, kb)
            .orderBy(F.desc("score"), F.asc("seq"))
            .limit(cfg.top_k_links)
            .collect()
        )
        if not top:
            stop_reason = "exhausted"
            break
        if top[0]["score"] < cfg.min_gain_threshold:
            stop_reason = "min_gain"
            break

        to_crawl = [r["href"] for r in top]
        batch = _fetch(to_crawl, it0 + depth + 1)
        got = {r["url"] for r in batch.select("url").collect()}
        crawled.extend(u for u in to_crawl if u in got)
        if got:
            _merge(batch, it0 + depth + 1)
        depth += 1
        kb = kb.localCheckpoint(eager=True)
        pending = pending.localCheckpoint(eager=True)
        _save(depth)  # per-iteration save (digest :1385)
    else:
        stop_reason = "max_depth"

    metrics = strategy.final(metrics, kb, stop_reason == "max_depth")
    metrics["pages_crawled"] = float(len(crawled))
    metrics["depth_reached"] = float(depth)
    _save(depth)  # final save (digest :1402)
    return DigestResult(
        kb=kb.select("url", "iteration", "text"),
        crawl_order=list(crawled),
        metrics=metrics,
        depth_reached=depth,
        stop_reason=stop_reason,
        metrics_history=history,
    )
