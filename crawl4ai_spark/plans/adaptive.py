"""Adaptive crawl driver loop (the reference's `digest()`).

Clean-room re-expression of AdaptiveCrawler.digest + StatisticalStrategy
(/root/reference/crawl4ai/adaptive_crawler.py:1266-1441, should_stop
:505-525, rank_links :391-417): crawl a start URL, then repeatedly

  1. score confidence = 0.4·coverage + 0.3·consistency + 0.3·saturation
     over the knowledge base gathered so far,
  2. stop if confident / out of budget / out of links / saturated,
  3. rank pending links by expected information gain
     (w_r·relevance + w_n·novelty + w_a·authority — operators.adaptive
     .adaptive_rank, R11),
  4. stop if the best link's expected gain is below min_gain_threshold,
  5. crawl the top-k links, fold them into the KB, repeat.

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

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from crawl4ai_spark.functions.bm25 import tokenize_py
from crawl4ai_spark.operators.adaptive import (
    adaptive_rank,
    confidence,
    consistency,
    coverage,
    new_terms_per_iteration,
    saturation,
)
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


def _query_terms(query: str) -> list[str]:
    """Reference link/query tokenizer (_tokenize,
    adaptive_crawler.py:576-585): word tokens, length > 2, order kept."""
    return [t for t in tokenize_py(query) if len(t) > 2]



def _pending_links(batch: DataFrame, crawled: list[str], iteration: int) -> DataFrame:
    """(href, link_text, seq) exploded from a fetched batch.

    discovery seq = (iteration, fetch-rank of source page, within-page
    position): the reference appends links to pending in exactly this
    order, and its stable score sort preserves it on ties.  Fetch rank
    comes from the crawl order (a when-chain over ≤ max_pages urls —
    tiny).  Shared by the statistical and embedding digests so the two
    strategies' pending-link ordering can never diverge."""
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



# ═════════════════════ state persistence ═════════════════════════════

def _save_digest_state(
    path: str, strategy: str, query: str, crawled: list[str],
    kb: DataFrame, pending: DataFrame | None,
    metrics: dict, history: list[dict], depth: int,
    kb_emb: DataFrame | None = None,
) -> None:
    """CrawlState.save (reference adaptive_crawler.py:53-80) in Spark
    form: one SnapshotStore commit of the KB / pending-link /
    embedding-KB tables (they are DataFrames — text never collects)
    with the scalar state (crawl order, metrics, history, query) in
    the manifest.  Written once per completed iteration + once at loop
    end (digest :1385,:1402); the manifest swap is the commit point,
    so a crash mid-save leaves the previous save loadable."""
    tables = {"kb": kb}
    if pending is not None:
        tables["pending"] = pending
    if kb_emb is not None:
        tables["kb_emb"] = kb_emb
    SnapshotStore(path).commit(
        snapshot_id=depth,
        tables=tables,
        state={
            "strategy": strategy, "query": query, "crawled": list(crawled),
            "metrics": dict(metrics), "history": history, "depth": depth,
        },
    )


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
    for name in ("kb", "pending", "kb_emb"):
        df = store.load(spark, name)
        out[name] = None if df is None else df.localCheckpoint(eager=True)
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

    Stop semantics in the reference's evaluation ORDER
    (digest :1325-1349 + should_stop :505-525): confidence →
    max_pages → frontier exhausted → saturation → no rankable links →
    min-gain.  Link selection is rank DESC, discovery-seq ASC — the
    reference's stable sort over append-ordered pending links.

    `resume_from`: a `state_path` directory saved by a prior run
    (cfg.save_state) — the KB/pending tables reload and the loop
    continues (reference digest(resume_from=...) :1280-1288; like the
    reference, the depth counter restarts at 0 and, for the embedding
    strategy, the convergence history starts fresh — the reference's
    CrawlState does not persist confidence_history either).
    """
    cfg = cfg or DigestConfig()
    if cfg.strategy == "embedding":
        return _embedding_digest(
            spark, pages, start_url, query, cfg, url_col, text_col, links_col,
            resume_from=resume_from,
        )
    if cfg.strategy != "statistical":
        raise ValueError(f"Unknown strategy: {cfg.strategy}")  # factory :1272
    qt = _query_terms(query)

    pages = pages.select(
        F.col(url_col).alias("url"),
        F.col(text_col).alias("text"),
        F.col(links_col).alias("links"),
    )

    crawled: list[str] = []           # urls only — O(max_pages) driver state
    kb: DataFrame | None = None       # (url, iteration, text) — stays distributed
    pending: DataFrame | None = None  # (href, link_text, seq) — stays distributed
    metrics: dict[str, float] = {}
    history: list[dict] = []

    def _fetch(urls: list[str], iteration: int) -> DataFrame:
        batch = pages.filter(F.col("url").isin(urls))
        return batch.select(
            "url", F.lit(iteration).alias("iteration"), "text", "links"
        ).localCheckpoint(eager=True)  # cut lineage; batch is ≤ top_k rows

    def _merge(batch: DataFrame, iteration: int) -> None:
        nonlocal kb, pending, crawled
        fetched = batch.select("url", "iteration", "text")
        kb = fetched if kb is None else kb.union(fetched)
        links = _pending_links(batch, crawled, iteration)
        pending = links if pending is None else pending.union(links)

    it0 = 0  # iteration-label base: continues the KB's numbering on
    #          resume so per-iteration metrics (saturation's new-term
    #          history) see one consistent timeline
    if resume_from:
        st = _load_digest_state(spark, resume_from, "statistical")
        crawled, kb, pending = st["crawled"], st["kb"], st["pending"]
        history = list(st["history"])
        if kb is not None:
            it0 = kb.agg(F.max("iteration").alias("m")).collect()[0]["m"] or 0

    # ── initial crawl, skipped when already crawled (digest :1303) ───
    if start_url not in crawled:
        batch0 = _fetch([start_url], 0)
        if batch0.limit(1).count() == 0:
            if not crawled:
                return DigestResult(
                    kb=spark.createDataFrame(
                        [], "url string, iteration int, text string"),
                    crawl_order=[], metrics={}, depth_reached=0,
                    stop_reason="no_start",
                )
        else:
            crawled.append(start_url)
            _merge(batch0, 0)

    def _save(depth_now: int) -> None:
        if cfg.save_state and cfg.state_path:
            _save_digest_state(
                cfg.state_path, "statistical", query, crawled, kb, pending,
                metrics, history, depth_now,
            )

    depth = 0
    stop_reason = "max_depth"
    while depth < cfg.max_depth:
        # dedup pending by first discovery, drop crawled
        cand = (
            pending.groupBy("href")
            .agg(F.min("seq").alias("seq"), F.min_by("link_text", "seq").alias("link_text"))
            .filter(~F.col("href").isin(crawled))
        )

        # metrics over the current KB
        kb_named = kb.select(F.col("url").alias("doc_id"), "iteration", "text")
        cov = coverage(kb_named, qt)
        cons = consistency(kb_named)
        sat = saturation(new_terms_per_iteration(kb_named))
        conf = confidence(cov, cons, sat)
        metrics = {
            "coverage": cov, "consistency": cons,
            "saturation": sat, "confidence": conf,
        }
        history.append({"depth": depth, "pages": len(crawled), **metrics})

        # should_stop — reference order (should_stop :505-525)
        if conf >= cfg.confidence_threshold:
            stop_reason = "confidence"
            break
        if len(crawled) >= cfg.max_pages:
            stop_reason = "max_pages"
            break
        if cand.limit(1).count() == 0:
            stop_reason = "exhausted"
            break
        if sat >= cfg.saturation_threshold:
            stop_reason = "saturation"
            break

        # rank pending links by expected information gain (R11)
        ranked = adaptive_rank(
            cand.select(F.col("href").alias("doc_id"),
                        F.col("link_text").alias("text"), "seq"),
            kb_named.select("text"),
            query,
            relevance_weight=cfg.relevance_weight,
            novelty_weight=cfg.novelty_weight,
            authority_weight=cfg.authority_weight,
        )
        top = (
            ranked.orderBy(F.desc("adaptive_score"), F.asc("seq"))
            .limit(cfg.top_k_links)
            .select(F.col("doc_id").alias("href"), "adaptive_score")
            .collect()
        )
        if not top:
            stop_reason = "exhausted"
            break
        if top[0]["adaptive_score"] < cfg.min_gain_threshold:
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
        # loop fell off the end: recompute final metrics like the
        # reference's final calculate_confidence (digest :1387-1397)
        kb_named = kb.select(F.col("url").alias("doc_id"), "iteration", "text")
        cov = coverage(kb_named, qt)
        cons = consistency(kb_named)
        sat = saturation(new_terms_per_iteration(kb_named))
        metrics = {
            "coverage": cov, "consistency": cons, "saturation": sat,
            "confidence": confidence(cov, cons, sat),
        }

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


# ═════════════════════ EmbeddingStrategy digest ══════════════════════

def _embedding_digest(
    spark: SparkSession,
    pages: DataFrame,
    start_url: str,
    query: str,
    cfg: DigestConfig,
    url_col: str,
    text_col: str,
    links_col: str,
    resume_from: str | None = None,
) -> DigestResult:
    """The reference's EmbeddingStrategy digest loop
    (adaptive_crawler.py:593-1228 + digest :1290-1397) on deterministic
    hash embeddings (operators/embedding — the documented model/LLM
    seams).

    Per iteration: confidence = mean best-cosine of the train-query
    points vs the (near-dup-deduped) KB embeddings; should_stop in the
    reference's exact order (:1093-1140): below-minimum-relevance →
    max_pages → frontier exhausted → convergence (avg |Δconfidence| <
    min_relative_improvement·confidence) gated by held-out validation;
    then links are ranked by gap-filling score (×2-amplified mean
    improvement over uncovered gaps × (1 − overlap penalty)) and the
    top-k crawled.  Final confidence maps through the reference's
    quality bands (get_quality_confidence :1143-1168; its active
    coverage score feeds the mapping — the reference reads a stale
    'learning_score' key its active confidence never writes, an
    internal inconsistency we resolve toward the evident intent).

    Spark shape: KB text and embeddings stay DataFrames; every product
    (KB×queries, links×queries, links×KB) is a broadcast of the tiny
    query set or the ≤max_pages-row KB against the distributed side,
    aggregated map-side.  Driver traffic per iteration: the confidence
    scalar, ≤n_variations gap rows, and the ≤top_k selected hrefs —
    identical to the statistical loop's contract.
    """
    from crawl4ai_spark.operators.embedding import (
        coverage_gaps,
        embedding_confidence,
        hash_embed,
        kb_dedup_mask,
        query_variations,
        select_links,
        split_train_val,
        validation_score,
        _query_df,
    )

    dim = cfg.embedding_dim
    pages = pages.select(
        F.col(url_col).alias("url"),
        F.col(text_col).alias("text"),
        F.col(links_col).alias("links"),
    )

    # map the query semantic space (digest :1290-1299); original query
    # always trains, last max(2, 20%) variations validate
    variations = query_variations(query, cfg.n_query_variations)
    train_q, val_q = split_train_val(query, variations)
    train_df = _query_df(spark, train_q, dim).localCheckpoint(eager=True)
    val_df = _query_df(spark, val_q, dim).localCheckpoint(eager=True)

    crawled: list[str] = []
    kb_docs: DataFrame | None = None   # (url, iteration, text) — ALL results
    kb_emb: DataFrame | None = None    # (url, vec) — near-dup-deduped KB
    pending: DataFrame | None = None   # (href, link_text, seq)
    metrics: dict[str, float] = {}
    history: list[dict] = []
    conf_history: list[float] = []

    def _fetch(urls: list[str], iteration: int) -> DataFrame:
        batch = pages.filter(F.col("url").isin(urls))
        return batch.select(
            "url", F.lit(iteration).alias("iteration"), "text", "links"
        ).localCheckpoint(eager=True)

    def _merge(batch: DataFrame, iteration: int) -> None:
        nonlocal kb_docs, kb_emb, pending
        fetched = batch.select("url", "iteration", "text")
        kb_docs = fetched if kb_docs is None else kb_docs.union(fetched)
        # update_state (:1170-1220): embed, drop near-dups vs the PRIOR
        # KB (threshold 0.95), extend
        emb_batch = batch.select("url", hash_embed("text", dim).alias("vec"))
        emb_new = kb_dedup_mask(
            emb_batch, kb_emb, vec_col="vec", threshold=cfg.embedding_kb_threshold
        ).select("url", "vec")
        kb_emb = (
            emb_new if kb_emb is None else kb_emb.union(emb_new)
        ).localCheckpoint(eager=True)
        # pending-link append order ≡ statistical loop (shared helper)
        links = _pending_links(batch, crawled, iteration)
        pending = links if pending is None else pending.union(links)

    it0 = 0
    if resume_from:
        st = _load_digest_state(spark, resume_from, "embedding")
        crawled, kb_docs, pending = st["crawled"], st["kb"], st["pending"]
        kb_emb = st["kb_emb"]
        history = list(st["history"])
        if kb_docs is not None:
            it0 = kb_docs.agg(
                F.max("iteration").alias("m")
            ).collect()[0]["m"] or 0

    # ── initial crawl, skipped when already crawled (digest :1303) ───
    if start_url not in crawled:
        batch0 = _fetch([start_url], 0)
        if batch0.limit(1).count() == 0:
            if not crawled:
                return DigestResult(
                    kb=spark.createDataFrame(
                        [], "url string, iteration int, text string"),
                    crawl_order=[], metrics={}, depth_reached=0,
                    stop_reason="no_start",
                )
        else:
            crawled.append(start_url)
            _merge(batch0, 0)

    def _save(depth_now: int) -> None:
        if cfg.save_state and cfg.state_path:
            _save_digest_state(
                cfg.state_path, "embedding", query, crawled, kb_docs,
                pending, metrics, history, depth_now, kb_emb=kb_emb,
            )

    depth = 0
    stop_reason = "max_depth"
    while depth < cfg.max_depth:
        conf = embedding_confidence(
            kb_emb, train_df, vec_col="vec", qvec_col="qvec", tau=cfg.coverage_tau
        )
        metrics = {"confidence": conf}
        history.append({"depth": depth, "pages": len(crawled), "confidence": conf})

        # should_stop — reference order (:1093-1140)
        if conf < cfg.embedding_min_confidence_threshold and crawled:
            stop_reason = "below_minimum_relevance_threshold"
            metrics["is_irrelevant"] = 1.0
            break
        if len(crawled) >= cfg.max_pages:
            stop_reason = "max_pages"
            break
        cand = (
            pending.groupBy("href")
            .agg(F.min("seq").alias("seq"),
                 F.min_by("link_text", "seq").alias("link_text"))
            .filter(~F.col("href").isin(crawled))
            .localCheckpoint(eager=True)
        )
        if cand.limit(1).count() == 0:
            stop_reason = "exhausted"
            break
        conf_history.append(conf)  # appended after basic limits (:1113)
        if len(conf_history) >= 2:
            pairs = list(zip(conf_history[:-1], conf_history[1:]))
            avg_improvement = sum(abs(b - a) for a, b in pairs) / len(pairs)
            metrics["avg_improvement"] = avg_improvement
            if avg_improvement < cfg.embedding_min_relative_improvement * conf:
                val = validation_score(kb_emb, val_df, vec_col="vec", qvec_col="qvec")
                metrics["validation_confidence"] = val
                if val > cfg.embedding_validation_min_score:
                    stop_reason = "converged_validated"
                    metrics["validation_passed"] = 1.0
                    break
                # low_validation: keep crawling despite convergence

        # rank_links (:1024-1054): gaps vs train queries, then
        # gap-filling link scores; zero-text links are skipped like the
        # reference's empty link_text guard (:869-871)
        gaps_q = coverage_gaps(kb_emb, train_df, vec_col="vec", qvec_col="qvec")
        gaps_q = train_df.join(gaps_q, "qid").select("qid", "qvec", "gap")
        cand_emb = cand.withColumn("lvec", hash_embed("link_text", dim)).filter(
            F.exists(F.col("lvec"), lambda x: x != 0)
        )
        ranked = select_links(
            cand_emb, gaps_q, kb_emb,
            coverage_radius=cfg.embedding_coverage_radius,
            overlap_threshold=cfg.embedding_overlap_threshold,
            vec_col="vec", link_vec_col="lvec",
        )
        top = (
            ranked.orderBy(F.desc("emb_score"), F.asc("seq"))
            .limit(cfg.top_k_links)
            .select("href", "emb_score")
            .collect()
        )
        if not top:
            stop_reason = "exhausted"
            break
        if top[0]["emb_score"] < cfg.min_gain_threshold:
            stop_reason = "min_gain"
            break

        to_crawl = [r["href"] for r in top]
        batch = _fetch(to_crawl, it0 + depth + 1)
        got = {r["url"] for r in batch.select("url").collect()}
        crawled.extend(u for u in to_crawl if u in got)
        if got:
            _merge(batch, it0 + depth + 1)
        depth += 1
        kb_docs = kb_docs.localCheckpoint(eager=True)
        pending = pending.localCheckpoint(eager=True)
        _save(depth)  # per-iteration save (digest :1385)

    # final confidence through the quality bands (:1143-1168)
    learning = embedding_confidence(
        kb_emb, train_df, vec_col="vec", qvec_col="qvec", tau=cfg.coverage_tau
    )
    metrics["coverage_score"] = learning
    validated = metrics.get("validation_passed", 0.0) >= 1.0
    if validated:
        if learning < 0.4:
            quality = 0.7
        elif learning > 0.7:
            quality = 0.95
        else:
            quality = 0.7 + (learning - 0.4) * 0.833
    else:
        quality = learning * 0.8
    metrics["confidence"] = quality
    metrics["pages_crawled"] = float(len(crawled))
    metrics["depth_reached"] = float(depth)
    _save(depth)  # final save (digest :1402)
    return DigestResult(
        kb=kb_docs.select("url", "iteration", "text"),
        crawl_order=list(crawled),
        metrics=metrics,
        depth_reached=depth,
        stop_reason=stop_reason,
        metrics_history=history,
    )
