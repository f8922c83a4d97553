"""Sequential adaptive-digest simulator — the parity oracle for
plans/adaptive.adaptive_digest.

Pure-Python, dict/set-based re-implementation of the same digest
semantics (reference adaptive_crawler.py:1266-1441 loop,
should_stop :505-525, rank_links :391-417, metric formulas as pinned
by operators/adaptive.py's goldens).  No Spark: this is the
independent implementation the engine must agree with on crawl order,
stop iteration, stop reason, and metric values.
"""

from __future__ import annotations

import math
import re
from dataclasses import dataclass, field


def _tokens(text: str) -> list[str]:
    return [t for t in re.split(r"[^a-z0-9]+", text.lower()) if t]


def _preview_terms(text: str) -> set[str]:
    return {t for t in _tokens(text) if len(t) > 2}


def _coverage(kb_texts: list[str], query_terms: list[str]) -> float:
    n = len(kb_texts)
    if n == 0 or not query_terms:
        return 0.0
    tf: dict[str, int] = {}
    df: dict[str, int] = {}
    for text in kb_texts:
        toks = _tokens(text)
        for t in toks:
            tf[t] = tf.get(t, 0) + 1
        for t in set(toks):
            df[t] = df.get(t, 0) + 1
    total = 0.0
    for t in query_terms:
        tft, dft = tf.get(t, 0), df.get(t, 0)
        tf_norm = min(1.0, math.log(1 + tft) / math.log(10)) if tft else 0.0
        total += (dft / n) * (1 + 0.5 * tf_norm)
    return math.sqrt(total / len(query_terms))


def _consistency(kb_texts: list[str]) -> float:
    n = len(kb_texts)
    if n < 2:
        return 1.0 if n == 1 else 0.0
    sets = [set(_tokens(t)) for t in kb_texts]
    s = 0.0
    for i in range(n):
        for j in range(i + 1, n):
            inter = len(sets[i] & sets[j])
            if inter:
                s += inter / len(sets[i] | sets[j])
    return s / (n * (n - 1) // 2)


def _saturation(history: list[int]) -> float:
    if len(history) < 2:
        return 0.0
    k = max(1, len(history) // 3)
    initial = sum(history[:k]) / k
    recent = sum(history[-k:]) / k
    if initial <= 0:
        return 1.0
    return max(0.0, min(1.0, 1.0 - recent / initial))


@dataclass
class SimDigestResult:
    crawl_order: list[str]
    metrics: dict[str, float]
    depth_reached: int
    stop_reason: str
    metrics_history: list[dict] = field(default_factory=list)


def simulate_digest(
    pages: dict[str, tuple[str, list[tuple[str, str]]]],
    start_url: str,
    query: str,
    confidence_threshold: float = 0.7,
    max_depth: int = 5,
    max_pages: int = 20,
    top_k_links: int = 3,
    min_gain_threshold: float = 0.1,
    saturation_threshold: float = 0.8,
    relevance_weight: float = 0.5,
    novelty_weight: float = 0.3,
    authority_weight: float = 0.2,
) -> SimDigestResult:
    """pages: url -> (text, [(href, link_text), ...])."""
    qt_cov = [t for t in _tokens(query) if len(t) > 2]      # dups kept (coverage)
    qt_rel = set(qt_cov)                                    # distinct (relevance)

    crawled: list[str] = []
    kb_texts: list[str] = []
    kb_iters: list[int] = []
    # pending: href -> (seq tuple, link_text) at FIRST discovery
    pending: dict[str, tuple[tuple[int, int, int], str]] = {}

    def merge(urls: list[str], iteration: int) -> None:
        for u in urls:
            text, links = pages[u]
            kb_texts.append(text)
            kb_iters.append(iteration)
            src_rank = crawled.index(u)
            for pos, (href, ltext) in enumerate(links):
                if href is None:
                    continue
                seq = (iteration, src_rank, pos)
                # keep the MIN-seq discovery and its text (engine:
                # groupBy href, min(seq), min_by(link_text, seq))
                if href not in pending or seq < pending[href][0]:
                    pending[href] = (seq, ltext or "")

    def new_terms_history() -> list[int]:
        first_iter: dict[str, int] = {}
        for text, it in zip(kb_texts, kb_iters):
            for t in set(_tokens(text)):
                if t not in first_iter or it < first_iter[t]:
                    first_iter[t] = it
        if not first_iter:
            return []
        counts: dict[int, int] = {}
        for it in first_iter.values():
            counts[it] = counts.get(it, 0) + 1
        lo, hi = min(counts), max(counts)
        return [counts.get(i, 0) for i in range(lo, hi + 1)]

    if start_url not in pages:
        return SimDigestResult([], {}, 0, "no_start")
    crawled.append(start_url)
    merge([start_url], 0)

    metrics: dict[str, float] = {}
    history: list[dict] = []
    depth = 0
    stop_reason = "max_depth"
    while depth < max_depth:
        cov = _coverage(kb_texts, qt_cov)
        cons = _consistency(kb_texts)
        sat = _saturation(new_terms_history())
        conf = 0.4 * cov + 0.3 * cons + 0.3 * sat
        metrics = {
            "coverage": cov, "consistency": cons,
            "saturation": sat, "confidence": conf,
        }
        history.append({"depth": depth, "pages": len(crawled), **metrics})

        cand = {h: v for h, v in pending.items() if h not in crawled}
        if conf >= confidence_threshold:
            stop_reason = "confidence"
            break
        if len(crawled) >= max_pages:
            stop_reason = "max_pages"
            break
        if not cand:
            stop_reason = "exhausted"
            break
        if sat >= saturation_threshold:
            stop_reason = "saturation"
            break

        kb_terms: set[str] = set()
        for text in kb_texts:
            kb_terms |= _preview_terms(text)
        scored = []
        for href, (seq, ltext) in cand.items():
            pt = _preview_terms(ltext)
            rel = (len(pt & qt_rel) / len(qt_rel)) if qt_rel else 0.0
            nov = 0.5 if not pt else len(pt - kb_terms) / len(pt)
            score = (relevance_weight * rel + novelty_weight * nov
                     + authority_weight * 1.0)
            scored.append((score, seq, href))
        scored.sort(key=lambda x: (-x[0], x[1]))
        top = scored[:top_k_links]
        if not top:
            stop_reason = "exhausted"
            break
        if top[0][0] < min_gain_threshold:
            stop_reason = "min_gain"
            break

        to_crawl = [h for _, _, h in top]
        got = [u for u in to_crawl if u in pages]
        crawled.extend(got)
        merge(got, depth + 1)
        depth += 1
    else:
        cov = _coverage(kb_texts, qt_cov)
        cons = _consistency(kb_texts)
        sat = _saturation(new_terms_history())
        metrics = {
            "coverage": cov, "consistency": cons, "saturation": sat,
            "confidence": 0.4 * cov + 0.3 * cons + 0.3 * sat,
        }

    metrics["pages_crawled"] = float(len(crawled))
    metrics["depth_reached"] = float(depth)
    return SimDigestResult(crawled, metrics, depth, stop_reason, history)


# ═════════════════ EmbeddingStrategy simulator ═══════════════════════

def simulate_embedding_digest(
    pages: dict[str, tuple[str, list[tuple[str, str]]]],
    start_url: str,
    query: str,
    max_depth: int = 5,
    max_pages: int = 20,
    top_k_links: int = 3,
    min_gain_threshold: float = 0.1,
    n_query_variations: int = 10,
    embedding_dim: int = 32,
    embedding_min_confidence_threshold: float = 0.1,
    embedding_coverage_radius: float = 0.2,
    embedding_overlap_threshold: float = 0.85,
    embedding_min_relative_improvement: float = 0.1,
    embedding_validation_min_score: float = 0.4,
    embedding_kb_threshold: float = 0.95,
    coverage_tau: float | None = None,
) -> SimDigestResult:
    """Sequential mirror of plans/adaptive.adaptive_digest with
    DigestConfig(strategy="embedding") — same
    semantics as the reference EmbeddingStrategy loop
    (adaptive_crawler.py:593-1228 + digest :1290-1397), list/dict
    based, numpy-free.  The parity oracle for the Spark loop."""
    from crawl4ai_spark.operators.embedding import (
        hash_embed_py, query_variations, split_train_val,
    )

    def dot(a: list[float], b: list[float]) -> float:
        return sum(x * y for x, y in zip(a, b))

    variations = query_variations(query, n_query_variations)
    train_q, val_q = split_train_val(query, variations)
    train_vecs = [hash_embed_py(q, embedding_dim) for q in train_q]
    val_vecs = [hash_embed_py(q, embedding_dim) for q in val_q]

    crawled: list[str] = []
    kb_texts: list[str] = []
    kb_iters: list[int] = []
    kb_vecs: list[list[float]] = []   # deduped embedding KB
    pending: dict[str, tuple[tuple[int, int, int], str]] = {}

    def merge(urls: list[str], iteration: int) -> None:
        for u in urls:
            text, links = pages[u]
            kb_texts.append(text)
            kb_iters.append(iteration)
            # update_state KB dedup: max cosine vs PRIOR kb < threshold
            v = hash_embed_py(text, embedding_dim)
            if not kb_vecs or max(dot(v, w) for w in kb_vecs) < embedding_kb_threshold:
                kb_vecs.append(v)
            src_rank = crawled.index(u)
            for pos, (href, ltext) in enumerate(links):
                if href is None:
                    continue
                seq = (iteration, src_rank, pos)
                if href not in pending or seq < pending[href][0]:
                    pending[href] = (seq, ltext or "")

    def confidence_now() -> float:
        if not kb_vecs or not train_vecs:
            return 0.0
        bests = [max(dot(q, d) for d in kb_vecs) for q in train_vecs]
        if coverage_tau is not None:
            return sum(1.0 for b in bests if b >= coverage_tau) / len(bests)
        return sum(bests) / len(bests)

    if start_url not in pages:
        return SimDigestResult([], {}, 0, "no_start")
    crawled.append(start_url)
    merge([start_url], 0)

    metrics: dict[str, float] = {}
    history: list[dict] = []
    conf_history: list[float] = []
    depth = 0
    stop_reason = "max_depth"
    while depth < max_depth:
        conf = confidence_now()
        metrics = {"confidence": conf}
        history.append({"depth": depth, "pages": len(crawled), "confidence": conf})

        if conf < embedding_min_confidence_threshold and crawled:
            stop_reason = "below_minimum_relevance_threshold"
            metrics["is_irrelevant"] = 1.0
            break
        if len(crawled) >= max_pages:
            stop_reason = "max_pages"
            break
        cand = {h: v for h, v in pending.items() if h not in crawled}
        if not cand:
            stop_reason = "exhausted"
            break
        conf_history.append(conf)
        if len(conf_history) >= 2:
            pairs = list(zip(conf_history[:-1], conf_history[1:]))
            avg_improvement = sum(abs(b - a) for a, b in pairs) / len(pairs)
            metrics["avg_improvement"] = avg_improvement
            if avg_improvement < embedding_min_relative_improvement * conf:
                if val_vecs and kb_vecs:
                    val = sum(
                        max(dot(q, d) for d in kb_vecs) for q in val_vecs
                    ) / len(val_vecs)
                else:
                    val = 0.0
                metrics["validation_confidence"] = val
                if val > embedding_validation_min_score:
                    stop_reason = "converged_validated"
                    metrics["validation_passed"] = 1.0
                    break

        # gaps per train query: 1 - best cosine vs KB
        gaps = [
            1.0 - (max(dot(q, d) for d in kb_vecs) if kb_vecs else 0.0)
            for q in train_vecs
        ]
        needing = [(q, g) for q, g in zip(train_vecs, gaps)
                   if g > embedding_coverage_radius]
        scored = []
        for href, (seq, ltext) in cand.items():
            lv = hash_embed_py(ltext, embedding_dim)
            if all(x == 0 for x in lv):
                continue  # reference skips empty link texts
            if needing:
                total = 0.0
                for qv, g in needing:
                    newd = 1.0 - dot(lv, qv)
                    if newd < g:
                        total += (g - newd) * 2.0
                gap_red = total / len(needing)
            else:
                gap_red = 0.0
            if kb_vecs:
                ms = max(dot(lv, d) for d in kb_vecs)
                pen = (ms - embedding_overlap_threshold) * 2.0 \
                    if ms > embedding_overlap_threshold else 0.0
            else:
                pen = 0.0
            scored.append((gap_red * (1.0 - pen), seq, href))
        scored.sort(key=lambda x: (-x[0], x[1]))
        top = scored[:top_k_links]
        if not top:
            stop_reason = "exhausted"
            break
        if top[0][0] < min_gain_threshold:
            stop_reason = "min_gain"
            break

        to_crawl = [h for _, _, h in top]
        got = [u for u in to_crawl if u in pages]
        crawled.extend(got)
        merge(got, depth + 1)
        depth += 1

    learning = confidence_now()
    metrics["coverage_score"] = learning
    if metrics.get("validation_passed", 0.0) >= 1.0:
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
    return SimDigestResult(list(crawled), metrics, depth, stop_reason, history)
