"""EmbeddingStrategy digest parity: plans/adaptive.adaptive_digest
with strategy="embedding" ≡ the sequential simulator (testing/adaptive_simulator.
simulate_embedding_digest) on crawl order, stop iteration, stop
reason, and metric values — the embedding-strategy analogue of
test_adaptive_digest.py, covering all six stop reasons
(below-minimum-relevance, max_pages, max_depth, min_gain, exhausted,
converged_validated).  Plus hash_embed Spark ≡ Python bit parity.
"""

import math

import pytest

from crawl4ai_spark.plans.adaptive import DigestConfig, adaptive_digest
from crawl4ai_spark.testing.adaptive_simulator import simulate_embedding_digest

QUERY = "spark shuffle partition tuning"

SITE: dict = {}


def _page(url, text, links=()):
    SITE[url] = (text, list(links))


_page("https://a.test/root",
      "spark shuffle partition tuning guide overview spark shuffle",
      [("https://a.test/p1", "spark shuffle partition deep dive"),
       ("https://a.test/p2", "partition tuning walkthrough essay"),
       ("https://a.test/p3", "unrelated gardening flowers soil"),
       ("https://a.test/p4", "spark tuning notes appendix")])
_page("https://a.test/p1",
      "spark shuffle partition exchange hash tuning spark partition",
      [("https://a.test/p5", "shuffle spill compression ratios"),
       ("https://a.test/p2", "partition tuning walkthrough essay")])
_page("https://a.test/p2",
      "partition tuning spark shuffle skew salting partition spark",
      [("https://a.test/p6", "adaptive execution runtime plans")])
_page("https://a.test/p3",
      "gardening flowers soil compost watering bees",
      [("https://a.test/p7", "more gardening tips mulch")])
_page("https://a.test/p4",
      "spark tuning memory executor cores configuration",
      [("https://a.test/p5", "shuffle spill compression ratios")])
_page("https://a.test/p5",
      "shuffle spill compression spark partition tuning metrics", [])
_page("https://a.test/p6",
      "adaptive query execution spark runtime partition coalescing", [])
_page("https://a.test/p7", "mulch compost worms", [])
_page("https://c.test/solo",
      "lonely island page about spark shuffle partition tuning", [])


@pytest.fixture(scope="module")
def pages_df(spark):
    rows = [
        (url, text, [{"href": h, "text": t} for h, t in links])
        for url, (text, links) in SITE.items()
    ]
    return spark.createDataFrame(
        rows,
        "url string, text string, "
        "links array<struct<href:string, text:string>>",
    )


CASES = [
    # (name, start, cfg kwargs) — each pins a different stop reason
    ("min_gain_stop", "https://a.test/root",
     dict(max_depth=4, max_pages=20, top_k_links=2, min_gain_threshold=0.05)),
    ("converged_validated_stop", "https://a.test/root",
     dict(max_depth=6, max_pages=20, top_k_links=2, min_gain_threshold=0.0)),
    ("max_pages_stop", "https://a.test/root",
     dict(max_depth=8, max_pages=3, top_k_links=2, min_gain_threshold=0.0)),
    ("max_depth_stop", "https://a.test/root",
     dict(max_depth=1, max_pages=20, top_k_links=1, min_gain_threshold=0.0)),
    ("below_min_relevance_stop", "https://a.test/p3",
     dict(max_depth=5, max_pages=20, top_k_links=2, min_gain_threshold=0.0)),
    ("exhausted_stop", "https://c.test/solo",
     dict(max_depth=5, max_pages=20, top_k_links=3, min_gain_threshold=0.0)),
]

EXPECT_REASON = {
    "min_gain_stop": "min_gain",
    "converged_validated_stop": "converged_validated",
    "max_pages_stop": "max_pages",
    "max_depth_stop": "max_depth",
    "below_min_relevance_stop": "below_minimum_relevance_threshold",
    "exhausted_stop": "exhausted",
}


@pytest.mark.parametrize("name,start,kw", CASES, ids=[c[0] for c in CASES])
def test_embedding_digest_parity(spark, pages_df, name, start, kw):
    sim = simulate_embedding_digest(SITE, start, QUERY, **kw)
    res = adaptive_digest(
        spark, pages_df, start, QUERY, DigestConfig(strategy="embedding", **kw)
    )

    # the case exercises the stop reason it is named for
    assert sim.stop_reason == EXPECT_REASON[name]
    assert res.stop_reason == sim.stop_reason
    assert res.crawl_order == sim.crawl_order
    assert res.depth_reached == sim.depth_reached
    for e, s in zip(res.metrics_history, sim.metrics_history):
        assert e["pages"] == s["pages"]
        assert math.isclose(e["confidence"], s["confidence"],
                            rel_tol=0, abs_tol=1e-9)
    for k, v in sim.metrics.items():
        assert math.isclose(res.metrics[k], v, rel_tol=0, abs_tol=1e-9), k
    # KB contents = crawled pages exactly
    kb_urls = {r["url"] for r in res.kb.select("url").collect()}
    assert kb_urls == set(sim.crawl_order)


def test_embedding_digest_missing_start(spark, pages_df):
    res = adaptive_digest(
        spark, pages_df, "https://nope.test/", QUERY,
        DigestConfig(strategy="embedding"),
    )
    assert res.stop_reason == "no_start" and res.crawl_order == []


def test_unknown_strategy_raises(spark, pages_df):
    with pytest.raises(ValueError, match="Unknown strategy"):
        adaptive_digest(spark, pages_df, "https://a.test/root", QUERY,
                        DigestConfig(strategy="llm"))


def test_hash_embed_spark_matches_python(spark):
    from crawl4ai_spark.operators.embedding import hash_embed, hash_embed_py
    import pyspark.sql.functions as F

    texts = [QUERY, "gardening flowers soil", "", "ab xy",
             "Spark SPARK spark!", "partition tuning walkthrough essay"]
    rows = (
        spark.createDataFrame([(t,) for t in texts], "text string")
        .select("text", hash_embed("text", 16).alias("v"))
        .collect()
    )
    for r in rows:
        py = hash_embed_py(r["text"], 16)
        assert all(abs(a - b) < 1e-12 for a, b in zip(list(r["v"]), py)), r["text"]
        # normalized (or all-zero for token-free texts)
        n = math.sqrt(sum(x * x for x in py))
        assert n == 0.0 or abs(n - 1.0) < 1e-9


def test_embedding_plan_shapes(spark):
    """Scale-shape assertions: hash_embed is a pure per-row fold (no
    Exchange before the caller's own ops), and the coverage product is
    a BROADCAST of the tiny query side — never a shuffled join of the
    corpus against the queries."""
    import pyspark.sql.functions as F

    from crawl4ai_spark.operators.embedding import (
        _query_df, coverage_gaps, hash_embed, query_variations,
        split_train_val,
    )

    docs = spark.createDataFrame(
        [(i, f"spark shuffle text {i}") for i in range(50)],
        "doc_id int, text string",
    )
    emb = docs.select("doc_id", hash_embed("text", 16).alias("vec"))
    plan = emb._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan  # per-row Catalyst fold, no shuffle
    assert "ArrowEvalPython" not in plan and "BatchEvalPython" not in plan

    q = "spark shuffle partition tuning"
    train, _ = split_train_val(q, query_variations(q, 10))
    qdf = _query_df(spark, train, 16)
    gaps = coverage_gaps(emb.select("vec"), qdf)
    gplan = gaps._jdf.queryExecution().executedPlan().toString()
    assert "Broadcast" in gplan        # tiny query side broadcast
    assert "SortMergeJoin" not in gplan


def test_coverage_shape_matches_numpy(spark):
    """coverage_shape ≡ the reference's center/std/radius model
    (compute_coverage_shape :737-758) computed independently in numpy
    over the same hash embeddings."""
    import numpy as np

    from crawl4ai_spark.operators.embedding import (
        coverage_shape, hash_embed, hash_embed_py,
    )

    texts = [
        "spark shuffle partition tuning", "partition tuning walkthrough",
        "gardening flowers soil compost", "adaptive query execution spark",
        "zz",  # token-free → zero vector, must stay in N and the radius max
    ]
    pts = np.array([hash_embed_py(t, 8) for t in texts])
    center = pts.mean(axis=0)
    std = pts.std(axis=0)
    radius = float(np.max(np.linalg.norm(pts - center, axis=1)))

    df = spark.createDataFrame([(t,) for t in texts], "text string").select(
        hash_embed("text", 8).alias("vec")
    )
    rows = {r["i"]: r for r in coverage_shape(df).collect()}
    assert len(rows) == 8
    for i in range(8):
        assert abs(rows[i]["center"] - center[i]) < 1e-9
        assert abs(rows[i]["std"] - std[i]) < 1e-9
        assert abs(rows[i]["radius"] - radius) < 1e-9


def test_embedding_digest_save_and_resume(spark, pages_df, tmp_path):
    """Embedding-strategy resume: the deduped embedding KB persists
    with the state, so the resumed run's crawl set matches the
    uninterrupted run (convergence history intentionally resets, like
    the reference's non-persisted confidence_history — so use a
    config where convergence never fires)."""
    kw = dict(max_pages=20, top_k_links=2, min_gain_threshold=0.0,
              embedding_min_relative_improvement=0.0)
    start = "https://a.test/root"

    full = adaptive_digest(
        spark, pages_df, start, QUERY,
        DigestConfig(strategy="embedding", max_depth=4, **kw),
    )
    state = str(tmp_path / "emb_state")
    adaptive_digest(
        spark, pages_df, start, QUERY,
        DigestConfig(strategy="embedding", max_depth=2,
                     save_state=True, state_path=state, **kw),
    )
    resumed = adaptive_digest(
        spark, pages_df, start, QUERY,
        DigestConfig(strategy="embedding", max_depth=2, **kw),
        resume_from=state,
    )
    assert resumed.crawl_order == full.crawl_order
    assert abs(resumed.metrics["coverage_score"]
               - full.metrics["coverage_score"]) < 1e-9
