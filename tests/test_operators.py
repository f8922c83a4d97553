"""Unit tests for the training-pipeline operators: dedup cascade,
similarity search, text analysis, multimodal plumbing."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from crawl4ai_spark.operators import dedup as D
from crawl4ai_spark.operators import multimodal as M
from crawl4ai_spark.operators import similarity as S
from crawl4ai_spark.operators import text as T

DOCS = [
    (1, "the quick brown fox jumps over the lazy dog near the river bank today"),
    (2, "the quick brown fox jumps over the lazy dog near the river bank today"),  # exact dup of 1
    (3, "the quick brown fox jumps over the lazy dog near the river bend today"),  # near dup of 1
    (4, "completely different content about distributed query engines and shuffles"),
    (5, "der hund läuft nicht mit der katze und das ist ein problem von heute"),
]


@pytest.fixture(scope="module")
def docs_df(spark):
    return spark.createDataFrame(DOCS, "doc_id long, text string").cache()


def test_dedup_exact(spark, docs_df):
    out = D.dedup_exact(docs_df).select("doc_id", "dup_count").collect()
    kept = {r["doc_id"]: r["dup_count"] for r in out}
    assert 2 not in kept          # duplicate dropped, lower id kept
    assert kept[1] == 2
    assert kept[3] == 1


def test_minhash_identical_docs_share_signature(spark, docs_df):
    sig = D.minhash_signature(docs_df, num_perm=8).collect()
    by_doc = {}
    for r in sig:
        by_doc.setdefault(r["doc_id"], {})[r["perm"]] = r["minhash"]
    assert by_doc[1] == by_doc[2]          # identical text → identical signature
    shared_13 = sum(1 for p in range(8) if by_doc[1][p] == by_doc[3][p])
    assert shared_13 >= 4                  # near-dup shares most minhashes
    shared_14 = sum(1 for p in range(8) if by_doc[1][p] == by_doc[4][p])
    assert shared_14 <= 2                  # unrelated shares few


def test_lsh_pairs_find_near_dups(spark, docs_df):
    sig = D.minhash_signature(docs_df, num_perm=8)
    pairs = {(r["a"], r["b"]) for r in D.lsh_candidate_pairs(sig, bands=4, rows_per_band=2).collect()}
    assert (1, 2) in pairs
    assert (1, 3) in pairs or (2, 3) in pairs
    assert (1, 4) not in pairs and (4, 5) not in pairs


def test_jaccard_pairs(spark, docs_df):
    pairs = {(r["a"], r["b"]): r["jaccard"] for r in
             D.jaccard_pairs(docs_df, threshold=0.5).collect()}
    assert pairs[(1, 2)] == pytest.approx(1.0)
    assert (1, 3) in pairs          # one word changed → still high shingle overlap
    assert all(not (a == 4 or b == 4) for (a, b) in pairs)


def test_simhash(spark, docs_df):
    sims = {r["doc_id"]: r["simhash"] for r in D.simhash64(docs_df).collect()}
    assert sims[1] == sims[2]

    def ham(a, b):  # 64-bit hamming (values may be negative longs)
        return bin((a ^ b) & ((1 << 64) - 1)).count("1")

    ham_13 = ham(sims[1], sims[3])
    ham_14 = ham(sims[1], sims[4])
    assert ham_13 < ham_14          # near-dup closer than unrelated
    cands = D.simhash_candidate_pairs(D.simhash64(docs_df), max_hamming=3).collect()
    assert any((r["a"], r["b"]) == (1, 2) for r in cands)


def test_cosine_topk_exact(spark):
    corpus = spark.createDataFrame(
        [(10, [1.0, 0.0]), (11, [0.9, 0.1]), (12, [0.0, 1.0]), (13, [-1.0, 0.0])],
        "vec_id long, embedding array<float>",
    )
    queries = spark.createDataFrame(
        [(0, [1.0, 0.0])], "query_id long, query_vec array<float>"
    )
    out = S.cosine_topk(corpus, queries, k=3).orderBy("rank").collect()
    assert [r["vec_id"] for r in out] == [10, 11, 12]
    assert out[0]["cos_sim"] == pytest.approx(1.0)
    assert out[2]["cos_sim"] == pytest.approx(0.0, abs=1e-9)


def test_lsh_topk_subset_of_exact(spark):
    import random

    rng = random.Random(7)
    corpus = spark.createDataFrame(
        [(i, [rng.uniform(-1, 1) for _ in range(16)]) for i in range(80)],
        "vec_id long, embedding array<float>",
    )
    queries = spark.createDataFrame(
        [(0, [rng.uniform(-1, 1) for _ in range(16)])],
        "query_id long, query_vec array<float>",
    )
    approx = S.lsh_topk(corpus, queries, k=5, n_planes=4).collect()
    # all results come from the query's bucket and are exactly re-ranked
    assert len(approx) <= 5
    assert all(approx[i]["cos_sim"] >= approx[i + 1]["cos_sim"] for i in range(len(approx) - 1))


def test_text_columns(spark, docs_df):
    out = docs_df.select(
        "doc_id",
        T.ws_token_count("text").alias("ws"),
        T.regex_token_count("text").alias("rx"),
        F.round(T.punct_ratio("text"), 4).alias("pr"),
        F.round(T.stopword_ratio("text", "en"), 4).alias("swr"),
        F.round(T.quality_score("text"), 4).alias("q"),
        T.lang_id("text")["lang"].alias("lang"),
        T.fingerprint("text").alias("fp"),
    ).collect()
    rows = {r["doc_id"]: r for r in out}
    assert rows[1]["ws"] == 14
    assert rows[1]["rx"] == 14            # no punctuation → same as ws
    assert rows[1]["pr"] == 0.0
    assert rows[1]["swr"] > 0.2           # 'the' x3 + 'over'? no — the/the/the
    assert rows[1]["lang"] == "en"
    assert rows[5]["lang"] == "de"
    assert rows[1]["fp"] == rows[2]["fp"]
    assert rows[1]["fp"] != rows[3]["fp"]
    assert 0.0 <= rows[4]["q"] <= 1.0


def test_word_stats(spark):
    df = spark.createDataFrame([("ab cd  efg ",)], "text string")
    r = df.select(T.word_stats("text").alias("s")).collect()[0]["s"]
    assert r["n_words"] == 3
    assert r["mean_word_len"] == pytest.approx((2 + 2 + 3) / 3)


def test_multimodal_stub_gating():
    with pytest.raises(NotImplementedError):
        M.decode_image(b"xx", fake=False)
    d = M.decode_image(b"xx", fake=True)
    assert d == M.decode_image(b"xx", fake=True)   # deterministic
    assert len(d["features"]) == 16


def test_extract_image_features(spark):
    media = spark.createDataFrame(
        [("m1", bytearray(b"blob-one")), ("m2", bytearray(b"blob-two"))],
        "media_id string, blob binary",
    )
    out = {r["media_id"]: r for r in M.extract_image_features(media, fake=True).collect()}
    assert out["m1"]["n_bytes"] == 8
    assert out["m1"]["width"] >= 64
    assert out["m1"]["features"] != out["m2"]["features"]


def test_video_frame_sampling(spark):
    media = spark.createDataFrame(
        [("v1", bytearray(b"x" * 25000))], "media_id string, blob binary"
    )
    frames = M.sample_video_frames(media, every_n=10).collect()
    idxs = [r["frame_idx"] for r in frames]
    assert idxs == list(range(0, 26, 10))
