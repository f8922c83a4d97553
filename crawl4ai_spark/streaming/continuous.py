"""Continuous extraction + streaming crawl metrics.

`stream_extract`: readStream over an arriving pages table (the
production shape: fetchers append parquet/Iceberg files; extraction
runs as an always-on incremental job) → the same fused extract UDF as
the batch engine → append-mode docs sink.  Exactly-once comes from
the sink checkpoint; the extract UDF is pure, so replays are safe.

`stream_fetch_metrics`: watermarked tumbling-window counts over the
crawl log — the streaming analogue of the reference's dispatcher
queue statistics (async_dispatcher.py:509-521), with late-arrival
handling the reference doesn't have.

`host_politeness_stream`: per-host RateLimiter state as a custom
STATEFUL streaming operator (applyInPandasWithState) — the always-on
analogue of the batch engine's driver `host_state` dict, which each
superstep updates from the host sets observed on the step checkpoint.

`stream_dedup_exact` / `first_seen_stream`: streaming exact
deduplication — the always-on analogue of the batch hash-groupBy
dedup (operators/dedup.py), in the two state regimes a production
pipeline needs (watermark-bounded and TTL-bounded).
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from crawl4ai_spark.extraction.udfs import extract_udf
from crawl4ai_spark.plans.config import BACKOFF_CODES


def stream_extract(
    spark: SparkSession,
    pages_path: str,
    docs_path: str,
    checkpoint_path: str,
    *,
    available_now: bool = True,
):
    """Incrementally extract every page file that lands in
    `pages_path` (schema: url string, html string, …) into the
    interleaved-docs table at `docs_path`.  Returns the query handle.
    """
    pages = (
        spark.readStream.schema("url string, html string")
        .option("maxFilesPerTrigger", "8")
        .parquet(pages_path)
    )
    docs = pages.select(
        F.col("url").alias("doc_id"),
        extract_udf(F.col("url"), F.col("html")).alias("ex"),
    ).select(
        "doc_id",
        F.col("ex.spans").alias("spans"),
        F.col("ex.raw_markdown").alias("raw_markdown"),
        F.col("ex.metadata").alias("metadata"),
    )
    writer = (
        docs.writeStream.format("parquet")
        .option("path", docs_path)
        .option("checkpointLocation", checkpoint_path)
        .outputMode("append")
    )
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()


def fetch_metrics_stream(events: DataFrame, *, window: str = "1 minute",
                         watermark: str = "2 minutes") -> DataFrame:
    """events(host string, outcome string, ts timestamp) →
    per-(window, host) fetch counts with late-data watermark.
    Works on both a streaming and a batch DataFrame (same plan)."""
    return (
        events.withWatermark("ts", watermark)
        .groupBy(F.window("ts", window).alias("w"), "host")
        .agg(
            F.count("*").alias("n_fetches"),
            F.sum(F.when(F.col("outcome") == "success", 1).otherwise(0)).alias("n_ok"),
            F.sum(F.when(F.col("outcome").isin("retry", "gave_up"), 1).otherwise(0)).alias("n_backoff"),
        )
        .select(F.col("w.start").alias("window_start"), "host",
                "n_fetches", "n_ok", "n_backoff")
    )


def stream_dedup_exact(
    docs: DataFrame, *,
    key=None, ts_col: str = "ts", watermark: str = "10 minutes",
) -> DataFrame:
    """Streaming exact dedup: emit each content hash's FIRST arrival,
    drop re-arrivals whose event time falls within the watermark
    horizon.  `key` defaults to xxhash64(text) — the same 8-byte
    content hash the batch dedup groups on.

    Scale shape: state is keyed by the hash and EVICTED by the
    watermark, so the store is bounded by the horizon's arrival
    volume, not the all-time corpus — the right regime for "recrawl
    storms repeat a page within minutes/hours".  For an unbounded
    first-seen set use `first_seen_stream` (explicit TTL), or the
    batch anti-join against the persisted corpus."""
    h = key if key is not None else F.xxhash64("text")
    return (
        docs.withColumn("content_hash", h)
        .withWatermark(ts_col, watermark)
        .dropDuplicatesWithinWatermark(["content_hash"])
    )


def stream_dedup_paragraphs(
    docs: DataFrame, *,
    id_col: str = "doc_id", text_col: str = "text",
    ts_col: str = "ts", watermark: str = "10 minutes",
) -> DataFrame:
    """Streaming paragraph dedup: explode documents into normalized
    paragraphs and emit each paragraph's FIRST arrival within the
    watermark horizon — the incremental form of the batch
    `dedup_paragraphs` (which keeps the first (doc, pos) occurrence
    corpus-wide).  Output: (id, pos, para, ts) of surviving paragraphs;
    reassembly is a downstream groupBy, exactly as in batch.

    Same state regime as `stream_dedup_exact`: keyed by the 16-byte
    paragraph hash, evicted by the watermark, so the store tracks the
    horizon's paragraph volume — boilerplate repeated across a recrawl
    storm deduplicates without unbounded state."""
    from crawl4ai_spark.operators.repetition import split_lines

    paras = docs.select(
        F.col(id_col), F.col(ts_col),
        F.posexplode(split_lines(text_col)).alias("pos", "para"),
    )
    norm = F.md5(F.regexp_replace(F.lower(F.trim(F.col("para"))), r"\s+", " "))
    return (
        paras.withColumn("para_hash", norm)
        .withWatermark(ts_col, watermark)
        .dropDuplicatesWithinWatermark(["para_hash"])
    )


def first_seen_stream(
    docs: DataFrame, *,
    hash_col: str = "content_hash", id_col: str = "doc_id",
    state_ttl: str | None = None,
) -> DataFrame:
    """Cross-batch first-seen filter: one output row per content hash,
    ever — the streaming seen-set.  Ties within a micro-batch break by
    smallest id for determinism.

    Scale shape: the seen marker lives in Spark's per-partition state
    store keyed by hash (no driver set, no collect); `state_ttl`
    (processing time) bounds the store for feeds where "seen" may
    expire.  Without a TTL the store grows with the distinct-hash
    count — the same O(corpus) a batch seen-set pays, but spread over
    the state backend."""
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    def update(key, pdfs, state: GroupState):
        if state.hasTimedOut:
            state.remove()
            return
        if state.exists:
            if state_ttl is not None:
                state.setTimeoutDuration(state_ttl)
            return
        first = None
        for pdf in pdfs:
            if len(pdf) == 0:
                continue
            cand = pdf.loc[pdf[id_col].idxmin()]
            if first is None or cand[id_col] < first[id_col]:
                first = cand
        if first is None:
            return
        state.update((1,))
        if state_ttl is not None:
            state.setTimeoutDuration(state_ttl)
        yield pd.DataFrame([{hash_col: key[0], id_col: first[id_col]}])

    timeout = (
        GroupStateTimeout.ProcessingTimeTimeout if state_ttl is not None
        else GroupStateTimeout.NoTimeout
    )
    return docs.groupBy(hash_col).applyInPandasWithState(
        update,
        outputStructType=f"{hash_col} long, {id_col} string",
        stateStructType="seen int",
        outputMode="append",
        timeoutConf=timeout,
    )


def host_politeness_stream(
    outcomes: DataFrame, *,
    base_delay: float = 1.0, max_delay: float = 60.0,
    backoff_factor: float = 2.0, decay_factor: float = 0.5,
    state_ttl: str | None = None,
) -> DataFrame:
    """Per-host politeness state as a custom STATEFUL streaming
    operator: outcomes(host string, status int) → one updated
    (host, delay, fails, n_ok, n_bad) row per host per micro-batch.

    Semantics are EXACTLY the batch engine's `host_state` update
    (plans/crawl.py: the driver dict, updated from the step
    checkpoint's observed ok/backed-off host sets; itself the
    reference RateLimiter
    /root/reference/crawl4ai/async_dispatcher.py:45-85 made
    deterministic): any 429/503 in the batch → delay ×backoff_factor
    capped at max_delay, fails+1; else any success → delay
    ×decay_factor floored at base_delay, fails reset; hosts absent
    from the batch keep their state untouched.

    Scale shape: state lives in Spark's per-partition state store
    keyed by host — no driver dict, no collect; `state_ttl` (e.g.
    "30 minutes" processing time) evicts idle hosts so the store
    stays bounded by the ACTIVE host set, not the all-time one."""
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    bad_codes = set(BACKOFF_CODES)

    def update(key, pdfs, state: GroupState):
        if state.hasTimedOut:
            state.remove()
            return
        delay, fails = state.get if state.exists else (float(base_delay), 0)
        n_ok = n_bad = 0
        for pdf in pdfs:
            st = pdf["status"]
            n_bad += int(st.isin(bad_codes).sum())
            n_ok += int(((st >= 200) & (st < 400)).sum())
        if n_bad > 0:
            delay, fails = min(max_delay, delay * backoff_factor), fails + 1
        elif n_ok > 0:
            delay, fails = max(base_delay, delay * decay_factor), 0
        state.update((float(delay), int(fails)))
        if state_ttl is not None:
            state.setTimeoutDuration(state_ttl)
        yield pd.DataFrame(
            [{"host": key[0], "delay": float(delay), "fails": int(fails),
              "n_ok": n_ok, "n_bad": n_bad}]
        )

    timeout = (
        GroupStateTimeout.ProcessingTimeTimeout if state_ttl is not None
        else GroupStateTimeout.NoTimeout
    )
    return outcomes.groupBy("host").applyInPandasWithState(
        update,
        outputStructType="host string, delay double, fails int, n_ok long, n_bad long",
        stateStructType="delay double, fails int",
        outputMode="update",
        timeoutConf=timeout,
    )


def stream_dedup_incremental(
    docs: DataFrame, index_sig: DataFrame, index_bands: DataFrame, *,
    text_col: str = "text", id_col: str = "doc_id",
    num_perm: int = 8, shingle_n: int = 3, rows_per_band: int = 2,
    threshold: float = 0.5,
    ts_col: str = "ts", watermark: str = "10 minutes",
) -> DataFrame:
    """Streaming near-dup admission against the persisted corpus
    index (`operators.dedup.write_minhash_index`): emit
    (id, matched_id, est_jaccard, ts) for each arriving document that
    near-duplicates an ALREADY-ADMITTED one.  Docs with no match emit
    nothing — downstream anti-joins the flags to admit.

    Everything before the final dedup is MAP-ONLY on the stream side:
    the signature is the per-row array layout (`minhash_signature_arr`
    — array_min over transforms, no shuffle), band keys are array
    slices, and candidate generation + verification are stream-STATIC
    joins against the index (static side hash-joined per micro-batch;
    with the index bucketed by band_key in a real catalog this is a
    storage-partitioned probe).  Similarity is the signature-agreement
    estimator — history's text is never read.  The only state is the
    watermark-bounded (id, matched_id) dedup that collapses multi-band
    hits of the same pair, exactly `stream_dedup_exact`'s regime.
    """
    from crawl4ai_spark.operators.dedup import (
        band_keys_arr, minhash_signature_arr, sig_long_to_arr,
    )

    signed = minhash_signature_arr(
        docs, text_col=text_col, id_col=id_col,
        num_perm=num_perm, shingle_n=shingle_n,
    ).select(
        F.col(id_col), F.col(ts_col), F.col("sig"),
        F.posexplode(band_keys_arr(F.col("sig"), num_perm, rows_per_band))
        .alias("band", "band_key"),
    )
    cand = signed.join(
        index_bands.select(
            F.col(id_col).alias("matched_id"), "band", "band_key"
        ),
        ["band", "band_key"],
    )
    old_arr = sig_long_to_arr(index_sig, id_col).select(
        F.col(id_col).alias("matched_id"), F.col("sig").alias("_sig_old")
    )
    est = (
        F.aggregate(
            F.zip_with("sig", "_sig_old", lambda a, b: (a == b).cast("int")),
            F.lit(0),
            lambda acc, x: acc + x,
        ).cast("double") / F.lit(num_perm)
    )
    return (
        cand.join(old_arr, "matched_id")
        .withColumn("est_jaccard", est)
        .filter(F.col("est_jaccard") >= F.lit(threshold))
        .withWatermark(ts_col, watermark)
        .dropDuplicatesWithinWatermark([id_col, "matched_id"])
        .select(id_col, "matched_id", "est_jaccard", ts_col)
    )
