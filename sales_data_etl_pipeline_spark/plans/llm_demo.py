"""LLM-data-pipeline operators on the driver testdata (oracle-checked).

Text analysis / dedup / similarity / event-window demos over
``documents``, ``embeddings`` and ``events``. Where the corpus has no
duplicates, deterministic near-dup dirt is injected (same expression in
Spark and the DuckDB oracle — see cleaning_demo for the convention).

Each function: ``(spark, sf_dir) -> DataFrame``.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from sales_data_etl_pipeline_spark.functions import epoch_millis, epoch_seconds
from sales_data_etl_pipeline_spark.operators import (
    ckpt,
    corpus,
    dedup,
    pii,
    similarity,
    temporal,
    text,
)
from sales_data_etl_pipeline_spark.sources.tables import load_testdata


def _docs(spark, sf_dir) -> DataFrame:
    return load_testdata(spark, sf_dir, ("documents",))["documents"]


def _emb(spark, sf_dir) -> DataFrame:
    return load_testdata(spark, sf_dir, ("embeddings",))["embeddings"]


def _events(spark, sf_dir) -> DataFrame:
    return load_testdata(spark, sf_dir, ("events",))["events"]


def _docs_with_near_dups(spark, sf_dir) -> DataFrame:
    """documents ∪ truncated copies of every 20th doc (id+10000)."""
    docs = _docs(spark, sf_dir).select("doc_id", "text")
    copies = (
        docs.filter(F.col("doc_id") % 20 == 0)
        .select(
            (F.col("doc_id") + 10000).alias("doc_id"),
            F.expr("substring(text, 1, greatest(length(text) - 30, 1))").alias("text"),
        )
    )
    return docs.unionByName(copies)


def _docs_with_exact_dups(spark, sf_dir) -> DataFrame:
    docs = _docs(spark, sf_dir).select("doc_id", "text")
    copies = docs.filter(F.col("doc_id") % 20 == 0).select(
        (F.col("doc_id") + 10000).alias("doc_id"), "text"
    )
    return docs.unionByName(copies)


def _emb_with_near_dups(spark, sf_dir) -> DataFrame:
    """embeddings ∪ perturbed copies of every 25th vector (id+10000)."""
    emb = _emb(spark, sf_dir).select("vec_id", "embedding")
    copies = emb.filter(F.col("vec_id") % 25 == 0).select(
        (F.col("vec_id") + 10000).alias("vec_id"),
        F.expr(
            "concat(array(cast(element_at(embedding, 1) + 0.05 as float)),"
            " slice(embedding, 2, 63))"
        ).alias("embedding"),
    )
    return emb.unionByName(copies)


# --- text analysis ----------------------------------------------------------


def text_token_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    return text.token_stats(_docs(spark, sf_dir))


def text_language_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    return text.language_id(_docs(spark, sf_dir))


def text_quality_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    return text.quality_score(_docs(spark, sf_dir))


def text_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    return text.fingerprint(_docs(spark, sf_dir))


def text_term_frequencies(spark: SparkSession, sf_dir: str) -> DataFrame:
    return text.term_frequencies(_docs(spark, sf_dir), top=100)


def text_tfidf_top_terms(spark: SparkSession, sf_dir: str) -> DataFrame:
    return text.tf_idf_top_terms(_docs(spark, sf_dir), k=3)


# --- dedup ------------------------------------------------------------------


def dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    return dedup.exact_dedup(_docs_with_exact_dups(spark, sf_dir))


def dedup_ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    return dedup.ngram_jaccard_pairs(
        _docs_with_near_dups(spark, sf_dir), threshold=0.5
    )


def dedup_minhash_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    return dedup.minhash_lsh_pairs(
        _docs_with_near_dups(spark, sf_dir), threshold=0.5
    )


def dedup_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    # banded (equi-join) form — identical pair set to the all-pairs
    # simhash_pairs, which stays as the verification primitive
    return dedup.simhash_pairs_banded(
        _docs_with_near_dups(spark, sf_dir), max_hamming=6
    )


def dedup_embedding_cosine(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding near-dup pairs at cosine ≥ 0.99 — gated on the banded
    random-hyperplane LSH plan (sign-bit bands → bucket equi-join →
    exact-cosine verify), the form that scales: candidate volume is
    output-bound, never O(n²). The all-pairs formulation
    (``dedup.embedding_near_dup_pairs``) survives as a verification
    primitive only — ``tests/test_dedup.py`` pins LSH recall against it
    on the planted near-dup fixture."""
    return dedup.embedding_lsh_pairs(
        _emb_with_near_dups(spark, sf_dir), threshold=0.99
    )


def dedup_embedding_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Random-hyperplane LSH near-dups — subquadratic scale path for
    ``dedup_embedding_cosine`` (banded sign bits → bucket join →
    exact-cosine verify)."""
    return dedup.embedding_lsh_pairs(
        _emb_with_near_dups(spark, sf_dir), threshold=0.8
    )


# --- similarity search ------------------------------------------------------


def similarity_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = _emb(spark, sf_dir)
    queries = emb.filter(F.col("vec_id") < 10)
    return similarity.cosine_topk(emb, queries, k=5)


def similarity_topk_ivf(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = _emb(spark, sf_dir)
    queries = emb.filter(F.col("vec_id") < 10)
    centroids = emb.filter(F.col("vec_id") % 50 == 0)
    return similarity.cosine_topk_ivf(emb, queries, centroids, k=5, n_probe=3)


# --- event windows (batch form of the streaming surface) --------------------


def events_windowed_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tumbling 1-hour window per event_type: count + sum(value).

    Batch form of the Structured Streaming aggregation in
    ``streaming.events`` — identical grouping semantics.
    """
    ev = _events(spark, sf_dir)
    return (
        ev.groupBy(
            F.window("ts", "1 hour").getField("start").alias("window_start"),
            "event_type",
        )
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.round(F.sum("value"), 2).alias("total_value"),
        )
        .orderBy("window_start", "event_type")
    )


def events_sessionization(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gap-based sessionization (30-min inactivity): sessions per user.

    lag + cumulative-sum window — the batch sessionization idiom (the
    streaming path uses ``session_window``).
    """
    from pyspark.sql import Window

    ev = _events(spark, sf_dir)
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    sessions = (
        ev.withColumn("_prev", F.lag("ts").over(w))
        .withColumn(
            "_new_session",
            (
                F.col("_prev").isNull()
                | ((epoch_seconds("ts") - epoch_seconds("_prev")) > 1800.0)
            ).cast("long"),
        )
    )
    return (
        sessions.groupBy("user_id")
        .agg(
            F.sum("_new_session").alias("n_sessions"),
            F.count(F.lit(1)).alias("n_events"),
        )
        .orderBy("user_id")
    )


def dedup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup pairs → connected components (min-label propagation);
    the pairs→clusters step real dedup needs. Oracle: recursive-CTE
    transitive closure in DuckDB."""
    pairs = dedup.minhash_lsh_pairs(
        _docs_with_near_dups(spark, sf_dir), threshold=0.5
    )
    return dedup.connected_components(pairs).orderBy("doc_id")


# --- corpus dedup pipeline (the end-to-end training-data use case) ----------


def corpus_dedup_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quality filter → exact dedup → MinHash-LSH near-dup removal, as one
    composition — the canonical 100 TB training-data pipeline.

    Survivor policy: exact dups keep the smallest doc_id; near-dup pairs
    (a < b, jaccard ≥ 0.5) drop every b (greedy keep-first — cluster-free
    and deterministic). Returns surviving (doc_id, n_tokens).
    """
    base = _docs(spark, sf_dir).select("doc_id", "text")
    dirty = base.filter(F.col("doc_id") % 20 == 0)
    docs = ckpt.checkpoint(
        base.unionByName(
            dirty.select((F.col("doc_id") + 10000).alias("doc_id"), "text")
        )
        .unionByName(
            dirty.select(
                (F.col("doc_id") + 20000).alias("doc_id"),
                F.expr("substring(text, 1, greatest(length(text) - 30, 1))").alias(
                    "text"
                ),
            )
        )
        .withColumn("n_tokens", F.size(text.tokens("text")))
        .filter(F.col("n_tokens") >= 20),
        # one cut for four consumers (exact-keep build, semi probe,
        # minhash input, final anti probe) — the union+tokenize stage
        # otherwise re-derives per consumer
        eager=False,
    )
    exact_keep = (
        docs.groupBy(F.md5("text").alias("_h"))
        .agg(F.min("doc_id").alias("doc_id"))
        .select("doc_id")
    )
    docs = docs.join(exact_keep, "doc_id", "left_semi")
    near_drop = (
        dedup.minhash_lsh_pairs(docs, threshold=0.5)
        .select(F.col("id_b").alias("doc_id"))
        .distinct()
    )
    return (
        docs.join(near_drop, "doc_id", "left_anti")
        .select("doc_id", "n_tokens")
        .orderBy("doc_id")
    )


# --- temporal joins (as-of / range — operators Spark lacks natively) --------


def events_asof_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """For every purchase event: the user's most recent prior-or-equal
    'view' event (backward as-of join). Oracle: DuckDB's native ASOF JOIN.
    Timestamps are emitted as epoch millis to sidestep ns-vs-µs parquet
    precision differences between engines."""
    from sales_data_etl_pipeline_spark.operators.temporal import asof_join

    ev = _events(spark, sf_dir)
    purchases = ev.filter(F.col("event_type") == "purchase").select(
        "event_id", "user_id", "ts"
    )
    views = ev.filter(F.col("event_type") == "view").select(
        F.col("event_id").alias("view_event_id"), "user_id", "ts"
    )
    out = asof_join(
        purchases, views, on="user_id", right_cols=["view_event_id"]
    )
    return out.select(
        "event_id",
        "user_id",
        epoch_millis("ts").alias("ts_ms"),
        F.col("view_event_id_matched").alias("view_event_id"),
    ).orderBy("event_id")


def events_range_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """For every purchase: how many 'view' events of the same user fell in
    the preceding 30 minutes (bucketized range join)."""
    from sales_data_etl_pipeline_spark.operators.temporal import range_join_count

    ev = _events(spark, sf_dir)
    purchases = ev.filter(F.col("event_type") == "purchase").select(
        "event_id", "user_id", "ts"
    )
    views = ev.filter(F.col("event_type") == "view").select("user_id", "ts")
    out = range_join_count(
        purchases, views, on="user_id", range_seconds=1800, count_col="n_views_30m"
    )
    return out.select(
        "event_id", "user_id", epoch_millis("ts").alias("ts_ms"), "n_views_30m"
    ).orderBy("event_id")


def events_multires_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hypertable-style continuous aggregate: hourly AND daily rollups of
    the event stream in ONE pass (grouping sets share the partial
    aggregates — the fact table shuffles once, not once per resolution).

    At 100 TB this materializes the multi-resolution rollup a time-series
    store would maintain incrementally; day-level rows have hour IS NULL.
    """
    ev = _events(spark, sf_dir)
    bucketed = ev.select(
        F.date_format("ts", "yyyy-MM-dd").alias("day"),
        F.date_format("ts", "HH").alias("hour"),
        "event_type",
        "value",
    )
    return (
        bucketed.rollup("day", "hour")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.round(F.sum("value"), 2).alias("total_value"),
        )
        .filter(F.col("day").isNotNull())  # drop the grand-total row
        .orderBy("day", F.col("hour").asc_nulls_first())
    )


# --- streaming (real Structured Streaming run, memory sink) -----------------


def streaming_windowed_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Runs the actual Structured Streaming windowed aggregation to
    completion (memory sink) and returns the result table — the oracle is
    the same SQL as the batch form, so this gate checks the streaming
    path end-to-end."""
    from sales_data_etl_pipeline_spark.streaming import events as streaming

    stream = streaming.stream_events(spark, sf_dir)
    return streaming.run_stream_to_memory(
        streaming.windowed_counts(stream),
        "q_stream_windowed",
        output_mode="complete",
    )


def streaming_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming exact dedup with watermark-bounded state: the event
    stream unioned with itself (every event duplicated) deduped back to
    one row per event_id via ``dropDuplicatesWithinWatermark``. The
    oracle is the plain events table — event_ids are unique, so the
    deduped doubled stream must equal it exactly."""
    from sales_data_etl_pipeline_spark.streaming import events as streaming

    stream = streaming.stream_events(spark, sf_dir)
    doubled = stream.unionByName(stream)
    dd = streaming.dedup_within_watermark(doubled, watermark="24 hours")
    return streaming.run_stream_to_memory(
        dd.select("event_id", "user_id", "event_type"),
        "q_stream_dedup",
        output_mode="append",
    )


# --- multimodal plumbing (mapInPandas; payloads synthesized from text) ------


def multimodal_decode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Real image decode round-trip: synthesize one spec-conformant BMP
    per doc (dims derived from doc_id), then parse the actual header
    bytes back with the pure-bytes BMP parser. The oracle predicts the
    dims from the generator rule — wrong offsets/endianness in either
    the writer or the parser break the value hash."""
    from sales_data_etl_pipeline_spark.operators import multimodal

    docs = _docs(spark, sf_dir).select(F.col("doc_id").alias("media_id"))
    return multimodal.decode_images(multimodal.synthesize_bmp(docs))


# --- profile stats (A11–A16) -------------------------------------------------


def stats_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The reference's logged statistics block (A11 max, A12 count-distinct,
    A13 value_counts, A14 mean/median, A15 conditional count, A16 coalesce)
    as one aggregate over orders."""
    orders = load_testdata(spark, sf_dir, ("orders",))["orders"]

    # floor(x·100 + 0.5)/100 instead of round(x, 2): pure IEEE arithmetic,
    # bit-identical in Spark and DuckDB even at .xx5 double boundaries
    # (Spark's round is HALF_UP on the BigDecimal repr; DuckDB rounds the
    # binary value — they disagree exactly at those boundaries).
    def _r2(c):
        return F.floor(c * 100 + F.lit(0.5)) / 100

    return orders.agg(
        F.max("o_orderkey").alias("max_id"),
        F.countDistinct("o_custkey").alias("n_customers"),
        _r2(F.avg("o_totalprice")).alias("mean_price"),
        _r2(F.expr("percentile(o_totalprice, 0.5D)")).alias("median_price"),
        F.sum(F.when(F.col("o_orderstatus") == "F", 1).otherwise(0)).alias(
            "n_finished"
        ),
        F.coalesce(_r2(F.sum("o_totalprice")), F.lit(0.0)).alias("total_price"),
    )


#: must match the raw plan's approx_percentile accuracy
_SKETCH_ACCURACY = 10_000


def stats_approx_sketches_raw(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The approximate-aggregation toolkit for the 100 TB path:
    HyperLogLog++ distinct counts and t-digest percentiles — single-pass,
    mergeable sketches. This is the benched form (sketch only, no exact
    twin in the plan); the gate entry is :func:`stats_approx_sketches`.
    """
    li = load_testdata(spark, sf_dir, ("lineitem",))["lineitem"]
    # One sketch, three scalar outputs: the array-valued approx_percentile
    # column broke the driver's rows-only canonicalization (pandas can't
    # sort list cells), so unpack p50/p95/p99 via element_at. The sketch is
    # still built once — Catalyst dedups the identical aggregate expression.
    q = (
        "approx_percentile(l_extendedprice, array(0.5D, 0.95D, 0.99D), "
        f"{_SKETCH_ACCURACY})"
    )
    return li.agg(
        F.approx_count_distinct("l_orderkey").alias("approx_orders"),
        F.approx_count_distinct("l_partkey").alias("approx_parts"),
        F.expr(f"element_at({q}, 1)").alias("price_p50"),
        F.expr(f"element_at({q}, 2)").alias("price_p95"),
        F.expr(f"element_at({q}, 3)").alias("price_p99"),
    )


def stats_approx_sketches(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Oracle-checkable sketch gate: sketch internals differ across
    engines by design, so raw sketch values can't hash-match a DuckDB
    result — but the sketches' *error contracts* can. Emit booleans
    asserting each approximate output lies within its documented bound
    of the exact aggregate (computed in the same single pass); the
    DuckDB oracle states the same claims as literal TRUEs, so the
    value-hash gate verifies the contract holds.

    Bounds: HyperLogLog++ default rsd 0.05 → 3σ band (±15%); t-digest
    rank error ≤ 1/accuracy → the approximate p-quantile must lie
    between the exact quantiles at p ± 2/accuracy (one extra notch of
    interpolation slack).
    """
    li = load_testdata(spark, sf_dir, ("lineitem",))["lineitem"]
    s = 2.0 / _SKETCH_ACCURACY
    qa = (
        "approx_percentile(l_extendedprice, array(0.5D, 0.95D, 0.99D), "
        f"{_SKETCH_ACCURACY})"
    )
    bands = ", ".join(f"{p - s}D, {p + s}D" for p in (0.5, 0.95, 0.99))
    qx = f"percentile(l_extendedprice, array({bands}))"
    agg = li.agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.approx_count_distinct("l_orderkey").alias("_a_orders"),
        F.approx_count_distinct("l_partkey").alias("_a_parts"),
        F.countDistinct("l_orderkey").alias("_x_orders"),
        F.countDistinct("l_partkey").alias("_x_parts"),
        F.expr(qa).alias("_ap"),
        F.expr(qx).alias("_xp"),
    )

    def _hll_ok(a, x):
        return F.abs(F.col(a) - F.col(x)) <= 0.15 * F.col(x)

    def _band_ok(i):
        lo, ap, hi = (
            F.expr(f"element_at(_xp, {2 * i + 1})"),
            F.expr(f"element_at(_ap, {i + 1})"),
            F.expr(f"element_at(_xp, {2 * i + 2})"),
        )
        return (lo <= ap) & (ap <= hi)

    return agg.select(
        "n_rows",
        _hll_ok("_a_orders", "_x_orders").alias("hll_orders_ok"),
        _hll_ok("_a_parts", "_x_parts").alias("hll_parts_ok"),
        _band_ok(0).alias("p50_in_band"),
        _band_ok(1).alias("p95_in_band"),
        _band_ok(2).alias("p99_in_band"),
    )


def stats_value_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A13 — value_counts of o_orderpriority (frequency table, desc)."""
    orders = load_testdata(spark, sf_dir, ("orders",))["orders"]
    return (
        orders.groupBy("o_orderpriority")
        .agg(F.count(F.lit(1)).alias("n"))
        .orderBy(F.desc("n"), F.asc("o_orderpriority"))
    )


# --- corpus management (splits / sampling / sharding) -----------------------

#: Gate split spec: last split absorbs the rounding remainder.
_SPLITS = {"train": 0.9, "val": 0.05, "test": 0.05}
#: Gate per-language sample fractions; other langs use the default 5%.
_SAMPLE_FRACTIONS = {"en": 0.5, "de": 0.25, "zh": 0.1}
_SHARD_BUDGET = 4096


def corpus_hash_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic md5-bucket train/val/test assignment — stable across
    runs, engines, and appends (a doc keeps its split forever)."""
    return corpus.hash_split(
        _docs(spark, sf_dir).select("doc_id", "lang"), _SPLITS
    )


def corpus_stratified_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic per-language downsampling (md5-bucket thresholds):
    50% en, 25% de, 10% zh, 5% everything else."""
    return corpus.stratified_sample(
        _docs(spark, sf_dir).select("doc_id", "lang"),
        _SAMPLE_FRACTIONS,
        strata_col="lang",
        default_fraction=0.05,
    )


def corpus_token_shards(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token-budget sharding via the distributed prefix-sum scan — the
    deterministic sharding step before sequence packing."""
    # coalesce: a NULL-text doc counts 0 tokens (NULL-safe contract,
    # mirrored in the oracle) instead of poisoning the prefix sum
    d = _docs(spark, sf_dir).select(
        "doc_id",
        F.coalesce(F.size(text.tokens()), F.lit(0)).alias("n_tokens"),
    )
    return corpus.shard_by_token_budget(d, _SHARD_BUDGET)


QUERIES = {
    "text_token_stats": text_token_stats,
    "text_language_id": text_language_id,
    "text_quality_score": text_quality_score,
    "text_fingerprint": text_fingerprint,
    "text_term_frequencies": text_term_frequencies,
    "text_tfidf_top_terms": text_tfidf_top_terms,
    "dedup_exact": dedup_exact,
    "dedup_ngram_jaccard": dedup_ngram_jaccard,
    "dedup_minhash_lsh": dedup_minhash_lsh,
    "dedup_simhash": dedup_simhash,
    "dedup_embedding_cosine": dedup_embedding_cosine,
    "dedup_embedding_lsh": dedup_embedding_lsh,
    "dedup_clusters": dedup_clusters,
    "corpus_dedup_pipeline": corpus_dedup_pipeline,
    "corpus_hash_split": corpus_hash_split,
    "corpus_stratified_sample": corpus_stratified_sample,
    "corpus_token_shards": corpus_token_shards,
    "similarity_topk": similarity_topk,
    "similarity_topk_ivf": similarity_topk_ivf,
    "events_windowed_agg": events_windowed_agg,
    "events_sessionization": events_sessionization,
    "events_asof_join": events_asof_join,
    "events_range_count": events_range_count,
    "events_multires_rollup": events_multires_rollup,
    "streaming_windowed_counts": streaming_windowed_counts,
    "streaming_dedup": streaming_dedup,
    "multimodal_decode": multimodal_decode,
    "stats_profile": stats_profile,
    "stats_value_counts": stats_value_counts,
    "stats_approx_sketches": stats_approx_sketches,
}

# ---------------------------------------------------------------------------
# DuckDB oracles
# ---------------------------------------------------------------------------

_TOKS = "list_filter(string_split_regex(lower({col}), '[^a-z0-9]+'), x -> x <> '')"

_SHINGLES = (
    "list_distinct(list_transform(generate_series(1, greatest(len({t}) - 2, 0)),"
    " i -> array_to_string(list_slice({t}, i, i + 2), ' ')))"
).format(t=_TOKS.format(col="text"))

_NEAR_DUP_DOCS = """
    SELECT doc_id, text FROM documents
    UNION ALL
    SELECT doc_id + 10000 AS doc_id,
           substring(text, 1, greatest(length(text) - 30, 1)) AS text
    FROM documents WHERE doc_id % 20 = 0
"""

_EXACT_DUP_DOCS = """
    SELECT doc_id, text FROM documents
    UNION ALL
    SELECT doc_id + 10000 AS doc_id, text
    FROM documents WHERE doc_id % 20 = 0
"""

_NEAR_DUP_EMB = """
    SELECT vec_id, embedding FROM embeddings
    UNION ALL
    SELECT vec_id + 10000 AS vec_id,
           list_prepend(CAST(embedding[1] + 0.05 AS FLOAT), embedding[2:64])
               AS embedding
    FROM embeddings WHERE vec_id % 25 = 0
"""

_DOT = (
    "list_aggregate(list_transform(generate_series(1, 64),"
    " i -> CAST({a}[i] AS DOUBLE) * CAST({b}[i] AS DOUBLE)), 'sum')"
)
_NORM = (
    "sqrt(list_aggregate(list_transform({v},"
    " x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)), 'sum'))"
)

#: vector is LIVE for cosine work: no NULL/NaN/Inf element and norm>0.
#: Element-level, not isfinite(norm): DuckDB's list 'sum' IGNORES NULL
#: elements, so a NULL-element vector has a finite norm yet must be
#: dead (the Spark kernels coerce NULL→NaN and exclude it).
_LIVE = (
    "(NOT coalesce(list_bool_or(list_transform({v},"
    " x -> x IS NULL OR isnan(CAST(x AS DOUBLE))"
    " OR isinf(CAST(x AS DOUBLE)))), FALSE)"
    " AND " + _NORM + " > 0)"
)

_STOP_EN = "('the','a','of','and','to','in','is','it','that','for')"

ORACLES = {
    "text_token_stats": f"""
        WITH t AS (SELECT doc_id, {_TOKS.format(col='text')} AS toks,
                          list_filter(string_split_regex(text, '\\s+'), x -> x <> '') AS ws
                   FROM documents)
        SELECT doc_id,
               len(toks) AS n_tokens,
               len(list_distinct(toks)) AS n_unique_tokens,
               len(ws) AS n_ws_words,
               ROUND(CAST(list_aggregate(list_transform(toks, x -> length(x)), 'sum')
                          AS DOUBLE) / len(toks), 4) AS mean_token_len
        FROM t
    """,
    "text_language_id": None,  # built dynamically below
    "text_quality_score": f"""
        WITH t AS (
            SELECT doc_id, text, {_TOKS.format(col='text')} AS toks,
                   length(text) AS n_chars,
                   length(regexp_replace(text, '[^a-zA-Z0-9 ]', '', 'g')) AS alnum
            FROM documents)
        SELECT doc_id,
               n_chars AS n_chars_obs,
               len(toks) AS n_tokens,
               ROUND(CAST(n_chars - alnum AS DOUBLE) / n_chars, 6) AS punct_ratio,
               ROUND(CAST(len(list_filter(toks, x -> x IN {_STOP_EN})) AS DOUBLE)
                     / len(toks), 6) AS stopword_ratio,
               floor((0.4 * least(len(toks) / 100.0, 1.0)
                      + 0.3 * (1 - ROUND(CAST(n_chars - alnum AS DOUBLE) / n_chars, 6))
                      + 0.3 * least(ROUND(CAST(len(list_filter(toks, x -> x IN {_STOP_EN}))
                                               AS DOUBLE) / len(toks), 6) * 5, 1.0))
                     * 1000000 + 0.5) / 1000000 AS quality
        FROM t
    """,
    "text_fingerprint": """
        SELECT doc_id,
               md5(text) AS md5_full,
               list_min(list_transform(
                   generate_series(1, greatest(length(text) - 31, 1)),
                   i -> md5(substring(text, i, 32)))) AS min_kgram_md5
        FROM documents
    """,
    "text_term_frequencies": f"""
        WITH toks AS (SELECT doc_id, UNNEST({_TOKS.format(col='text')}) AS term
                      FROM documents)
        SELECT term, COUNT(*) AS tf, COUNT(DISTINCT doc_id) AS df
        FROM toks GROUP BY term
        ORDER BY tf DESC, term ASC LIMIT 100
    """,
    "text_tfidf_top_terms": f"""
        WITH toks AS (SELECT doc_id, UNNEST({_TOKS.format(col='text')}) AS term
                      FROM documents),
        tf AS (SELECT doc_id, term, COUNT(*) AS tf FROM toks GROUP BY 1, 2),
        dfreq AS (SELECT term, COUNT(DISTINCT doc_id) AS df FROM toks GROUP BY 1),
        n AS (SELECT COUNT(*) AS n_docs FROM documents),
        scored AS (
            SELECT tf.doc_id, tf.term,
                   ROUND(tf.tf * ln((n.n_docs + 1.0) / (dfreq.df + 1.0)), 6)
                       AS tfidf
            FROM tf JOIN dfreq USING (term) CROSS JOIN n),
        ranked AS (
            SELECT *, row_number() OVER (
                PARTITION BY doc_id ORDER BY tfidf DESC, term ASC) AS rank
            FROM scored)
        SELECT doc_id, term, tfidf, rank FROM ranked WHERE rank <= 3
    """,
    "dedup_exact": f"""
        WITH d AS ({_EXACT_DUP_DOCS})
        SELECT MIN(doc_id) AS doc_id, COUNT(*) AS n_copies
        FROM d GROUP BY md5(text)
    """,
    "dedup_ngram_jaccard": f"""
        WITH d AS ({_NEAR_DUP_DOCS}),
        sh AS (SELECT doc_id, UNNEST({_SHINGLES}) AS sh FROM d),
        sz AS (SELECT doc_id, COUNT(*) AS sz FROM sh GROUP BY doc_id),
        inter AS (
            SELECT a.doc_id AS id_a, b.doc_id AS id_b, COUNT(*) AS inter
            FROM sh a JOIN sh b ON a.sh = b.sh AND a.doc_id < b.doc_id
            GROUP BY 1, 2)
        SELECT id_a, id_b,
               floor(CAST(inter AS DOUBLE) / (sa.sz + sb.sz - inter) * 1000000 + 0.5) / 1000000 AS jaccard
        FROM inter
        JOIN sz sa ON sa.doc_id = id_a
        JOIN sz sb ON sb.doc_id = id_b
        WHERE CAST(inter AS DOUBLE) / (sa.sz + sb.sz - inter) >= 0.5
    """,
    "dedup_minhash_lsh": f"""
        WITH d AS ({_NEAR_DUP_DOCS}),
        sh AS (SELECT doc_id, UNNEST({_SHINGLES}) AS sh FROM d),
        ids AS (SELECT doc_id, {dedup.hash_id_sql('sh', dedup.MINHASH_P)} AS sid
                FROM sh),
        hashed AS (
            SELECT doc_id, k, ((2*k + 1) * sid + (3*k + 7)) % {dedup.MINHASH_P} AS h
            FROM ids, UNNEST(generate_series(0, 15)) AS u(k)),
        sig AS (SELECT doc_id, k, MIN(h) AS minhash FROM hashed GROUP BY 1, 2),
        band_sig AS (
            SELECT doc_id, CAST(k // 4 AS INT) AS band,
                   string_agg(CAST(minhash AS VARCHAR), ',' ORDER BY k) AS sig
            FROM sig GROUP BY 1, 2),
        cand AS (
            SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
            FROM band_sig a JOIN band_sig b
              ON a.band = b.band AND a.sig = b.sig AND a.doc_id < b.doc_id),
        sz AS (SELECT doc_id, COUNT(*) AS sz FROM sh GROUP BY doc_id),
        inter AS (
            SELECT c.id_a, c.id_b, COUNT(*) AS inter
            FROM cand c
            JOIN sh sa ON sa.doc_id = c.id_a
            JOIN sh sb ON sb.doc_id = c.id_b AND sa.sh = sb.sh
            GROUP BY 1, 2)
        SELECT id_a, id_b,
               floor(CAST(inter AS DOUBLE) / (sa.sz + sb.sz - inter) * 1000000 + 0.5) / 1000000 AS jaccard
        FROM inter
        JOIN sz sa ON sa.doc_id = id_a
        JOIN sz sb ON sb.doc_id = id_b
        WHERE CAST(inter AS DOUBLE) / (sa.sz + sb.sz - inter) >= 0.5
    """,
    "dedup_simhash": f"""
        WITH d AS ({_NEAR_DUP_DOCS}),
        toks AS (SELECT doc_id,
                        UNNEST(list_distinct({_TOKS.format(col='text')})) AS tok
                 FROM d),
        hashed AS (SELECT doc_id, {dedup.hash_id_sql('tok', 4294967296)} AS h
                   FROM toks),
        bits AS (
            SELECT doc_id, j, SUM(2 * ((h >> j) & 1) - 1) AS s
            FROM hashed, UNNEST(generate_series(0, 31)) AS u(j)
            GROUP BY 1, 2),
        fp AS (
            SELECT doc_id,
                   SUM(CASE WHEN s > 0 THEN (CAST(1 AS BIGINT) << j) ELSE 0 END)
                       AS simhash
            FROM bits GROUP BY 1)
        SELECT a.doc_id AS id_a, b.doc_id AS id_b,
               bit_count(xor(a.simhash, b.simhash)) AS hamming
        FROM fp a JOIN fp b ON a.doc_id < b.doc_id
        WHERE bit_count(xor(a.simhash, b.simhash)) <= 6
    """,
    "dedup_clusters": None,  # assembled below from the minhash oracle
    "corpus_dedup_pipeline": f"""
        WITH base AS (
            SELECT doc_id, text FROM documents
            UNION ALL
            SELECT doc_id + 10000, text FROM documents WHERE doc_id % 20 = 0
            UNION ALL
            SELECT doc_id + 20000,
                   substring(text, 1, greatest(length(text) - 30, 1))
            FROM documents WHERE doc_id % 20 = 0),
        flt AS (
            SELECT doc_id, text, len({_TOKS.format(col='text')}) AS n_tokens
            FROM base
            WHERE len({_TOKS.format(col='text')}) >= 20),
        keep AS (SELECT MIN(doc_id) AS doc_id FROM flt GROUP BY md5(text)),
        d AS (SELECT f.* FROM flt f JOIN keep USING (doc_id)),
        sh AS (SELECT doc_id, UNNEST({_SHINGLES}) AS sh FROM d),
        ids AS (SELECT doc_id, {dedup.hash_id_sql('sh', dedup.MINHASH_P)} AS sid
                FROM sh),
        hashed AS (
            SELECT doc_id, k, ((2*k + 1) * sid + (3*k + 7)) % {dedup.MINHASH_P} AS h
            FROM ids, UNNEST(generate_series(0, 15)) AS u(k)),
        sig AS (SELECT doc_id, k, MIN(h) AS minhash FROM hashed GROUP BY 1, 2),
        band_sig AS (
            SELECT doc_id, CAST(k // 4 AS INT) AS band,
                   string_agg(CAST(minhash AS VARCHAR), ',' ORDER BY k) AS sig
            FROM sig GROUP BY 1, 2),
        cand AS (
            SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
            FROM band_sig a JOIN band_sig b
              ON a.band = b.band AND a.sig = b.sig AND a.doc_id < b.doc_id),
        sz AS (SELECT doc_id, COUNT(*) AS sz FROM sh GROUP BY doc_id),
        inter AS (
            SELECT c.id_a, c.id_b, COUNT(*) AS inter
            FROM cand c
            JOIN sh sa ON sa.doc_id = c.id_a
            JOIN sh sb ON sb.doc_id = c.id_b AND sa.sh = sb.sh
            GROUP BY 1, 2),
        pairs AS (
            SELECT id_a, id_b FROM inter
            JOIN sz sa ON sa.doc_id = id_a
            JOIN sz sb ON sb.doc_id = id_b
            WHERE CAST(inter AS DOUBLE) / (sa.sz + sb.sz - inter) >= 0.5)
        SELECT doc_id, n_tokens FROM d
        WHERE doc_id NOT IN (SELECT id_b FROM pairs)
        ORDER BY doc_id
    """,
    "similarity_topk": f"""
        -- norm > 0 on both sides mirrors the plan's zero-norm exclusion
        -- (cosine_topk contract): a zero-norm query must return NO rows,
        -- not five NULL-cosine ranks
        WITH q AS (SELECT vec_id AS query_id, embedding AS qvec
                   FROM embeddings WHERE vec_id < 10
                     AND {_LIVE.format(v='embedding')}),
        scored AS (
            SELECT q.query_id, e.vec_id AS neighbor_id,
                   ROUND({_DOT.format(a='q.qvec', b='e.embedding')}
                         / ({_NORM.format(v='q.qvec')}
                            * {_NORM.format(v='e.embedding')}), 6) AS cosine
            FROM embeddings e, q WHERE e.vec_id <> q.query_id
              AND {_LIVE.format(v='e.embedding')}),
        ranked AS (
            SELECT *, row_number() OVER (
                PARTITION BY query_id ORDER BY cosine DESC, neighbor_id) AS rank
            FROM scored)
        SELECT query_id, neighbor_id, cosine, rank FROM ranked WHERE rank <= 5
    """,
    "similarity_topk_ivf": f"""
        -- norm > 0 filters mirror the kernel's zero-norm contract:
        -- zero-norm queries probe nothing, zero-norm corpus rows are
        -- never candidates (similarity.py cosine_topk_ivf)
        WITH cent AS (SELECT vec_id AS centroid_id, embedding AS cvec
                      FROM embeddings WHERE vec_id % 50 = 0),
        assigned AS (
            SELECT vec_id, embedding, centroid_id FROM (
                SELECT e.vec_id, e.embedding, c.centroid_id,
                       row_number() OVER (PARTITION BY e.vec_id ORDER BY
                           ROUND({_DOT.format(a='c.cvec', b='e.embedding')}
                                 / ({_NORM.format(v='c.cvec')}
                                    * {_NORM.format(v='e.embedding')}), 6) DESC,
                           c.centroid_id) AS rn
                FROM embeddings e, cent c
                WHERE {_LIVE.format(v='e.embedding')}) WHERE rn = 1),
        q AS (SELECT vec_id AS query_id, embedding AS qvec
              FROM embeddings WHERE vec_id < 10
                AND {_LIVE.format(v='embedding')}),
        probes AS (
            SELECT query_id, centroid_id FROM (
                SELECT q.query_id, c.centroid_id,
                       row_number() OVER (PARTITION BY q.query_id ORDER BY
                           ROUND({_DOT.format(a='q.qvec', b='c.cvec')}
                                 / ({_NORM.format(v='q.qvec')}
                                    * {_NORM.format(v='c.cvec')}), 6) DESC,
                           c.centroid_id) AS rank
                FROM cent c, q WHERE c.centroid_id <> q.query_id)
            WHERE rank <= 3),
        cand AS (
            SELECT q.query_id, a.vec_id AS neighbor_id,
                   ROUND({_DOT.format(a='q.qvec', b='a.embedding')}
                         / ({_NORM.format(v='q.qvec')}
                            * {_NORM.format(v='a.embedding')}), 6) AS cosine
            FROM assigned a
            JOIN probes p ON a.centroid_id = p.centroid_id
            JOIN q ON q.query_id = p.query_id
            WHERE a.vec_id <> q.query_id),
        ranked AS (
            SELECT *, row_number() OVER (
                PARTITION BY query_id ORDER BY cosine DESC, neighbor_id) AS rank
            FROM cand)
        SELECT query_id, neighbor_id, cosine, rank FROM ranked WHERE rank <= 5
    """,
    "events_windowed_agg": """
        SELECT time_bucket(INTERVAL '1 hour', ts) AS window_start,
               event_type,
               COUNT(*) AS n_events,
               ROUND(SUM(value), 2) AS total_value
        FROM events
        GROUP BY 1, 2 ORDER BY 1, 2
    """,
    "events_asof_join": """
        WITH p AS (SELECT event_id, user_id, ts FROM events
                   WHERE event_type = 'purchase'),
             v AS (SELECT event_id AS view_event_id, user_id, ts FROM events
                   WHERE event_type = 'view')
        SELECT p.event_id, p.user_id, epoch_ms(p.ts) AS ts_ms, v.view_event_id
        FROM p ASOF LEFT JOIN v
          ON p.user_id = v.user_id AND p.ts >= v.ts
        ORDER BY p.event_id
    """,
    "events_range_count": """
        WITH p AS (SELECT event_id, user_id, ts FROM events
                   WHERE event_type = 'purchase'),
             v AS (SELECT user_id, ts FROM events WHERE event_type = 'view')
        SELECT p.event_id, p.user_id, epoch_ms(p.ts) AS ts_ms,
               (SELECT COUNT(*) FROM v
                WHERE v.user_id = p.user_id
                  AND epoch(v.ts) < epoch(p.ts)
                  AND epoch(v.ts) >= epoch(p.ts) - 1800.0) AS n_views_30m
        FROM p ORDER BY p.event_id
    """,
    "events_multires_rollup": """
        SELECT strftime(ts, '%Y-%m-%d') AS day,
               strftime(ts, '%H') AS hour,
               COUNT(*) AS n_events,
               ROUND(SUM(value), 2) AS total_value
        FROM events
        GROUP BY GROUPING SETS ((day, hour), (day))
        ORDER BY day, hour NULLS FIRST
    """,
    "streaming_windowed_counts": """
        SELECT time_bucket(INTERVAL '1 hour', ts) AS window_start,
               event_type,
               COUNT(*) AS n_events,
               ROUND(SUM(value), 2) AS total_value
        FROM events
        GROUP BY 1, 2
    """,
    "multimodal_decode": """
        SELECT doc_id AS media_id,
               16 + doc_id % 32 AS width,
               16 + (doc_id * 7) % 32 AS height,
               3 AS channels
        FROM documents
    """,
    "stats_profile": """
        -- floor(x*100 + 0.5)/100 == the Spark side's IEEE round-2 composite;
        -- CAST(SUM(int) AS BIGINT): DuckDB integer SUM is HUGEINT, which
        -- pandas renders as float64 and the exact-hash gate sees as 2996.0
        -- vs Spark's bigint 2996.
        SELECT MAX(o_orderkey) AS max_id,
               COUNT(DISTINCT o_custkey) AS n_customers,
               floor(AVG(o_totalprice) * 100 + 0.5) / 100 AS mean_price,
               floor(quantile_cont(o_totalprice, 0.5) * 100 + 0.5) / 100
                   AS median_price,
               CAST(SUM(CASE WHEN o_orderstatus = 'F' THEN 1 ELSE 0 END)
                    AS BIGINT) AS n_finished,
               COALESCE(floor(SUM(o_totalprice) * 100 + 0.5) / 100, 0.0)
                   AS total_price
        FROM orders
    """,
    "stats_value_counts": """
        SELECT o_orderpriority, COUNT(*) AS n
        FROM orders GROUP BY o_orderpriority
        ORDER BY n DESC, o_orderpriority
    """,
    "events_sessionization": """
        WITH g AS (
            SELECT user_id,
                   CASE WHEN prev IS NULL
                             OR (epoch(ts) - epoch(prev)) > 1800.0
                        THEN 1 ELSE 0 END AS new_session
            FROM (SELECT user_id, ts,
                         lag(ts) OVER (PARTITION BY user_id
                                       ORDER BY ts, event_id) AS prev
                  FROM events))
        SELECT user_id,
               CAST(SUM(new_session) AS BIGINT) AS n_sessions,
               COUNT(*) AS n_events
        FROM g GROUP BY user_id ORDER BY user_id
    """,
}


def _lang_oracle() -> str:
    toks = f"list_distinct({_TOKS.format(col='text')})"
    score_cols = []
    for lang, words in sorted(text.STOPWORDS.items()):
        arr = "[" + ", ".join(f"'{w}'" for w in words) + "]"
        score_cols.append(
            f"len(list_intersect({toks}, {arr})) AS score_{lang}"
        )
    langs = sorted(text.STOPWORDS)
    best = "greatest(" + ", ".join(f"score_{lang}" for lang in langs) + ")"
    pred = "CASE"
    for lang in langs:
        pred += f" WHEN score_{lang} = {best} THEN '{lang}'"
    pred += " END"
    return f"""
        WITH s AS (SELECT doc_id, {", ".join(score_cols)} FROM documents)
        SELECT doc_id, {", ".join(f"score_{lang}" for lang in langs)},
               CASE WHEN {best} > 0 THEN {pred} ELSE 'und' END AS lang_pred
        FROM s
    """


ORACLES["text_language_id"] = _lang_oracle()

# The sketch gate emits error-contract booleans (see stats_approx_sketches);
# the oracle asserts the same contract as literals — a sketch outside its
# documented bound hash-mismatches the TRUE row.
ORACLES["stats_approx_sketches"] = """
    SELECT COUNT(*) AS n_rows,
           TRUE AS hll_orders_ok, TRUE AS hll_parts_ok,
           TRUE AS p50_in_band, TRUE AS p95_in_band, TRUE AS p99_in_band
    FROM lineitem
"""


def _emb_lsh_oracle(
    planes: int = 32, bands: int = 4, dim: int = 64, threshold: float = 0.8
) -> str:
    """DuckDB twin of ``dedup.embedding_lsh_pairs`` — same md5-derived
    ±1 hyperplanes (driver-generated literals), same fold + 6dp-round
    sign convention, same banding."""
    R = similarity.hyperplane_signs(planes, dim)
    rows = planes // bands

    def bit(b: int) -> str:
        # explicit left-associated sum == the Spark side's codegen'd sum
        proj = " + ".join(
            f"CAST(embedding[{i + 1}] AS DOUBLE) * {R[b][i]:.1f}"
            for i in range(dim)
        )
        return f"CASE WHEN round({proj}, 6) >= 0 THEN '1' ELSE '0' END"

    band_selects = " UNION ALL ".join(
        f"SELECT vec_id, {b} AS band, "
        + " || ".join(bit(b * rows + r) for r in range(rows))
        + " AS sig FROM e"
        for b in range(bands)
    )
    cos = (
        f"ROUND({_DOT.format(a='ea.embedding', b='eb.embedding')}"
        f" / ({_NORM.format(v='ea.embedding')}"
        f" * {_NORM.format(v='eb.embedding')}), 6)"
    )
    # zero-norm filter mirrors the plan's up-front exclusion so the two
    # formulations are bit-equivalent by construction (an all-zero
    # vector would band as all-'1' and cosine as NULL here otherwise)
    return f"""
        WITH e0 AS ({_NEAR_DUP_EMB}),
        e AS (SELECT * FROM e0
              WHERE {_LIVE.format(v='embedding')}),
        bs AS ({band_selects}),
        cand AS (
            SELECT DISTINCT a.vec_id AS id_a, b.vec_id AS id_b
            FROM bs a JOIN bs b
              ON a.band = b.band AND a.sig = b.sig AND a.vec_id < b.vec_id)
        SELECT id_a, id_b, {cos} AS cosine
        FROM cand
        JOIN e ea ON ea.vec_id = id_a
        JOIN e eb ON eb.vec_id = id_b
        WHERE {cos} >= {threshold}
    """


ORACLES["dedup_embedding_lsh"] = _emb_lsh_oracle()
# The gated dedup_embedding_cosine plan is the SAME banded LSH at the
# 0.99 threshold (round-5 verdict item 3: the all-pairs cartesian form
# is demoted to a test-only verification primitive, EMB_ALLPAIRS_ORACLE
# below, mirroring the r3 simhash swap).
ORACLES["dedup_embedding_cosine"] = _emb_lsh_oracle(threshold=0.99)

#: All-pairs cosine oracle over the near-dup fixture — NOT a gate; used
#: by tests/test_dedup.py to pin the banded plan's recall on testdata.
EMB_ALLPAIRS_ORACLE = f"""
    WITH e AS ({_NEAR_DUP_EMB})
    SELECT a.vec_id AS id_a, b.vec_id AS id_b,
           ROUND({_DOT.format(a='a.embedding', b='b.embedding')}
                 / ({_NORM.format(v='a.embedding')}
                    * {_NORM.format(v='b.embedding')}), 6) AS cosine
    FROM e a JOIN e b ON a.vec_id < b.vec_id
    WHERE ROUND({_DOT.format(a='a.embedding', b='b.embedding')}
                / ({_NORM.format(v='a.embedding')}
                   * {_NORM.format(v='b.embedding')}), 6) >= 0.99
"""


ORACLES["streaming_dedup"] = """
    SELECT event_id, user_id, event_type FROM events
"""


ORACLES["corpus_hash_split"] = f"""
    SELECT doc_id, lang, {corpus.hash_split_sql(_SPLITS)}
    FROM documents
"""


ORACLES["corpus_stratified_sample"] = f"""
    SELECT doc_id, lang FROM documents
    WHERE {corpus.stratified_sample_sql(
        _SAMPLE_FRACTIONS, strata_col='lang', default_fraction=0.05)}
"""


ORACLES["corpus_token_shards"] = f"""
    WITH t AS (SELECT doc_id,
                      coalesce(len({_TOKS.format(col='text')}), 0)
                          AS n_tokens
               FROM documents)
    SELECT doc_id, n_tokens,
           CAST(COALESCE(SUM(n_tokens) OVER (ORDER BY doc_id
                        ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
                    0) // {_SHARD_BUDGET} AS BIGINT) AS shard_id
    FROM t
"""


ORACLES["dedup_clusters"] = f"""
    WITH RECURSIVE pairs AS (
        SELECT id_a, id_b FROM ({ORACLES['dedup_minhash_lsh']})
    ),
    e AS (
        SELECT id_a AS src, id_b AS dst FROM pairs
        UNION
        SELECT id_b AS src, id_a AS dst FROM pairs
    ),
    reach(a, b) AS (
        SELECT src, dst FROM e
        UNION
        SELECT r.a, e2.dst FROM reach r JOIN e e2 ON r.b = e2.src
    )
    SELECT a AS doc_id, LEAST(a, MIN(b)) AS component
    FROM reach GROUP BY a ORDER BY doc_id
"""


# --- PII scrub (operators/pii.py) -------------------------------------------

#: Deterministic PII dirt injected into the synthetic corpus (which has
#: none): identical SQL text evaluates in both engines — integer concat
#: and CASE are dialect-shared. Every 5th doc gets an email + an IPv4,
#: every 7th an SSN + a credit card, every 11th a phone number.
_PII_DIRT = (
    "text"
    " || CASE WHEN doc_id % 5 = 0 THEN ' contact user' || (doc_id % 1000)"
    " || '@example.com from 10.0.' || (doc_id % 250) || '.7' ELSE '' END"
    " || CASE WHEN doc_id % 7 = 0 THEN"
    " ' ssn 123-45-6789 card 4111-1111-1111-1111' ELSE '' END"
    " || CASE WHEN doc_id % 11 = 0 THEN ' call +1-800-555-0142' ELSE '' END"
)


def _docs_with_pii(spark, sf_dir) -> DataFrame:
    return _docs(spark, sf_dir).select(
        "doc_id", F.expr(_PII_DIRT).alias("text")
    )


def pii_detect(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-doc PII counters (email/IPv4/CC/SSN/phone) — JVM regexp_count,
    zero shuffle, linear at 100 TB."""
    return pii.pii_detect(_docs_with_pii(spark, sf_dir))


def pii_redact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Redacted corpus: every match replaced by its <TOKEN>."""
    return pii.pii_redact(_docs_with_pii(spark, sf_dir))


QUERIES["pii_detect"] = pii_detect
QUERIES["pii_redact"] = pii_redact

ORACLES["pii_detect"] = f"""
    WITH d AS (SELECT doc_id, {_PII_DIRT} AS text FROM documents)
    SELECT doc_id, {pii.pii_detect_sql('text')} FROM d
"""

ORACLES["pii_redact"] = f"""
    WITH d AS (SELECT doc_id, {_PII_DIRT} AS text FROM documents)
    SELECT doc_id, {pii.pii_redact_sql('text')} FROM d
"""


# --- repetition quality signals (operators/text.py) -------------------------


def text_repetition(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher-style top/duplicate n-gram fractions — zero-shuffle
    run-length fold vs. the oracle's explode→groupBy formulation."""
    return text.repetition_stats(_docs(spark, sf_dir))


QUERIES["text_repetition"] = text_repetition
ORACLES["text_repetition"] = text.repetition_stats_sql("documents")


# --- sequence packing (operators/corpus.py) ---------------------------------

_SEQ_LEN = 512


def corpus_pack_sequences(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Greedy sequence packing after token-budget sharding — the step
    that turns a sharded corpus into fixed-capacity training sequences."""
    d = _docs(spark, sf_dir).select(
        "doc_id",
        F.coalesce(F.size(text.tokens()), F.lit(0)).alias("n_tokens"),
    )
    return corpus.pack_sequences(d, _SEQ_LEN, shard_budget=_SHARD_BUDGET)


QUERIES["corpus_pack_sequences"] = corpus_pack_sequences
ORACLES["corpus_pack_sequences"] = corpus.pack_sequences_sql(
    ORACLES["corpus_token_shards"], _SEQ_LEN
)


# --- custom stateful streaming operator (streaming/events.py) ---------------


def streaming_user_totals(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Running per-user totals via ``applyInPandasWithState`` — the
    custom-stateful-operator escape hatch. With the bounded one-batch
    file source each user emits exactly once with final state, so the
    batch GROUP BY is the oracle (same pattern as streaming_dedup)."""
    from sales_data_etl_pipeline_spark.streaming import events as streaming

    ev = streaming.stream_events(spark, sf_dir)
    tbl = streaming.run_stream_to_memory(
        streaming.stateful_user_totals(ev),
        "streaming_user_totals_tbl",
        output_mode="update",
    )
    return tbl.select(
        "user_id",
        "n_events",
        F.round("total_value", 2).alias("total_value"),
    ).orderBy("user_id")


QUERIES["streaming_user_totals"] = streaming_user_totals
ORACLES["streaming_user_totals"] = """
    SELECT user_id,
           COUNT(*) AS n_events,
           ROUND(SUM(value), 2) AS total_value
    FROM events GROUP BY user_id ORDER BY user_id
"""


# --- cohort retention (OLAP breadth over events) ----------------------------


def events_cohort_retention(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weekly cohort retention: users bucketed by first-activity week,
    counted per week-offset of continued activity.

    Shape: distinct (user, week) → per-user min week → co-partitioned
    join on user_id (both sides already hash-partitioned by the
    preceding aggs — AQE reuses the exchange) → final agg on
    (cohort, offset). No broadcast assumption: the user dimension is
    unbounded at 100 TB, so both joins stay shuffle-side.
    """
    ev = _events(spark, sf_dir).select(
        "user_id", F.to_date(F.date_trunc("week", F.col("ts"))).alias("week")
    )
    active = ev.distinct()
    first = active.groupBy("user_id").agg(F.min("week").alias("cohort_week"))
    return (
        active.join(first, "user_id")
        .select(
            "cohort_week",
            F.expr("datediff(week, cohort_week) div 7").alias("week_offset"),
        )
        .groupBy("cohort_week", "week_offset")
        .agg(F.count(F.lit(1)).alias("n_users"))
        .orderBy("cohort_week", "week_offset")
    )


QUERIES["events_cohort_retention"] = events_cohort_retention
ORACLES["events_cohort_retention"] = """
    WITH w AS (SELECT DISTINCT user_id,
                      CAST(date_trunc('week', ts) AS DATE) AS week
               FROM events),
    f AS (SELECT user_id, MIN(week) AS cohort_week FROM w GROUP BY user_id)
    SELECT f.cohort_week,
           date_diff('day', f.cohort_week, w.week) // 7 AS week_offset,
           COUNT(*) AS n_users
    FROM w JOIN f ON w.user_id = f.user_id
    GROUP BY 1, 2 ORDER BY 1, 2
"""


# --- embedding post-processing (operators/embeddings.py) --------------------


def embedding_normalize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """L2 normalization at 1e-6 emit resolution (integer-serialized so
    the gate hash is IEEE-stable and array-free)."""
    from sales_data_etl_pipeline_spark.operators import embeddings as emb_ops

    return emb_ops.l2_normalize(_emb(spark, sf_dir))


def embedding_quantize_int8(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Symmetric int8 quantization with per-vector scale."""
    from sales_data_etl_pipeline_spark.operators import embeddings as emb_ops

    return emb_ops.quantize_int8(_emb(spark, sf_dir))


from sales_data_etl_pipeline_spark.operators import embeddings as _emb_ops

QUERIES["embedding_normalize"] = embedding_normalize
QUERIES["embedding_quantize_int8"] = embedding_quantize_int8
ORACLES["embedding_normalize"] = _emb_ops.l2_normalize_sql("embeddings")
ORACLES["embedding_quantize_int8"] = _emb_ops.quantize_int8_sql("embeddings")


# --- unigram LM scoring (operators/text.py) ---------------------------------


def text_unigram_logprob(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-doc surprisal under the corpus's own unigram model."""
    return text.unigram_logprob(_docs(spark, sf_dir))


QUERIES["text_unigram_logprob"] = text_unigram_logprob
ORACLES["text_unigram_logprob"] = text.unigram_logprob_sql("documents")


# --- funnel analysis (operators/temporal.py) --------------------------------

_FUNNEL_STEPS = ("view", "click", "purchase")


def events_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Strict-sequence funnel view→click→purchase per user."""
    from sales_data_etl_pipeline_spark.operators import temporal

    return temporal.funnel_counts(_events(spark, sf_dir), _FUNNEL_STEPS)


QUERIES["events_funnel"] = events_funnel

from sales_data_etl_pipeline_spark.operators.temporal import funnel_counts_sql as _funnel_sql

ORACLES["events_funnel"] = _funnel_sql("events", _FUNNEL_STEPS)


# --- end-to-end corpus prep (PII → dedup → split → shard → pack) ------------


def corpus_prep_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The full training-data prep composition: PII redaction → short-doc
    filter → exact dedup (keep-min-id per content hash) → deterministic
    train split → token-budget sharding → greedy sequence packing.

    Every stage is the already-gated operator; this entry pins the
    COMPOSITION (the plan a real 100 TB corpus prep runs end-to-end:
    per-row scrub and filter stages fuse into the scan, one shuffle for
    the content-hash dedup, the prefix-sum scan, then bounded-memory
    packing groups).
    """
    clean = pii.pii_redact(_docs_with_pii(spark, sf_dir))
    # materialize the scrub+tokenize stage once: it feeds BOTH sides of
    # the dedup semi-join (keep-list build + probe) and the downstream
    # split/pack path — without the cut the regex+tokenize projection
    # re-runs per consumer (measured ~0.6 s each at sf0.1). At cluster
    # scale this is the stage-boundary write every multi-consumer
    # pipeline stage wants.
    sized = ckpt.checkpoint(
        clean.withColumn("n_tokens", F.size(text.tokens("text_clean")))
        .filter(F.col("n_tokens") >= 20),
        eager=False,
    )
    keep = (
        sized.groupBy(F.md5("text_clean").alias("_h"))
        .agg(F.min("doc_id").alias("doc_id"))
        .select("doc_id")
    )
    deduped = sized.join(keep, "doc_id", "left_semi")
    train = corpus.hash_split(deduped, _SPLITS).filter(
        F.col("split") == "train"
    )
    return corpus.pack_sequences(
        train.select("doc_id", "n_tokens"), _SEQ_LEN, shard_budget=_SHARD_BUDGET
    )


QUERIES["corpus_prep_pipeline"] = corpus_prep_pipeline

_PREP_TOKS = _TOKS.format(col="text_clean")
_PREP_TRAIN_UB = 9000  # train = first 0.9 of the md5 bucket space
_PREP_SHARDED = f"""
    WITH d AS (SELECT doc_id, {_PII_DIRT} AS text FROM documents),
    c AS (SELECT doc_id, {pii.pii_redact_sql('text')} FROM d),
    t AS (SELECT doc_id, text_clean, len({_PREP_TOKS}) AS n_tokens
          FROM c WHERE len({_PREP_TOKS}) >= 20),
    k AS (SELECT MIN(doc_id) AS doc_id FROM t GROUP BY md5(text_clean)),
    f AS (SELECT t.doc_id, t.n_tokens
          FROM t JOIN k ON t.doc_id = k.doc_id
          WHERE {corpus.hash_bucket_sql('t.doc_id')} < {_PREP_TRAIN_UB})
    SELECT doc_id, n_tokens,
           CAST(COALESCE(SUM(n_tokens) OVER (ORDER BY doc_id
                        ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
                    0) // {_SHARD_BUDGET} AS BIGINT) AS shard_id
    FROM f
"""
ORACLES["corpus_prep_pipeline"] = corpus.pack_sequences_sql(
    _PREP_SHARDED, _SEQ_LEN
)


# --- keyed upsert / conflict-skip insert (operators/merge.py) ---------------

from sales_data_etl_pipeline_spark.operators import merge as merge_ops

_UPD_SQL = """
    SELECT doc_id, text || ' v2' AS text, lang
    FROM documents WHERE doc_id % 10 = 0
    UNION ALL
    SELECT doc_id + 50000 AS doc_id,
           'new doc ' || (doc_id + 50000) AS text,
           'en' AS lang
    FROM documents WHERE doc_id % 10 = 0
"""


def _doc_updates(spark, sf_dir) -> DataFrame:
    docs = _docs(spark, sf_dir).select("doc_id", "text", "lang")
    tenth = docs.filter(F.col("doc_id") % 10 == 0)
    modified = tenth.select(
        "doc_id", F.expr("text || ' v2'").alias("text"), "lang"
    )
    new = tenth.select(
        (F.col("doc_id") + 50000).alias("doc_id"),
        F.expr("'new doc ' || (doc_id + 50000)").alias("text"),
        F.lit("en").alias("lang"),
    )
    return modified.unionByName(new)


def table_upsert(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MERGE semantics: updates win on key match, new keys insert."""
    docs = _docs(spark, sf_dir).select("doc_id", "text", "lang")
    return merge_ops.upsert(docs, _doc_updates(spark, sf_dir), "doc_id")


def table_insert_missing(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The reference's conflict-skip insert as a reusable operator."""
    docs = _docs(spark, sf_dir).select("doc_id", "text", "lang")
    return merge_ops.insert_missing(docs, _doc_updates(spark, sf_dir), "doc_id")


QUERIES["table_upsert"] = table_upsert
QUERIES["table_insert_missing"] = table_insert_missing
ORACLES["table_upsert"] = (
    f"WITH u AS ({_UPD_SQL}) "
    + merge_ops.upsert_sql("documents", "u", "doc_id", ["doc_id", "text", "lang"])
)
ORACLES["table_insert_missing"] = (
    f"WITH u AS ({_UPD_SQL}) "
    + merge_ops.insert_missing_sql(
        "documents", "u", "doc_id", ["doc_id", "text", "lang"]
    )
)


# --- SCD-2 dimension versioning (operators/merge.py) ------------------------

_SCD_CUR_SQL = """
    SELECT doc_id, lang, source,
           CAST(0 AS BIGINT) AS valid_from, CAST(NULL AS BIGINT) AS valid_to
    FROM documents
    UNION ALL
    SELECT doc_id, 'old' AS lang, 'hist' AS source,
           CAST(-100 AS BIGINT) AS valid_from, CAST(0 AS BIGINT) AS valid_to
    FROM documents WHERE doc_id % 20 = 0
"""

_SCD_UPD_SQL = """
    SELECT doc_id, lang, 'updated' AS source, CAST(100 AS BIGINT) AS ts
    FROM documents WHERE doc_id % 10 = 0
    UNION ALL
    SELECT doc_id, lang, source, CAST(150 AS BIGINT) AS ts
    FROM documents WHERE doc_id % 15 = 0
    UNION ALL
    SELECT doc_id, lang, 'updated2' AS source, CAST(200 AS BIGINT) AS ts
    FROM documents WHERE doc_id % 20 = 0
"""


def _scd_frames(spark, sf_dir):
    docs = _docs(spark, sf_dir).select("doc_id", "lang", "source")
    cur = docs.select(
        "doc_id", "lang", "source",
        F.lit(0).cast("long").alias("valid_from"),
        F.lit(None).cast("long").alias("valid_to"),
    ).unionByName(
        docs.filter(F.col("doc_id") % 20 == 0).select(
            "doc_id", F.lit("old").alias("lang"), F.lit("hist").alias("source"),
            F.lit(-100).cast("long").alias("valid_from"),
            F.lit(0).cast("long").alias("valid_to"),
        )
    )
    ups = (
        docs.filter(F.col("doc_id") % 10 == 0)
        .select("doc_id", "lang", F.lit("updated").alias("source"),
                F.lit(100).cast("long").alias("ts"))
        .unionByName(
            # no-op update: attrs unchanged -> must NOT create a version
            docs.filter(F.col("doc_id") % 15 == 0).select(
                "doc_id", "lang", "source", F.lit(150).cast("long").alias("ts")
            )
        )
        .unionByName(
            docs.filter(F.col("doc_id") % 20 == 0).select(
                "doc_id", "lang", F.lit("updated2").alias("source"),
                F.lit(200).cast("long").alias("ts"),
            )
        )
    )
    return cur, ups


def table_scd2_apply(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SCD-2 history versioning under a mixed batch (changes, no-ops,
    multi-update keys, pre-existing closed history)."""
    cur, ups = _scd_frames(spark, sf_dir)
    return merge_ops.scd2_apply(cur, ups, "doc_id", ["lang", "source"])


QUERIES["table_scd2_apply"] = table_scd2_apply
ORACLES["table_scd2_apply"] = merge_ops.scd2_apply_sql(
    f"({_SCD_CUR_SQL})", f"({_SCD_UPD_SQL})", "doc_id", ["lang", "source"]
)


# --- mixture / epoch upsampling (operators/corpus.py) -----------------------

_MIX_EPOCHS = {"src0": 2.5, "src1": 1.0, "src2": 0.3}


def corpus_mixture_epochs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic source mixing: src0 at 2.5 epochs, src1 at 1,
    src2 at 0.3, everything else at the 1.0 default."""
    return corpus.mixture_upsample(
        _docs(spark, sf_dir).select("doc_id", "source"), _MIX_EPOCHS
    )


QUERIES["corpus_mixture_epochs"] = corpus_mixture_epochs
ORACLES["corpus_mixture_epochs"] = corpus.mixture_upsample_sql(
    "documents", _MIX_EPOCHS
)


# --- stream-static join (streaming/events.py surface) -----------------------

_EVENT_CATEGORIES = [
    ("view", "engagement"),
    ("click", "engagement"),
    ("purchase", "revenue"),
    ("signup", "revenue"),
    ("error", "ops"),
]


def streaming_enriched_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-static join: the event stream enriched against a static
    dimension (event_type → category) before a windowed aggregation —
    the standard streaming enrichment pattern (the static side is
    broadcast; no stream-stream shuffle). Oracle = the batch form.
    """
    from sales_data_etl_pipeline_spark.streaming import events as streaming

    ev = streaming.stream_events(spark, sf_dir)
    cats = spark.createDataFrame(
        _EVENT_CATEGORIES, "event_type string, category string"
    )
    agg = (
        ev.join(F.broadcast(cats), "event_type")
        .withWatermark("ts", "10 minutes")
        .groupBy(F.window("ts", "1 hour"), "category")
        .agg(F.count(F.lit(1)).alias("n_events"))
        .select(
            F.col("window.start").alias("window_start"),
            "category",
            "n_events",
        )
    )
    tbl = streaming.run_stream_to_memory(
        agg, "streaming_enriched_counts_tbl", output_mode="complete"
    )
    return tbl.orderBy("window_start", "category")


QUERIES["streaming_enriched_counts"] = streaming_enriched_counts

_CAT_CASE = "CASE " + " ".join(
    f"WHEN event_type = '{t}' THEN '{c}'" for t, c in _EVENT_CATEGORIES
) + " END"

ORACLES["streaming_enriched_counts"] = f"""
    SELECT time_bucket(INTERVAL '1 hour', ts) AS window_start,
           {_CAT_CASE} AS category,
           COUNT(*) AS n_events
    FROM events
    WHERE {_CAT_CASE} IS NOT NULL
    GROUP BY 1, 2 ORDER BY 1, 2
"""


# --- cluster representative selection (operators/dedup.py) ------------------


def dedup_cluster_representatives(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup components → keep-best survivor per cluster (score =
    token count: prefer the longest member, tiebreak smallest id)."""
    pairs = dedup.minhash_lsh_pairs(
        _docs_with_near_dups(spark, sf_dir), threshold=0.5
    )
    clusters = dedup.connected_components(pairs)
    scores = _docs_with_near_dups(spark, sf_dir).select(
        "doc_id", F.size(text.tokens()).cast("long").alias("score")
    )
    return dedup.select_cluster_representatives(clusters, scores).orderBy(
        "component"
    )


QUERIES["dedup_cluster_representatives"] = dedup_cluster_representatives
ORACLES["dedup_cluster_representatives"] = f"""
    WITH nd AS ({_NEAR_DUP_DOCS}),
    cl AS (SELECT * FROM ({ORACLES['dedup_clusters']})),
    q AS (SELECT doc_id, CAST(len({_TOKS.format(col='text')}) AS BIGINT) AS score
          FROM nd),
    j AS (SELECT cl.component, cl.doc_id, q.score
          FROM cl JOIN q ON cl.doc_id = q.doc_id),
    r AS (SELECT *, ROW_NUMBER() OVER (PARTITION BY component
              ORDER BY score DESC, doc_id ASC) AS rn FROM j)
    SELECT component, doc_id, score FROM r WHERE rn = 1 ORDER BY component
"""


# --- length histogram profiling ---------------------------------------------

_HIST_W, _HIST_BINS = 50, 20


def stats_length_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fixed-width histogram of document lengths (50-char bins, last bin
    open-ended) — the profiling step that sizes quality-filter cuts.
    Pure integer arithmetic: one map-side-combined shuffle on bin id."""
    b = F.expr(f"least(n_chars div {_HIST_W}, {_HIST_BINS - 1}L)")
    return (
        _docs(spark, sf_dir)
        .select(b.alias("bin_id"))
        .groupBy("bin_id")
        .agg(F.count(F.lit(1)).alias("n_docs"))
        .select(
            "bin_id",
            (F.col("bin_id") * _HIST_W).alias("bin_lo"),
            ((F.col("bin_id") + 1) * _HIST_W).alias("bin_hi"),
            "n_docs",
        )
        .orderBy("bin_id")
    )


QUERIES["stats_length_histogram"] = stats_length_histogram
ORACLES["stats_length_histogram"] = f"""
    WITH b AS (SELECT least(n_chars // {_HIST_W}, {_HIST_BINS - 1}) AS bin_id
               FROM documents)
    SELECT bin_id,
           bin_id * {_HIST_W} AS bin_lo,
           (bin_id + 1) * {_HIST_W} AS bin_hi,
           COUNT(*) AS n_docs
    FROM b GROUP BY bin_id ORDER BY bin_id
"""


# --- salted aggregation gate (operators/skew.py) ----------------------------


def events_salted_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-stage salted count+sum per event_type (the hot-key plan):
    salting changes the PHYSICAL distribution only, so the plain
    GROUP BY is the oracle — this entry pins result-equivalence of the
    skew-safe plan under the driver's exact hash."""
    from sales_data_etl_pipeline_spark.operators import skew

    ev = _events(spark, sf_dir)
    # ONE two-stage pass for both measures: the previous counts ⋈ sums
    # composition equi-joined on the group key, which silently dropped
    # a NULL-key group (found by a NULL-fields probe — the plain
    # GROUP BY oracle keeps NULL as a group, SQL joins never match it)
    both = skew.salted_count_sum(
        ev, ["event_type"], "value", count_col="n_events", sum_col="_sv"
    )
    return (
        both
        .select(
            "event_type",
            "n_events",
            F.round("_sv", 2).alias("total_value"),
        )
        .orderBy("event_type")
    )


QUERIES["events_salted_agg"] = events_salted_agg
ORACLES["events_salted_agg"] = """
    SELECT event_type,
           COUNT(*) AS n_events,
           ROUND(SUM(value), 2) AS total_value
    FROM events GROUP BY event_type ORDER BY event_type
"""


# --- semi-structured JSON extraction ----------------------------------------


def events_json_props(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Schema-on-read over the JSON ``props`` column: parse with an
    explicit struct schema (``from_json`` — vectorized JVM parsing, no
    UDF) and aggregate the extracted field. The semi-structured path a
    training-data pipeline needs for metadata columns."""
    ev = _events(spark, sf_dir)
    parsed = ev.select(
        "event_type",
        F.from_json("props", "k long").getField("k").alias("k"),
    )
    return (
        parsed.groupBy("event_type")
        .agg(
            F.count("k").alias("n_with_k"),
            F.sum("k").alias("k_total"),
            F.min("k").alias("k_min"),
            F.max("k").alias("k_max"),
        )
        .orderBy("event_type")
    )


QUERIES["events_json_props"] = events_json_props
ORACLES["events_json_props"] = """
    WITH p AS (SELECT event_type,
                      CAST(json_extract(props, '$.k') AS BIGINT) AS k
               FROM events)
    SELECT event_type,
           COUNT(k) AS n_with_k,
           CAST(SUM(k) AS BIGINT) AS k_total,
           MIN(k) AS k_min,
           MAX(k) AS k_max
    FROM p GROUP BY event_type ORDER BY event_type
"""


# --- grouped exact quantiles ------------------------------------------------


def events_value_quantiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-group exact quantiles (p25/p50/p75/p90 of value per
    event_type) — the grouped holistic aggregate. Exact percentile is
    the oracle-checked form; the 100 TB config swaps in
    approx_percentile (t-digest) per the stats_approx_sketches twin.
    Same interpolation (linear) and rounding convention as the group
    medians in the cleaning layer."""
    ev = _events(spark, sf_dir)
    qs = {"p25": 0.25, "p50": 0.5, "p75": 0.75, "p90": 0.9}
    return (
        ev.groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            # floor(x·100+0.5)/100, NOT round(): Spark round() and
            # DuckDB ROUND() disagree when the interpolated quantile
            # lands a hair under an .xx5 boundary (found by fuzz seed
            # 717: identical raw doubles 392.28499999999997 rounded to
            # 392.28 vs 392.29) — the IEEE composite is bit-identical
            *[
                (
                    F.floor(F.expr(f"percentile(value, {q})") * 100 + F.lit(0.5))
                    / 100
                ).alias(name)
                for name, q in qs.items()
            ],
        )
        .orderBy("event_type")
    )


QUERIES["events_value_quantiles"] = events_value_quantiles
ORACLES["events_value_quantiles"] = """
    SELECT event_type,
           COUNT(*) AS n_events,
           floor(quantile_cont(value, 0.25) * 100 + 0.5) / 100 AS p25,
           floor(quantile_cont(value, 0.5) * 100 + 0.5) / 100 AS p50,
           floor(quantile_cont(value, 0.75) * 100 + 0.5) / 100 AS p75,
           floor(quantile_cont(value, 0.9) * 100 + 0.5) / 100 AS p90
    FROM events GROUP BY event_type ORDER BY event_type
"""


def events_value_quantiles_grouped(
    spark: SparkSession, sf_dir: str, accuracy: int = 100_000
) -> DataFrame:
    """Per-group APPROXIMATE quantiles (p25/p50/p75/p90 of value per
    event_type) via ``percentile_approx`` — the 100 TB config twin of
    :func:`events_value_quantiles`. Exact grouped percentiles buffer
    every group value (per-group memory is O(group size) — fine until
    group cardinality × group size explodes); the Greenwald–Khanna
    sketch behind ``percentile_approx`` bounds per-group state at
    O(accuracy) with rank error ≤ group_size/accuracy, which is the
    right trade when a hot event_type holds billions of rows.

    Oracle note (why this gate can still hash-match DuckDB's
    ``quantile_disc``): GK can only discard a sample when the invariant
    gap bound 2·N/accuracy admits it, so for N < accuracy/2 the sketch
    provably retains EVERY value and the query is exact — and Spark's
    exact-regime rank convention matches ``quantile_disc`` (verified
    empirically on odd/even/tied/singleton sets). Gate-scale groups are
    ~2,000 rows at sf0.01 (50× margin) and the fuzz generators cap at
    600 events, so the driver's value-hash compare is deterministic.
    The compressed regime (group size > accuracy) is pinned separately
    by ``tests/test_quantiles_approx.py``: |rank(approx) − target rank|
    ≤ ε·N against the exact twin, the error contract a 100 TB
    deployment actually relies on. Both quantile styles return actual
    column elements (no interpolation), so no rounding composite is
    needed — unlike the exact twin's quantile_cont path.
    """
    ev = _events(spark, sf_dir)
    qs = {"p25": 0.25, "p50": 0.5, "p75": 0.75, "p90": 0.9}
    return (
        ev.groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            *[
                F.expr(
                    f"percentile_approx(value, {q}, {accuracy})"
                ).alias(name)
                for name, q in qs.items()
            ],
        )
        .orderBy("event_type")
    )


QUERIES["events_value_quantiles_grouped"] = events_value_quantiles_grouped
ORACLES["events_value_quantiles_grouped"] = """
    SELECT event_type,
           COUNT(*) AS n_events,
           quantile_disc(value, 0.25) AS p25,
           quantile_disc(value, 0.5) AS p50,
           quantile_disc(value, 0.75) AS p75,
           quantile_disc(value, 0.9) AS p90
    FROM events GROUP BY event_type ORDER BY event_type
"""

# exact rational forms of the quantile fractions, so the target rank
# ceil(q*N) is computed in INTEGER arithmetic (float q*N rounds the
# wrong way when q*N is a near-integer — e.g. 0.9*10 = 9.000000000000002
# would ceil to 10 and mis-flag a tiny exact-regime group)
_GK_QS = {"p25": (1, 4), "p50": (1, 2), "p75": (3, 4), "p90": (9, 10)}


def events_value_quantiles_grouped_compressed(
    spark: SparkSession, sf_dir: str, accuracy: int = 100
) -> DataFrame:
    """Driver-checked error contract of the COMPRESSED GK regime — the
    companion gate :func:`events_value_quantiles_grouped` cannot reach:
    at the gate's accuracy=100,000 every sf0.01 group (~2,000 rows)
    stays in the provably-exact regime, so the sketch's actual
    approximation path ships driver-unverified. Here accuracy=100
    forces compression (N ≈ 2,000 ≫ accuracy/2 = 50) and the query
    emits, per event_type and quantile, whether ``percentile_approx``'s
    result honors the documented Greenwald–Khanna contract: the
    returned value is an actual column element whose 1-based rank
    interval [count(<v)+1, count(<=v)] intersects
    [⌊(q−ε)·N⌋, ⌈(q+ε)·N⌉], ε = 1/accuracy (the floor/ceil form is the
    contract as stated by the SQL function docs; the tighter ε·N-from-
    ⌈q·N⌉ reading is violated by real small compressed groups — a
    188-row group at sf0.001 returns p90 three ranks out).

    **Metamorphic oracle** (sanctioned r14-verdict #5 route): DuckDB
    cannot reproduce GK's compressed-regime choices, so the oracle pins
    the INVARIANT, not the values — it emits the same (event_type,
    n_events) rows with every ``*_ok`` column literally TRUE. The
    driver's value-hash therefore matches iff every group/quantile
    satisfies the rank bound on real data; a sketch regression flips a
    boolean and the gate goes red. The raw-value agreement of the
    sibling gate plus this bound check together cover both regimes.
    ``tests/test_quantiles_approx.py`` pins the same bound standalone
    at 30,000 rows.

    Scale shape: one partial-aggregatable groupBy builds the sketches
    (O(accuracy) state per group — the whole point at 100 TB), then the
    tiny per-group result broadcasts back onto the fact scan for a
    second partial-aggregatable pass that counts ranks. Two scans of
    events, zero wide shuffles beyond the two group-bys; this is the
    validation harness for the production operator above, run at
    deployment time on a sample, not per-query.
    """
    ev = (
        _events(spark, sf_dir)
        .select("event_type", "value")
        .where(F.col("value").isNotNull())
    )
    approx = ev.groupBy("event_type").agg(
        *[
            F.expr(f"percentile_approx(value, {n}/{d}, {accuracy})").alias(
                f"_{name}"
            )
            for name, (n, d) in _GK_QS.items()
        ],
    )
    # NULL event_type is a GROUP under plain GROUP BY semantics; a
    # bare equi-join back onto the fact would silently drop it (the
    # same class as the salted-agg rewrite pinned by
    # test_events_family_parity_on_null_fields) — join null-safe. The
    # sketch side's key is RENAMED first: approx derives from ev, so a
    # two-sided column reference is self-join-ambiguous (Spark resolves
    # it but warns "trivially true equals predicate" per construction).
    joined = ev.join(
        F.broadcast(approx.withColumnRenamed("event_type", "_et")),
        F.col("event_type").eqNullSafe(F.col("_et")),
    ).drop("_et")
    counted = joined.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n_events"),
        *[
            agg
            for name in _GK_QS
            for agg in (
                F.sum(
                    (F.col("value") < F.col(f"_{name}")).cast("long")
                ).alias(f"_{name}_lt"),
                F.sum(
                    (F.col("value") <= F.col(f"_{name}")).cast("long")
                ).alias(f"_{name}_le"),
            )
        ],
    )

    return (
        counted.select(
            "event_type",
            "n_events",
            *[
                _gk_bound_ok(name, n, d, accuracy)
                for name, (n, d) in _GK_QS.items()
            ],
        )
        .orderBy("event_type")
    )


def _gk_bound_ok(name: str, num: int, den: int, accuracy: int):
    """Boolean column pinning ``percentile_approx``'s DOCUMENTED
    contract (SQL fn docs / ApproximatePercentile): with relative error
    ε = 1/accuracy, the returned value's 1-based rank over the group's
    ``n_events`` non-null values lies in [⌊(p−ε)·N⌋, ⌈(p+ε)·N⌉]. The
    value's rank INTERVAL under ties is [_{name}_lt + 1, _{name}_le];
    the check is that this interval is non-empty (an empty interval
    means the value is not a column element, which GK forbids) and
    intersects the contract window. All arithmetic is integer — p−ε =
    (num·accuracy − den)/(den·accuracy) — because float p·N rounds the
    wrong way on near-integer products (0.9·10 = 9.000000000000002) and
    a ±1-rank error exceeds ε·N on small groups. Module level so
    ``tests/test_quantiles_approx.py`` can prove the gate has teeth on
    fabricated out-of-bound intervals."""
    lo = F.col(f"_{name}_lt") + F.lit(1)
    hi = F.col(f"_{name}_le")  # hi < lo iff v is not a column element
    big_den = den * accuracy
    lo_num = num * accuracy - den  # (p - eps) * big_den
    hi_num = num * accuracy + den  # (p + eps) * big_den
    lo_bound = F.expr(f"(n_events * {lo_num}) div {big_den}")
    hi_bound = F.expr(
        f"(n_events * {hi_num} + {big_den} - 1) div {big_den}"
    )
    return (
        (hi >= lo) & (hi >= lo_bound) & (lo <= hi_bound)
    ).alias(f"{name}_ok")


QUERIES["events_value_quantiles_grouped_compressed"] = (
    events_value_quantiles_grouped_compressed
)
ORACLES["events_value_quantiles_grouped_compressed"] = """
    SELECT event_type,
           COUNT(value) AS n_events,
           true AS p25_ok, true AS p50_ok, true AS p75_ok, true AS p90_ok
    FROM events WHERE value IS NOT NULL
    GROUP BY event_type ORDER BY event_type
"""


# --- data-quality expectations (operators/quality.py) -----------------------

_DQ_PREDICATES = {
    "discount_range": "l_discount BETWEEN 0 AND 0.1",
    "positive_price": "l_extendedprice > 0",
    "quantity_range": "l_quantity BETWEEN 1 AND 50",
    "shipdate_not_null": "l_shipdate IS NOT NULL",
}
_DQ_UNIQUE = {"pk_unique": ["l_orderkey", "l_linenumber"]}


def quality_checks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Declarative expectation checks over lineitem — all predicate
    rules fuse into one scan; uniqueness pays one groupBy."""
    from sales_data_etl_pipeline_spark.operators import quality

    t = load_testdata(spark, sf_dir, ("lineitem",))["lineitem"]
    return quality.check(t, _DQ_PREDICATES, _DQ_UNIQUE)


QUERIES["quality_checks"] = quality_checks

from sales_data_etl_pipeline_spark.operators.quality import check_sql as _dq_sql

ORACLES["quality_checks"] = _dq_sql("lineitem", _DQ_PREDICATES, _DQ_UNIQUE)


# --- sliding-window aggregation ---------------------------------------------


def events_sliding_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sliding 1-hour window, 30-minute slide, per event_type — each
    event lands in exactly 2 windows. Oracle: explode each event into
    its two covering window starts. Completes the window-family
    coverage (tumbling: events_windowed_agg, session:
    events_sessionization, sliding: here)."""
    ev = _events(spark, sf_dir)
    return (
        ev.groupBy(
            F.window("ts", "1 hour", "30 minutes")
            .getField("start")
            .alias("window_start"),
            "event_type",
        )
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.round(F.sum("value"), 2).alias("total_value"),
        )
        .orderBy("window_start", "event_type")
    )


QUERIES["events_sliding_agg"] = events_sliding_agg
ORACLES["events_sliding_agg"] = """
    WITH w AS (
        SELECT UNNEST([time_bucket(INTERVAL '30 minutes', ts),
                       time_bucket(INTERVAL '30 minutes', ts)
                           - INTERVAL '30 minutes']) AS window_start,
               event_type, value
        FROM events)
    SELECT window_start, event_type,
           COUNT(*) AS n_events,
           ROUND(SUM(value), 2) AS total_value
    FROM w GROUP BY 1, 2 ORDER BY 1, 2
"""


# --- forward as-of join -----------------------------------------------------


def events_asof_join_forward(spark: SparkSession, sf_dir: str) -> DataFrame:
    """For every view event: the user's NEXT at-or-after 'purchase'
    (forward as-of) — the time-to-conversion primitive. Oracle: DuckDB
    native ASOF with the inequality reversed."""
    from sales_data_etl_pipeline_spark.operators.temporal import asof_join

    ev = _events(spark, sf_dir)
    views = ev.filter(F.col("event_type") == "view").select(
        "event_id", "user_id", "ts"
    )
    purchases = ev.filter(F.col("event_type") == "purchase").select(
        F.col("event_id").alias("purchase_event_id"), "user_id", "ts"
    )
    out = asof_join(
        views,
        purchases,
        on="user_id",
        right_cols=["purchase_event_id"],
        direction="forward",
    )
    return out.select(
        "event_id",
        "user_id",
        epoch_millis("ts").alias("ts_ms"),
        F.col("purchase_event_id_matched").alias("purchase_event_id"),
    ).orderBy("event_id")


QUERIES["events_asof_join_forward"] = events_asof_join_forward
ORACLES["events_asof_join_forward"] = """
    WITH v AS (SELECT event_id, user_id, ts FROM events
               WHERE event_type = 'view'),
         p AS (SELECT event_id AS purchase_event_id, user_id, ts FROM events
               WHERE event_type = 'purchase')
    SELECT v.event_id, v.user_id, epoch_ms(v.ts) AS ts_ms, p.purchase_event_id
    FROM v ASOF LEFT JOIN p
      ON v.user_id = p.user_id AND v.ts <= p.ts
    ORDER BY v.event_id
"""


# --- global value deciles (distributed rank — no single-partition window) ----


def events_user_value_deciles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user spend deciles: totals (one shuffle on user_id) → global
    decile bucket via the distributed range-partition rank
    (``operators/rank.py`` — NTILE's scale-safe form; a bare
    ``ntile() OVER (ORDER BY …)`` would collapse onto one reducer).
    The ordering key is the 2-dp IEEE rounding composite with a user_id
    tiebreak so both engines rank identically."""
    from sales_data_etl_pipeline_spark.operators import rank as rank_ops

    ev = _events(spark, sf_dir)
    totals = ev.groupBy("user_id").agg(
        (F.floor(F.sum("value") * 100 + F.lit(0.5)) / 100).alias("total_value")
    )
    out = rank_ops.quantile_bucket(
        totals,
        [F.col("total_value").desc(), F.col("user_id").asc()],
        n_buckets=10,
        bucket_col="decile",
    )
    return out.select("user_id", "total_value", "decile").orderBy("user_id")


QUERIES["events_user_value_deciles"] = events_user_value_deciles
ORACLES["events_user_value_deciles"] = """
    WITH t AS (
        SELECT user_id,
               floor(SUM(value) * 100 + 0.5) / 100 AS total_value
        FROM events GROUP BY user_id
    ), r AS (
        SELECT user_id, total_value,
               ROW_NUMBER() OVER (ORDER BY total_value DESC, user_id) AS rk,
               COUNT(*) OVER () AS n
        FROM t
    )
    SELECT user_id, total_value,
           CAST((rk - 1) * 10 // n + 1 AS BIGINT) AS decile
    FROM r ORDER BY user_id
"""


# --- benchmark decontamination (n-gram-overlap test-set-leak check) ----------


def corpus_decontaminate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Decontamination gate: every 31st doc plays the benchmark; the
    training corpus contains those docs verbatim (the classic leak)
    plus 200-char truncations of them (near-verbatim leak, id+50000).
    Output: contaminated doc_ids with their 8-gram overlap counts —
    the eval n-gram set broadcasts, the corpus side never shuffles on
    the n-gram (see ``corpus.decontaminate``)."""
    base = _docs(spark, sf_dir).select("doc_id", "text")
    leaked = base.filter(F.col("doc_id") % 31 == 0).select(
        (F.col("doc_id") + 50000).alias("doc_id"),
        F.substring("text", 1, 200).alias("text"),
    )
    corpus_df = base.unionByName(leaked)
    evalset = base.filter(F.col("doc_id") % 31 == 0)
    return corpus.decontaminate(corpus_df, evalset, n=8).orderBy("doc_id")


QUERIES["corpus_decontaminate"] = corpus_decontaminate

_SHINGLE8 = (
    "list_distinct(list_transform(generate_series(1, greatest(len({t}) - 7, 0)),"
    " i -> array_to_string(list_slice({t}, i, i + 7), ' ')))"
).format(t=_TOKS.format(col="text"))

ORACLES["corpus_decontaminate"] = f"""
    WITH corpus AS (
        SELECT doc_id, text FROM documents
        UNION ALL
        SELECT doc_id + 50000 AS doc_id, substring(text, 1, 200) AS text
        FROM documents WHERE doc_id % 31 = 0
    ),
    ev AS (
        SELECT DISTINCT unnest({_SHINGLE8}) AS _ng
        FROM documents WHERE doc_id % 31 = 0
    ),
    dng AS (
        SELECT doc_id, unnest({_SHINGLE8}) AS _ng FROM corpus
    )
    SELECT d.doc_id, COUNT(*) AS n_hits
    FROM dng d JOIN ev ON d._ng = ev._ng
    GROUP BY d.doc_id ORDER BY d.doc_id
"""


# --- CDC changelog apply (operators/merge.py::cdc_apply) --------------------


def _order_changelog(spark, sf_dir) -> DataFrame:
    """Deterministic I/U/D changelog over orders: every 5th key gets a
    price update (seq k·10+1); every 10th additionally a later delete
    (seq k·10+2) — last-wins must remove it; every 25th key also spawns
    an insert under a fresh key (k+9000000)."""
    orders = load_testdata(spark, sf_dir, ("orders",))["orders"].select(
        "o_orderkey", "o_custkey", "o_totalprice"
    )
    upd = orders.filter(F.col("o_orderkey") % 5 == 0).select(
        "o_orderkey",
        "o_custkey",
        (F.floor(F.col("o_totalprice") * 110 + F.lit(0.5)) / 100).alias(
            "o_totalprice"
        ),
        F.lit("U").alias("op"),
        (F.col("o_orderkey") * 10 + 1).alias("seq"),
    )
    dels = orders.filter(F.col("o_orderkey") % 10 == 0).select(
        "o_orderkey",
        "o_custkey",
        "o_totalprice",
        F.lit("D").alias("op"),
        (F.col("o_orderkey") * 10 + 2).alias("seq"),
    )
    ins = orders.filter(F.col("o_orderkey") % 25 == 0).select(
        (F.col("o_orderkey") + 9000000).alias("o_orderkey"),
        "o_custkey",
        "o_totalprice",
        F.lit("I").alias("op"),
        (F.col("o_orderkey") * 10 + 1).alias("seq"),
    )
    return upd.unionByName(dels).unionByName(ins)


def table_cdc_apply(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ordered changelog replay without replaying: max-struct winner per
    key + anti join (see ``merge.cdc_apply``). Keys with U-then-D must
    vanish; U-only keys carry the updated price; I rows appear."""
    orders = load_testdata(spark, sf_dir, ("orders",))["orders"].select(
        "o_orderkey", "o_custkey", "o_totalprice"
    )
    out = merge_ops.cdc_apply(
        orders, _order_changelog(spark, sf_dir), "o_orderkey"
    )
    return out.orderBy("o_orderkey")


QUERIES["table_cdc_apply"] = table_cdc_apply

_CDC_SQL = """
    SELECT o_orderkey, o_custkey,
           floor(o_totalprice * 110 + 0.5) / 100 AS o_totalprice,
           'U' AS op, o_orderkey * 10 + 1 AS seq
    FROM orders WHERE o_orderkey % 5 = 0
    UNION ALL
    SELECT o_orderkey, o_custkey, o_totalprice,
           'D' AS op, o_orderkey * 10 + 2 AS seq
    FROM orders WHERE o_orderkey % 10 = 0
    UNION ALL
    SELECT o_orderkey + 9000000 AS o_orderkey, o_custkey, o_totalprice,
           'I' AS op, o_orderkey * 10 + 1 AS seq
    FROM orders WHERE o_orderkey % 25 = 0
"""

ORACLES["table_cdc_apply"] = (
    f"WITH c AS ({_CDC_SQL}), base AS ("
    + merge_ops.cdc_apply_sql(
        "(SELECT o_orderkey, o_custkey, o_totalprice FROM orders)",
        "c",
        "o_orderkey",
        ["o_orderkey", "o_custkey", "o_totalprice"],
    )
    + ") SELECT * FROM base ORDER BY o_orderkey"
)


# --- BPE-ish token counting (pre-tokenizer budget estimator) ----------------


def text_bpe_token_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Regex pre-tokenizer token counts per doc (``text.bpe_token_stats``)."""
    return text.bpe_token_stats(_docs(spark, sf_dir)).orderBy("doc_id")


QUERIES["text_bpe_token_count"] = text_bpe_token_count
ORACLES["text_bpe_token_count"] = (
    text.bpe_token_stats_sql("documents") + " ORDER BY doc_id"
)


# --- stream-stream interval join (attribution) ------------------------------


def streaming_stream_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Runs the real stream-stream interval join (purchases × same-user
    views in the prior hour) to completion through a memory sink; the
    oracle is the identical batch join."""
    from sales_data_etl_pipeline_spark.streaming import events as streaming

    joined = streaming.purchases_with_recent_views(spark, sf_dir)
    return streaming.run_stream_to_memory(
        joined, "q_stream_join", output_mode="append"
    )


QUERIES["streaming_stream_join"] = streaming_stream_join
ORACLES["streaming_stream_join"] = """
    SELECT p.event_id AS purchase_event_id,
           p.user_id,
           v.event_id AS view_event_id
    FROM events p JOIN events v
      ON p.user_id = v.user_id
     AND p.event_type = 'purchase' AND v.event_type = 'view'
     AND v.ts >= p.ts - INTERVAL 60 MINUTE AND v.ts <= p.ts
"""


# --- LSH-bucketed ANN (third strategy beside brute force and IVF) -----------


def similarity_topk_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Approximate top-k via random-hyperplane band buckets + exact
    re-rank (``similarity.cosine_topk_lsh``); same queries as the brute
    force gate, so recall is directly comparable."""
    emb = _emb(spark, sf_dir)
    queries = emb.filter(F.col("vec_id") < 10)
    return similarity.cosine_topk_lsh(
        emb, queries, k=5, planes=32, bands=8, dim=64
    ).orderBy("query_id", "rank")


QUERIES["similarity_topk_lsh"] = similarity_topk_lsh


def _ann_lsh_oracle(planes: int = 32, bands: int = 8, dim: int = 64, k: int = 5) -> str:
    """DuckDB twin of ``similarity.cosine_topk_lsh`` — same hyperplanes,
    fold + 6dp-round sign convention, banding, and re-rank order."""
    R = similarity.hyperplane_signs(planes, dim)
    rows = planes // bands

    def bit(b: int) -> str:
        proj = " + ".join(
            f"CAST(embedding[{i + 1}] AS DOUBLE) * {R[b][i]:.1f}"
            for i in range(dim)
        )
        return f"CASE WHEN round({proj}, 6) >= 0 THEN '1' ELSE '0' END"

    band_selects = " UNION ALL ".join(
        f"SELECT vec_id, {b} AS band, "
        + " || ".join(bit(b * rows + r) for r in range(rows))
        + " AS sig FROM embeddings"
        for b in range(bands)
    )
    cos = (
        f"ROUND({_DOT.format(a='c.embedding', b='q.embedding')}"
        f" / ({_NORM.format(v='c.embedding')}"
        f" * {_NORM.format(v='q.embedding')}), 6)"
    )
    # the Spark plan (similarity.cosine_topk_lsh) drops zero-norm
    # vectors from BOTH sides before banding (cosine undefined); the
    # twin must apply the identical predicate so the two stay
    # bit-equivalent by construction, not by dataset luck — a zero-norm
    # embedding would otherwise give the oracle all-'1' signatures and
    # inf/NaN cosines the plan excludes.
    live = f"{_LIVE.format(v='embedding')}"
    return f"""
        WITH e AS (SELECT * FROM embeddings WHERE {live}),
        bs AS ({band_selects.replace('FROM embeddings', 'FROM e')}),
        qs AS (SELECT * FROM bs WHERE vec_id < 10),
        cand AS (
            SELECT DISTINCT q.vec_id AS query_id, c.vec_id AS neighbor_id
            FROM bs c JOIN qs q
              ON c.band = q.band AND c.sig = q.sig AND c.vec_id <> q.vec_id),
        scored AS (
            SELECT cand.query_id, cand.neighbor_id, {cos} AS cosine
            FROM cand
            JOIN embeddings c ON cand.neighbor_id = c.vec_id
            JOIN embeddings q ON cand.query_id = q.vec_id),
        ranked AS (
            SELECT *, row_number() OVER (
                PARTITION BY query_id ORDER BY cosine DESC, neighbor_id) AS rank
            FROM scored)
        SELECT query_id, neighbor_id, cosine, rank FROM ranked
        WHERE rank <= {k} ORDER BY query_id, rank
    """


ORACLES["similarity_topk_lsh"] = _ann_lsh_oracle()


def similarity_range_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-corpus cosine range join (``similarity.cosine_range_join``)
    — link every even-id vector ("corpus A") to its cosine≥0.8 matches
    in corpus B (the odd-id vectors plus perturbed copies of every 50th
    even vector, id+10000 — the planted cross-corpus near-matches).
    Entity resolution over fuzzy keys: banded hyperplane candidates on
    a (band, sig) equi-join — both sides scale, no corpus×corpus."""
    emb = _emb(spark, sf_dir).select("vec_id", "embedding")
    left = emb.filter(F.col("vec_id") % 2 == 0)
    right = emb.filter(F.col("vec_id") % 2 == 1).unionByName(
        emb.filter(F.col("vec_id") % 50 == 0).select(
            (F.col("vec_id") + 10000).alias("vec_id"),
            F.expr(
                "concat(array(cast(element_at(embedding, 1) + 0.05 as float)),"
                " slice(embedding, 2, 63))"
            ).alias("embedding"),
        )
    )
    return similarity.cosine_range_join(
        left, right, threshold=0.8
    ).orderBy("left_id", "right_id")


QUERIES["similarity_range_join"] = similarity_range_join


def _hyperplane_band_selects_sql(R, rows: int, bands: int, dim: int):
    """Shared DuckDB twin of ``similarity._band_signatures``: returns a
    ``band_selects(src, idc)`` builder emitting one UNION ALL branch
    per band whose sig is the concatenated 6dp-rounded projection-sign
    bits — byte-identical to the Spark kernel's convention."""

    def bit(b: int) -> str:
        proj = " + ".join(
            f"CAST(embedding[{i + 1}] AS DOUBLE) * {R[b][i]:.1f}"
            for i in range(dim)
        )
        return f"CASE WHEN round({proj}, 6) >= 0 THEN '1' ELSE '0' END"

    def band_selects(src: str, idc: str) -> str:
        return " UNION ALL ".join(
            f"SELECT {idc}, {b} AS band, "
            + " || ".join(bit(b * rows + r) for r in range(rows))
            + f" AS sig FROM {src}"
            for b in range(bands)
        )

    return band_selects


def _range_join_oracle(
    planes: int = 32,
    bands: int = 4,
    dim: int = 64,
    threshold: float = 0.8,
    extra_plant: bool = False,
) -> str:
    """DuckDB twin of the gated ``similarity.cosine_range_join`` — same
    md5 hyperplanes, fold + 6dp-round sign convention, banding, and
    exact-cosine verify, over the same left/right corpus split.
    ``extra_plant`` adds a SECOND perturbed copy of every 50th even
    vector (+20000, dim-2 bumped) so the top-k gate exercises
    rank ≥ 2 per left."""
    R = similarity.hyperplane_signs(planes, dim)
    rows = planes // bands
    band_selects = _hyperplane_band_selects_sql(R, rows, bands, dim)

    cos = (
        f"ROUND({_DOT.format(a='el.embedding', b='er.embedding')}"
        f" / ({_NORM.format(v='el.embedding')}"
        f" * {_NORM.format(v='er.embedding')}), 6)"
    )
    plant2 = (
        """
            UNION ALL
            SELECT vec_id + 20000 AS right_id,
                   list_concat(embedding[1:1],
                       list_prepend(CAST(embedding[2] + 0.05 AS FLOAT),
                                    embedding[3:64])) AS embedding
            FROM embeddings WHERE vec_id % 50 = 0"""
        if extra_plant
        else ""
    )
    return f"""
        WITH lft AS (
            SELECT vec_id AS left_id, embedding FROM embeddings
            WHERE vec_id % 2 = 0 AND {_LIVE.format(v='embedding')}),
        rgt0 AS (
            SELECT vec_id AS right_id, embedding FROM embeddings
            WHERE vec_id % 2 = 1
            UNION ALL
            SELECT vec_id + 10000 AS right_id,
                   list_prepend(CAST(embedding[1] + 0.05 AS FLOAT),
                                embedding[2:64]) AS embedding
            FROM embeddings WHERE vec_id % 50 = 0{plant2}),
        rgt AS (SELECT * FROM rgt0 WHERE {_LIVE.format(v='embedding')}),
        lbs AS ({band_selects('lft', 'left_id')}),
        rbs AS ({band_selects('rgt', 'right_id')}),
        cand AS (
            SELECT DISTINCT l.left_id, r.right_id
            FROM lbs l JOIN rbs r ON l.band = r.band AND l.sig = r.sig)
        SELECT c.left_id, c.right_id, {cos} AS cosine
        FROM cand c
        JOIN lft el ON el.left_id = c.left_id
        JOIN rgt er ON er.right_id = c.right_id
        WHERE {cos} >= {threshold}
        ORDER BY c.left_id, c.right_id
    """


ORACLES["similarity_range_join"] = _range_join_oracle()


# --- sub-document (paragraph-level) exact dedup -----------------------------


def text_paragraph_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C4-style sub-document dedup over the corpus with injected exact
    copies (every 20th doc duplicated at id+10000): duplicated docs must
    keep 0 paragraphs, originals keep all of theirs."""
    return text.paragraph_dedup_stats(
        _docs_with_exact_dups(spark, sf_dir)
    ).orderBy("doc_id")


QUERIES["text_paragraph_dedup"] = text_paragraph_dedup

_PARA_TOKS = _TOKS.format(col="text")
ORACLES["text_paragraph_dedup"] = f"""
    WITH corpus AS ({_EXACT_DUP_DOCS}),
    d AS (SELECT doc_id, {_PARA_TOKS} AS toks FROM corpus),
    paras AS (
        SELECT doc_id, i AS idx,
               array_to_string(list_slice(toks, (i - 1) * 20 + 1,
                                          (i - 1) * 20 + 20), ' ') AS para
        FROM d, unnest(generate_series(1, (len(toks) + 19) // 20)) AS g(i)
    ),
    hashed AS (SELECT doc_id, idx, md5(para) AS h FROM paras),
    keep AS (
        SELECT doc_id, idx FROM (
            SELECT *, ROW_NUMBER() OVER (PARTITION BY h
                          ORDER BY doc_id, idx) AS rn
            FROM hashed
        ) WHERE rn = 1
    ),
    kept AS (
        SELECT h.doc_id, COUNT(*) AS n_kept
        FROM hashed h JOIN keep k ON h.doc_id = k.doc_id AND h.idx = k.idx
        GROUP BY h.doc_id
    ),
    totals AS (
        SELECT doc_id, COUNT(*) AS n_paragraphs FROM hashed GROUP BY doc_id
    )
    SELECT t.doc_id, t.n_paragraphs, COALESCE(k.n_kept, 0) AS n_kept
    FROM totals t LEFT JOIN kept k ON t.doc_id = k.doc_id
    ORDER BY t.doc_id
"""


# --- Tukey-fence outlier counts per event type ------------------------------


def events_anomaly_iqr(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-type outlier accounting with Tukey fences: value outside
    [p25 - 1.5·IQR, p75 + 1.5·IQR]. Exact percentiles are order
    statistics — deterministic regardless of aggregation order, so the
    fences (and therefore the flags) are engine-portable, unlike
    mean/stddev z-scores whose float sums are partial-agg-order
    dependent. One shuffle for the quantiles, fences broadcast back."""
    ev = _events(spark, sf_dir).select("event_type", "value")
    fences = ev.groupBy("event_type").agg(
        F.expr("percentile(value, 0.25D)").alias("_p25"),
        F.expr("percentile(value, 0.75D)").alias("_p75"),
    )
    flagged = ev.join(F.broadcast(fences), "event_type").withColumn(
        "_out",
        (
            (F.col("value") < F.col("_p25") - 1.5 * (F.col("_p75") - F.col("_p25")))
            | (F.col("value") > F.col("_p75") + 1.5 * (F.col("_p75") - F.col("_p25")))
        ).cast("long"),
    )
    return (
        flagged.groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum("_out").alias("n_outliers"),
        )
        .orderBy("event_type")
    )


QUERIES["events_anomaly_iqr"] = events_anomaly_iqr
ORACLES["events_anomaly_iqr"] = """
    WITH f AS (
        SELECT event_type,
               quantile_cont(value, 0.25) AS p25,
               quantile_cont(value, 0.75) AS p75
        FROM events GROUP BY event_type
    )
    SELECT e.event_type,
           COUNT(*) AS n_events,
           CAST(SUM(CASE WHEN e.value < f.p25 - 1.5 * (f.p75 - f.p25)
                      OR e.value > f.p75 + 1.5 * (f.p75 - f.p25)
                    THEN 1 ELSE 0 END) AS BIGINT) AS n_outliers
    FROM events e JOIN f USING (event_type)
    GROUP BY e.event_type ORDER BY e.event_type
"""


# --- fuzzy entity resolution (blocked Levenshtein) --------------------------


def clean_fuzzy_supplier_match(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Supplier names with deterministic typos (last char dropped, and a
    doubled last char) resolved back to the canonical supplier table via
    blocked Levenshtein matching (``cleaning.fuzzy_match``)."""
    from sales_data_etl_pipeline_spark.operators import cleaning

    supp = load_testdata(spark, sf_dir, ("supplier",))["supplier"].select(
        "s_suppkey", "s_name"
    )
    dirty = supp.select(
        F.expr("substring(s_name, 1, length(s_name) - 1)").alias("s_name")
    ).unionByName(
        supp.select(
            F.expr("s_name || substring(s_name, length(s_name), 1)").alias(
                "s_name"
            )
        )
    )
    out = cleaning.fuzzy_match(
        dirty, supp, name_col="s_name", key_col="s_suppkey", max_dist=2
    )
    return out.orderBy("dirty_name", "s_suppkey")


QUERIES["clean_fuzzy_supplier_match"] = clean_fuzzy_supplier_match
ORACLES["clean_fuzzy_supplier_match"] = """
    WITH dirty AS (
        SELECT DISTINCT substring(s_name, 1, length(s_name) - 1) AS dn
        FROM supplier
        UNION
        SELECT DISTINCT s_name || substring(s_name, length(s_name), 1) AS dn
        FROM supplier
    ),
    scored AS (
        SELECT d.dn, c.s_suppkey, c.s_name AS cname,
               levenshtein(d.dn, c.s_name) AS dist
        FROM dirty d JOIN supplier c
          ON substring(d.dn, 1, 3) = substring(c.s_name, 1, 3)
        WHERE levenshtein(d.dn, c.s_name) <= 2
    ),
    ranked AS (
        SELECT *, ROW_NUMBER() OVER (PARTITION BY dn
                      ORDER BY dist, s_suppkey, cname) AS rn
        FROM scored
    )
    SELECT dn AS dirty_name, s_suppkey, cname AS matched_name, dist AS distance
    FROM ranked WHERE rn = 1 ORDER BY dirty_name, s_suppkey
"""


# --- custom Python data source (pyspark.sql.datasource) ---------------------


def source_synthetic_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Reads 2000 rows from the registered custom Python data source
    (``sources/pysource.py``) — proves an arbitrary Python-defined
    source feeds the same plans and value-hash gate as a parquet scan.
    The md5-derived columns are reproduced by a DuckDB generate_series
    oracle."""
    from sales_data_etl_pipeline_spark.sources.pysource import (
        SyntheticEventsDataSource,
    )

    spark.dataSource.register(SyntheticEventsDataSource)
    return (
        spark.read.format("synthetic_events")
        .option("rows", "2000")
        .option("partitions", "8")
        .load()
        .orderBy("event_id")
    )


QUERIES["source_synthetic_events"] = source_synthetic_events
ORACLES["source_synthetic_events"] = """
    SELECT i AS event_id,
           (CAST('0x' || substr(md5(CAST(i AS VARCHAR)), 1, 15) AS BIGINT)
                % 100) AS user_id,
           (['view', 'click', 'cart', 'purchase', 'refund'])[
               (CAST('0x' || substr(md5(CAST(i AS VARCHAR)), 1, 15) AS BIGINT)
                % 5) + 1] AS event_type,
           (CAST('0x' || substr(md5(CAST(i AS VARCHAR)), 1, 15) AS BIGINT)
                % 10000) / 100.0 AS value
    FROM generate_series(0, 1999) AS t(i)
    ORDER BY event_id
"""


# --- streaming session windows (gap-based, real stream run) -----------------


def streaming_session_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Runs the real ``session_window`` streaming aggregation (30-min
    inactivity gap per user) to completion; the oracle is the batch
    lag+cumsum sessionization in SQL — window start = first event,
    end = last event + gap, one row per session."""
    from sales_data_etl_pipeline_spark.streaming import events as streaming

    out = streaming.run_stream_to_memory(
        streaming.session_counts(streaming.stream_events(spark, sf_dir)),
        "q_stream_sessions",
        output_mode="complete",
    )
    return out.select(
        epoch_millis("session_start").alias("start_ms"),
        epoch_millis("session_end").alias("end_ms"),
        "user_id",
        "n_events",
    ).orderBy("user_id", "start_ms")


QUERIES["streaming_session_counts"] = streaming_session_counts
ORACLES["streaming_session_counts"] = """
    WITH m AS (
        SELECT user_id, ts,
               CASE WHEN LAG(ts) OVER w IS NULL
                      OR ts - LAG(ts) OVER w > INTERVAL 30 MINUTE
                    THEN 1 ELSE 0 END AS new_s
        FROM events
        WINDOW w AS (PARTITION BY user_id ORDER BY ts)
    ),
    s AS (
        SELECT user_id, ts,
               SUM(new_s) OVER (PARTITION BY user_id ORDER BY ts
                   ROWS UNBOUNDED PRECEDING) AS sid
        FROM m
    )
    SELECT epoch_ms(MIN(ts)) AS start_ms,
           epoch_ms(MAX(ts) + INTERVAL 30 MINUTE) AS end_ms,
           user_id, COUNT(*) AS n_events
    FROM s GROUP BY user_id, sid
    ORDER BY user_id, start_ms
"""


def streaming_session_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming twin of ``events_session_funnel``: the view→click→
    purchase chain scored within live 30-min ``session_window``
    sessions. The stream emits per-session step-completion times (one
    stateful operator); the step-count rollup is a batch aggregate over
    the completed sink — chained stateful aggs are illegal in
    streaming. Oracle: the SAME batch sessionized-funnel SQL as the
    batch gate."""
    from sales_data_etl_pipeline_spark.streaming import events as streaming

    out = streaming.run_stream_to_memory(
        streaming.session_funnel(
            streaming.stream_events(spark, sf_dir), _FUNNEL_STEPS
        ),
        "q_stream_session_funnel",
        output_mode="complete",
    )
    counts = out.agg(
        *[F.count(f"t{i}").alias(f"n{i}") for i in range(len(_FUNNEL_STEPS))]
    )
    stack = ", ".join(
        f"{i}, '{s}', n{i}" for i, s in enumerate(_FUNNEL_STEPS)
    )
    return counts.selectExpr(
        f"stack({len(_FUNNEL_STEPS)}, {stack}) AS (step_idx, step, n_sessions)"
    )


QUERIES["streaming_session_funnel"] = streaming_session_funnel

from sales_data_etl_pipeline_spark.operators.temporal import (  # noqa: E402
    session_funnel_counts_sql as _sess_funnel_sql_early,
)

ORACLES["streaming_session_funnel"] = _sess_funnel_sql_early(
    "events", _FUNNEL_STEPS
)


# --- sliding-window document chunking (long-doc split with overlap) ---------

_CHUNK_SEQ = 32
_CHUNK_STRIDE = 24  # 8-token overlap


def corpus_chunk_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Long-document chunking with overlap — the pre-training split for
    docs longer than the context window: chunk i covers tokens
    [i·stride, i·stride + seq). Pure per-doc JVM expressions (sequence
    + posexplode), zero shuffles; output is (doc_id, chunk_idx,
    chunk_tokens) so the hash is text-free and order-stable."""
    seq, stride = _CHUNK_SEQ, _CHUNK_STRIDE
    d = _docs(spark, sf_dir).select(
        "doc_id", F.size(text.tokens("text")).alias("_n")
    )
    chunked = d.withColumn(
        "_k",
        F.expr(f"1 + greatest(0, (_n - {seq - stride + 1}) div {stride})"),
    ).select(
        "doc_id",
        "_n",
        F.posexplode(F.expr("sequence(1, _k)")).alias("chunk_idx", "_one"),
    )
    return (
        chunked.select(
            "doc_id",
            "chunk_idx",
            F.greatest(
                F.least(F.lit(seq), F.col("_n") - F.col("chunk_idx") * stride),
                F.lit(0),
            ).alias("chunk_tokens"),
        )
        .orderBy("doc_id", "chunk_idx")
    )


QUERIES["corpus_chunk_documents"] = corpus_chunk_documents
ORACLES["corpus_chunk_documents"] = f"""
    WITH d AS (
        SELECT doc_id, len({_TOKS.format(col="text")}) AS n FROM documents
    ),
    k AS (
        SELECT doc_id, n,
               1 + greatest(0, (n - {_CHUNK_SEQ - _CHUNK_STRIDE + 1})
                   // {_CHUNK_STRIDE}) AS nk
        FROM d
    )
    SELECT doc_id, i AS chunk_idx,
           greatest(least({_CHUNK_SEQ}, n - i * {_CHUNK_STRIDE}), 0)
               AS chunk_tokens
    FROM k, unnest(generate_series(0, nk - 1)) AS g(i)
    ORDER BY doc_id, chunk_idx
"""


# --- temperature-based source mixture (policy computed in-engine) -----------


def corpus_temperature_mixture(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Temperature sampling with the mixture POLICY computed in-engine:
    per-source token counts → weight w_s = (max_tokens / tokens_s)^0.5
    (α = 0.5; the largest source stays at 1 epoch, smaller sources
    upsample toward balance), fractional epochs resolved per doc by md5
    bucket — the same deterministic convention as
    ``corpus.mixture_upsample`` but with weights DERIVED from the data
    instead of a config dict. sqrt and division are exactly-rounded
    IEEE ops, so DuckDB reproduces every weight bit-for-bit."""
    d = _docs(spark, sf_dir).select(
        "doc_id", "source", F.size(text.tokens("text")).alias("_n")
    )
    s = d.groupBy("source").agg(F.sum("_n").alias("_sn"))
    mx = s.agg(F.max("_sn").alias("_mx"))
    w = s.crossJoin(F.broadcast(mx)).select(
        "source", F.sqrt(F.col("_mx") / F.col("_sn")).alias("_wt")
    )
    c = (
        d.join(F.broadcast(w), "source")
        .withColumn(
            "_k",
            F.floor("_wt")
            + (
                corpus.hash_bucket("doc_id")
                < F.floor(
                    (F.col("_wt") - F.floor("_wt")) * corpus.HASH_BUCKETS
                    + F.lit(0.5)
                )
            ).cast("long"),
        )
    )
    return (
        c.select(
            "doc_id",
            "source",
            F.explode(F.expr("sequence(0L, _k - 1)")).alias("copy_idx"),
        )
        .orderBy("doc_id", "copy_idx")
    )


QUERIES["corpus_temperature_mixture"] = corpus_temperature_mixture
ORACLES["corpus_temperature_mixture"] = f"""
    WITH t AS (
        SELECT doc_id, source, len({_TOKS.format(col="text")}) AS n
        FROM documents
    ),
    s AS (SELECT source, SUM(n) AS sn FROM t GROUP BY source),
    m AS (SELECT MAX(sn) AS mx FROM s),
    w AS (SELECT source, sqrt(CAST(mx AS DOUBLE) / sn) AS wt FROM s, m),
    c AS (
        SELECT t.doc_id, t.source,
               CAST(floor(wt) AS BIGINT)
               + CASE WHEN {corpus.hash_bucket_sql("doc_id")}
                            < floor((wt - floor(wt)) * {corpus.HASH_BUCKETS}
                                    + 0.5)
                      THEN 1 ELSE 0 END AS k
        FROM t JOIN w ON t.source = w.source
    )
    SELECT doc_id, source, i AS copy_idx
    FROM c, unnest(generate_series(0, k - 1)) AS g(i)
    ORDER BY doc_id, copy_idx
"""


def source_synthetic_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming read of the custom Python source run to completion
    (micro-batched offsets + deterministic replay); same
    generate_series oracle as the batch form — the stream must deliver
    exactly the batch rows."""
    from sales_data_etl_pipeline_spark.sources.pysource import (
        SyntheticEventsDataSource,
    )
    from sales_data_etl_pipeline_spark.streaming import events as streaming

    spark.dataSource.register(SyntheticEventsDataSource)
    stream = (
        spark.readStream.format("synthetic_events")
        .option("rows", "2000")
        .option("batchRows", "512")
        .load()
    )
    out = streaming.run_stream_to_memory(
        stream, "q_pysource_stream", output_mode="append"
    )
    return out.orderBy("event_id")


QUERIES["source_synthetic_stream"] = source_synthetic_stream
ORACLES["source_synthetic_stream"] = ORACLES["source_synthetic_events"]


# --- windowed distinct users + revenue Pareto share -------------------------


def events_windowed_distinct_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distinct users per hourly window and event type — the
    distinct-count window every analytics surface needs. Exact
    COUNT(DISTINCT) expands to a two-phase aggregate (dedupe on
    (window, type, user), then count); at 100 TB the one-pass
    `approx_count_distinct` twin is the config switch, same plan shape
    as the sketch gate."""
    ev = _events(spark, sf_dir)
    return (
        ev.groupBy(
            F.window("ts", "1 hour").getField("start").alias("window_start"),
            "event_type",
        )
        .agg(F.countDistinct("user_id").alias("n_users"))
        .orderBy("window_start", "event_type")
    )


QUERIES["events_windowed_distinct_users"] = events_windowed_distinct_users
ORACLES["events_windowed_distinct_users"] = """
    SELECT time_bucket(INTERVAL '1 hour', ts) AS window_start,
           event_type, COUNT(DISTINCT user_id) AS n_users
    FROM events GROUP BY 1, 2 ORDER BY 1, 2
"""


def sales_pareto_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Revenue Pareto: suppliers ranked by revenue with their cumulative
    share of the total (the 80/20 report). The cumulative sum runs over
    the |suppliers|-row AGGREGATE (tiny), never the fact table, and the
    global total is a 1-row broadcast — fact shuffles once. Share in
    basis points via the IEEE floor composite so both engines hash
    identically."""
    t = load_testdata(spark, sf_dir, ("lineitem",))["lineitem"]
    per_supp = t.groupBy("l_suppkey").agg(
        (F.floor(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))) * 100 + F.lit(0.5)) / 100).alias("revenue")
    )
    total = per_supp.agg(F.sum("revenue").alias("_total"))
    from pyspark.sql import Window

    w = (
        Window.orderBy(F.desc("revenue"), F.asc("l_suppkey"))
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    return (
        per_supp.crossJoin(F.broadcast(total))
        .withColumn("_cum", F.sum("revenue").over(w))
        .select(
            "l_suppkey",
            "revenue",
            F.floor(F.col("_cum") / F.col("_total") * 10000 + F.lit(0.5)).alias(
                "cum_share_bp"
            ),
        )
        .orderBy(F.desc("revenue"), F.asc("l_suppkey"))
    )


QUERIES["sales_pareto_share"] = sales_pareto_share
ORACLES["sales_pareto_share"] = """
    WITH s AS (
        SELECT l_suppkey,
               floor(SUM(l_extendedprice * (1 - l_discount)) * 100 + 0.5)
                   / 100 AS revenue
        FROM lineitem GROUP BY l_suppkey
    ),
    t AS (SELECT SUM(revenue) AS total FROM s)
    SELECT l_suppkey, revenue,
           CAST(floor(SUM(revenue) OVER (ORDER BY revenue DESC, l_suppkey
                          ROWS UNBOUNDED PRECEDING) / t.total * 10000 + 0.5)
                AS BIGINT) AS cum_share_bp
    FROM s, t
    ORDER BY revenue DESC, l_suppkey
"""


# --- round-6 operators ------------------------------------------------------


def text_gopher_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher-style hard rule filter (word-count / mean-word-length /
    symbol-ratio / stopword rules, arXiv:2112.11446 Table A1 shape)
    over the documents table — the hard-gate counterpart of the soft
    composite in text_quality_score."""
    return text.gopher_quality(_docs(spark, sf_dir))


QUERIES["text_gopher_quality"] = text_gopher_quality
ORACLES["text_gopher_quality"] = text.gopher_quality_sql("documents")


def text_bigram_logprob(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bigram-LM surprisal per document under the corpus's own MLE
    bigram model — word-order-sensitive LM quality signal (the step
    between unigram scoring and a real perplexity model)."""
    return text.bigram_logprob(_docs(spark, sf_dir))


QUERIES["text_bigram_logprob"] = text_bigram_logprob
ORACLES["text_bigram_logprob"] = text.bigram_logprob_sql("documents")


def corpus_quality_resample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic quality-weighted importance resampling: accept doc
    iff md5-uniform(doc_id) < quality score (integer ppm vs ppm) — RNG-
    free corpus mixing, reproducible across engines and partitionings."""
    return corpus.quality_resample(_docs(spark, sf_dir))


QUERIES["corpus_quality_resample"] = corpus_quality_resample
ORACLES["corpus_quality_resample"] = f"""
    WITH q AS ({ORACLES["text_quality_score"]})
    SELECT doc_id,
           CAST(floor(quality * 1000000 + 0.5) AS BIGINT) AS quality_ppm,
           {dedup.hash_id_sql("CAST(doc_id AS VARCHAR)", 1_000_000)} AS u_ppm
    FROM q
    WHERE {dedup.hash_id_sql("CAST(doc_id AS VARCHAR)", 1_000_000)}
          < CAST(floor(quality * 1000000 + 0.5) AS BIGINT)
"""


def multimodal_resize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Real raster resize round-trip: synthesize a spec-conformant BMP
    per doc, nearest-neighbor-resize its ACTUAL pixel array to 8×8 in
    numpy, and emit dims + byte length + the resized pixel checksum.
    The oracle re-derives the checksum analytically from the generator
    fill rule and the nearest-neighbor index map — wrong strides,
    padding, or index arithmetic anywhere in the writer, parser, or
    resizer break the value hash."""
    from sales_data_etl_pipeline_spark.operators import multimodal

    docs = _docs(spark, sf_dir).select(F.col("doc_id").alias("media_id"))
    return multimodal.resize_images(
        multimodal.synthesize_bmp(docs), width=8, height=8
    ).select("media_id", "width", "height", "n_bytes", "raster_sum")


QUERIES["multimodal_resize"] = multimodal_resize
# nearest-neighbor: resized pixel x' pulls source pixel (x'*w) // 8 whose
# BGR bytes are (seed + 3*src + c) % 256 with seed = doc_id, w = 16 + id%32;
# rows of the synthetic raster are identical so the 8 rows contribute 8×.
ORACLES["multimodal_resize"] = """
    SELECT doc_id AS media_id,
           8 AS width, 8 AS height,
           CAST(54 + 24 * 8 AS BIGINT) AS n_bytes,
           CAST(8 * list_aggregate(flatten(list_transform(
                    generate_series(0, 7), x -> list_transform(
                        generate_series(0, 2), c ->
                        (doc_id + 3 * ((x * (16 + doc_id % 32)) // 8) + c)
                        % 256))), 'sum') AS BIGINT) AS raster_sum
    FROM documents
"""


def multimodal_frame_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Frame-sampling plumbing over binary payloads: chunk each
    synthesized payload into 256-byte frames, keep every 4th, emit
    (media_id, frame_idx, n_frame_bytes). One row fans out to many;
    the oracle predicts frame multiplicity and sizes from the payload
    length rule (frame CONTENT is pinned byte-for-byte in pytest —
    SQL cannot slice binaries)."""
    from sales_data_etl_pipeline_spark.operators import multimodal

    docs = _docs(spark, sf_dir).select(F.col("doc_id").alias("media_id"))
    return (
        multimodal.sample_frames(multimodal.synthesize_bmp(docs))
        .select(
            "media_id",
            "frame_idx",
            F.octet_length("frame").alias("n_frame_bytes"),
        )
        .orderBy("media_id", "frame_idx")
    )


QUERIES["multimodal_frame_sample"] = multimodal_frame_sample
# payload length = 54 + aligned_row(w) * h with w = 16 + id%32,
# h = 16 + 7id % 32; frames = every 4th 256-byte chunk of max(len//256, 1)
ORACLES["multimodal_frame_sample"] = """
    WITH d AS (
        SELECT doc_id,
               54 + (((16 + doc_id % 32) * 3 + 3) // 4) * 4
                    * (16 + (doc_id * 7) % 32) AS len
        FROM documents),
    f AS (
        SELECT doc_id, len,
               UNNEST(generate_series(0, greatest(len // 256, 1) - 1)) AS i
        FROM d)
    SELECT doc_id AS media_id,
           CAST(i AS INTEGER) AS frame_idx,
           CAST(least(256, len - i * 256) AS INTEGER) AS n_frame_bytes
    FROM f WHERE i % 4 = 0
    ORDER BY media_id, frame_idx
"""


# --- round 6: incremental dedup, kNN labeling, daily top-k ------------------

from pyspark.sql import Window as _W


def dedup_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental MinHash-LSH: match an incoming batch (truncated
    near-dup copies of every 20th doc, plus reversed-text decoys that
    must NOT match) against the existing corpus. The scale property
    under test: the candidate join is base⋈incoming only — cost per
    ingest batch is independent of corpus self-pair count."""
    docs = _docs(spark, sf_dir).select("doc_id", "text")
    incoming = (
        docs.filter(F.col("doc_id") % 20 == 0)
        .select(
            (F.col("doc_id") + 10000).alias("doc_id"),
            F.expr(
                "substring(text, 1, greatest(length(text) - 30, 1))"
            ).alias("text"),
        )
        .unionByName(
            docs.filter(F.col("doc_id") % 7 == 3).select(
                (F.col("doc_id") + 20000).alias("doc_id"),
                F.reverse(F.col("text")).alias("text"),
            )
        )
    )
    return dedup.minhash_lsh_incremental(docs, incoming, threshold=0.5).orderBy(
        "doc_id"
    )


QUERIES["dedup_incremental"] = dedup_incremental
ORACLES["dedup_incremental"] = f"""
    WITH inc AS (
        SELECT doc_id + 10000 AS doc_id,
               substring(text, 1, greatest(length(text) - 30, 1)) AS text
        FROM documents WHERE doc_id % 20 = 0
        UNION ALL
        SELECT doc_id + 20000 AS doc_id, reverse(text) AS text
        FROM documents WHERE doc_id % 7 = 3),
    d AS (SELECT doc_id, text FROM documents UNION ALL SELECT * FROM inc),
    sh AS (SELECT doc_id, UNNEST({{sh}}) AS sh FROM d),
    ids AS (SELECT doc_id, {{hid}} AS sid FROM sh),
    hashed AS (
        SELECT doc_id, k, ((2*k + 1) * sid + (3*k + 7)) % {{p}} AS h
        FROM ids, UNNEST(generate_series(0, 15)) AS u(k)),
    sig AS (SELECT doc_id, k, MIN(h) AS minhash FROM hashed GROUP BY 1, 2),
    band_sig AS (
        SELECT doc_id, CAST(k // 4 AS INT) AS band,
               string_agg(CAST(minhash AS VARCHAR), ',' ORDER BY k) AS sig
        FROM sig GROUP BY 1, 2),
    cand AS (
        SELECT DISTINCT a.doc_id AS base_id, b.doc_id AS doc_id
        FROM band_sig a JOIN band_sig b
          ON a.band = b.band AND a.sig = b.sig
        WHERE a.doc_id < 10000 AND b.doc_id >= 10000),
    sz AS (SELECT doc_id, COUNT(*) AS sz FROM sh GROUP BY doc_id),
    inter AS (
        SELECT c.base_id, c.doc_id, COUNT(*) AS inter
        FROM cand c
        JOIN sh sa ON sa.doc_id = c.base_id
        JOIN sh sb ON sb.doc_id = c.doc_id AND sa.sh = sb.sh
        GROUP BY 1, 2),
    j AS (
        SELECT i.doc_id, i.base_id,
               floor(CAST(inter AS DOUBLE) / (sa.sz + sb.sz - inter) * 1000000 + 0.5) / 1000000
                   AS jaccard
        FROM inter i
        JOIN sz sa ON sa.doc_id = i.base_id
        JOIN sz sb ON sb.doc_id = i.doc_id
        WHERE CAST(inter AS DOUBLE) / (sa.sz + sb.sz - inter) >= 0.5)
    SELECT doc_id, base_id, jaccard FROM (
        SELECT *, row_number() OVER (
            PARTITION BY doc_id ORDER BY jaccard DESC, base_id) AS rn
        FROM j)
    WHERE rn = 1 ORDER BY doc_id
""".format(sh=_SHINGLES, hid=dedup.hash_id_sql("sh", dedup.MINHASH_P),
           p=dedup.MINHASH_P)


def embedding_knn_label(spark: SparkSession, sf_dir: str) -> DataFrame:
    """k-NN majority-vote classifier over the embedding table: for each
    query vector, the top-5 exact-cosine neighbors vote with their
    stored label (ties → smallest label). The neighbor search is the
    gated brute-force kernel; at 100 TB the IVF/LSH variants drop in
    unchanged (same output contract)."""
    emb = _emb(spark, sf_dir)
    queries = emb.filter(F.col("vec_id") % 37 == 0)
    tk = similarity.cosine_topk(
        emb.select("vec_id", "embedding"),
        queries.select("vec_id", "embedding"),
        k=5,
    )
    labels = emb.select(F.col("vec_id").alias("neighbor_id"), "label")
    votes = (
        tk.join(F.broadcast(labels), "neighbor_id")
        .groupBy("query_id", "label")
        .agg(F.count(F.lit(1)).alias("votes"))
    )
    w = _W.partitionBy("query_id").orderBy(F.desc("votes"), F.asc("label"))
    return (
        votes.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") == 1)
        .select("query_id", F.col("label").alias("pred_label"), "votes")
        .orderBy("query_id")
    )


QUERIES["embedding_knn_label"] = embedding_knn_label
ORACLES["embedding_knn_label"] = f"""
    WITH q AS (SELECT vec_id AS query_id, embedding AS qvec
               FROM embeddings WHERE vec_id % 37 = 0
                 AND {_LIVE.format(v='embedding')}),
    scored AS (
        SELECT q.query_id, e.vec_id AS neighbor_id, e.label,
               ROUND({_DOT.format(a='q.qvec', b='e.embedding')}
                     / ({_NORM.format(v='q.qvec')}
                        * {_NORM.format(v='e.embedding')}), 6) AS cosine
        FROM embeddings e, q WHERE e.vec_id <> q.query_id
          AND {_LIVE.format(v='e.embedding')}),
    ranked AS (
        SELECT *, row_number() OVER (
            PARTITION BY query_id ORDER BY cosine DESC, neighbor_id) AS rank
        FROM scored),
    votes AS (
        SELECT query_id, label, COUNT(*) AS votes
        FROM ranked WHERE rank <= 5 GROUP BY 1, 2),
    best AS (
        SELECT *, row_number() OVER (
            PARTITION BY query_id ORDER BY votes DESC, label) AS rn
        FROM votes)
    SELECT query_id, label AS pred_label, votes
    FROM best WHERE rn = 1 ORDER BY query_id
"""


def events_top_per_day(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-3 event types per day by volume — groupBy + per-day
    row_number window. The window partitions by day (thousands of
    independent partitions at scale), never a global sort."""
    ev = _events(spark, sf_dir)
    counts = ev.groupBy(
        F.date_format("ts", "yyyy-MM-dd").alias("day"), "event_type"
    ).agg(F.count(F.lit(1)).alias("n_events"))
    w = _W.partitionBy("day").orderBy(F.desc("n_events"), F.asc("event_type"))
    return (
        counts.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= 3)
        .orderBy("day", "rank")
    )


QUERIES["events_top_per_day"] = events_top_per_day
ORACLES["events_top_per_day"] = """
    WITH c AS (
        SELECT strftime(ts, '%Y-%m-%d') AS day, event_type,
               COUNT(*) AS n_events
        FROM events GROUP BY 1, 2),
    r AS (SELECT *, CAST(row_number() OVER (
              PARTITION BY day ORDER BY n_events DESC, event_type) AS INT)
              AS rank FROM c)
    SELECT day, event_type, n_events, rank FROM r
    WHERE rank <= 3 ORDER BY day, rank
"""


def text_dup_span_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sliding-window duplicated-span fractions over the near-dup
    corpus (each truncated copy shares almost every 20-token span with
    its source doc)."""
    return text.dup_span_stats(_docs_with_near_dups(spark, sf_dir))


QUERIES["text_dup_span_stats"] = text_dup_span_stats
_SPAN_TOKS = _TOKS.format(col="text")
ORACLES["text_dup_span_stats"] = f"""
    WITH d AS ({_NEAR_DUP_DOCS}),
    t AS (SELECT doc_id, {_SPAN_TOKS} AS toks FROM d),
    sp AS (
        SELECT doc_id,
               md5(array_to_string(list_slice(toks, i, i + 19), ' ')) AS h
        FROM t, UNNEST(generate_series(1, greatest(len(toks) - 19, 0))) AS u(i)
        WHERE len(toks) >= 20),
    dup AS (SELECT h FROM sp GROUP BY h HAVING COUNT(DISTINCT doc_id) >= 2),
    m AS (SELECT s.doc_id, CASE WHEN dup.h IS NULL THEN 0 ELSE 1 END AS is_dup
          FROM sp s LEFT JOIN dup ON s.h = dup.h)
    SELECT doc_id,
           COUNT(*) AS n_spans,
           CAST(SUM(is_dup) AS BIGINT) AS n_dup_spans,
           (CAST(SUM(is_dup) AS BIGINT) * 1000000) // COUNT(*) AS dup_ppm
    FROM m GROUP BY doc_id ORDER BY doc_id
"""


def text_dup_span_removal(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Lee et al. span REMOVAL over the near-dup corpus: every token
    covered by a 20-token window duplicated across >= 2 docs is dropped
    and the survivors rejoined in order — the truncated copies and
    their sources lose their shared spans, short/unique docs pass
    through byte-identical."""
    return text.dup_span_removal(
        _docs_with_near_dups(spark, sf_dir)
    ).orderBy("doc_id")


QUERIES["text_dup_span_removal"] = text_dup_span_removal
ORACLES["text_dup_span_removal"] = f"""
    WITH d AS ({_NEAR_DUP_DOCS}),
    t AS (SELECT doc_id, string_split(text, ' ') AS toks FROM d),
    sp AS (
        SELECT doc_id, i,
               array_to_string(list_slice(toks, i, i + 19), ' ') AS s
        FROM t, UNNEST(generate_series(1, greatest(len(toks) - 19, 0)))
             AS u(i)),
    dup AS (SELECT s FROM sp GROUP BY s HAVING COUNT(DISTINCT doc_id) >= 2),
    cov AS (SELECT DISTINCT sp.doc_id, u2.p
            FROM sp JOIN dup USING (s),
                 UNNEST(generate_series(sp.i, sp.i + 19)) AS u2(p)),
    tok AS (SELECT doc_id, generate_subscripts(toks, 1) AS pos,
                   unnest(toks) AS tok
            FROM t),
    kept AS (SELECT tok.doc_id, tok.pos, tok.tok
             FROM tok ANTI JOIN cov
                  ON tok.doc_id = cov.doc_id AND tok.pos = cov.p),
    agg AS (SELECT doc_id, COUNT(*) AS n_kept,
                   string_agg(tok, ' ' ORDER BY pos) AS clean_text
            FROM kept GROUP BY doc_id)
    SELECT t.doc_id,
           CAST(len(t.toks) AS BIGINT) AS n_tokens,
           CAST(len(t.toks) - COALESCE(agg.n_kept, 0) AS BIGINT)
               AS n_removed,
           COALESCE(agg.clean_text, '') AS clean_text
    FROM t LEFT JOIN agg ON t.doc_id = agg.doc_id
    ORDER BY t.doc_id
"""


def corpus_shuffle_deterministic(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Seeded deterministic global shuffle for training order: md5 of a
    seed-prefixed key gives a reproducible pseudo-random total order;
    the global position comes from the distributed rank operator
    (range partition + |partitions|-row offsets — no SinglePartition
    stage), so re-running with the same seed yields byte-identical
    training curricula."""
    from sales_data_etl_pipeline_spark.operators import rank as rank_ops

    docs = _docs(spark, sf_dir).select("doc_id")
    keyed = docs.withColumn(
        "_k",
        F.md5(F.concat(F.lit("seed42-"), F.col("doc_id").cast("string"))),
    )
    out, _ = rank_ops.distributed_row_number(
        keyed, [F.col("_k"), F.col("doc_id")], rank_col="position"
    )
    return out.select("doc_id", "position").orderBy("position")


QUERIES["corpus_shuffle_deterministic"] = corpus_shuffle_deterministic
ORACLES["corpus_shuffle_deterministic"] = """
    SELECT doc_id,
           CAST(row_number() OVER (
               ORDER BY md5('seed42-' || CAST(doc_id AS VARCHAR)), doc_id)
               AS BIGINT) AS position
    FROM documents ORDER BY position
"""


def corpus_curriculum_order(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Curriculum training order: quality-quartile buckets (bucket 1 =
    best, trained first), md5-shuffled within bucket — quality scoring,
    range-partitioned quantile bucketing, and the deterministic shuffle
    composed into one RNG-free, engine-reproducible data order."""
    return corpus.curriculum_order(_docs(spark, sf_dir)).orderBy("position")


QUERIES["corpus_curriculum_order"] = corpus_curriculum_order
ORACLES["corpus_curriculum_order"] = f"""
    WITH q AS ({ORACLES["text_quality_score"]}),
    qq AS (SELECT doc_id,
                  CAST(floor(quality * 1000000 + 0.5) AS BIGINT)
                      AS quality_ppm
           FROM q),
    n AS (SELECT COUNT(*) AS total FROM qq),
    rk AS (SELECT doc_id, quality_ppm,
                  row_number() OVER (ORDER BY quality_ppm DESC, doc_id)
                      AS _rk
           FROM qq),
    b AS (SELECT doc_id, quality_ppm,
                 CAST((_rk - 1) * 4 // total + 1 AS BIGINT) AS bucket
          FROM rk, n)
    SELECT doc_id, quality_ppm, bucket,
           CAST(row_number() OVER (
               ORDER BY bucket,
                        md5('seed42-' || CAST(doc_id AS VARCHAR)),
                        doc_id) AS BIGINT) AS position
    FROM b ORDER BY position
"""


def corpus_domain_cap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-domain document cap (CCNet/RefinedWeb "max N pages per
    host"): keep the 10 docs per source that rank first under the
    seeded md5 order — salted two-phase top-k, no hot-domain reducer."""
    return corpus.domain_cap(_docs(spark, sf_dir), cap=10).orderBy(
        "source", "pick_rank"
    )


QUERIES["corpus_domain_cap"] = corpus_domain_cap
ORACLES["corpus_domain_cap"] = """
    WITH k AS (SELECT doc_id, source,
                      md5('seed42-' || CAST(doc_id AS VARCHAR)) AS _k
               FROM documents),
    r AS (SELECT doc_id, source,
                 CAST(row_number() OVER (
                     PARTITION BY source ORDER BY _k, doc_id) AS BIGINT)
                     AS pick_rank
          FROM k)
    SELECT doc_id, source, pick_rank FROM r WHERE pick_rank <= 10
    ORDER BY source, pick_rank
"""


def source_jsonl_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """JSONL sink→source round trip: write the documents table as
    newline-delimited JSON, read it back with the EXPLICIT schema (no
    inference pass), and aggregate — the oracle computes the same
    aggregate from the parquet, so any loss in the round trip (type
    flips, escaping, truncation) breaks the hash."""
    import os
    import tempfile

    from sales_data_etl_pipeline_spark.sources import jsonl

    docs = _docs(spark, sf_dir)
    # deterministic scratch path keyed by sf_dir: write_jsonl overwrites
    # in place, so repeated gate/bench runs reuse ONE directory instead
    # of leaking a fresh mkdtemp per invocation
    tag = sf_dir.strip("/").replace("/", "_")
    path = os.path.join(tempfile.gettempdir(), f"jsonl_gate_{tag}", "docs")
    jsonl.write_jsonl(docs, path, max_records_per_file=200)
    back = jsonl.read_jsonl(spark, path, docs.schema)
    return (
        back.filter(F.col(jsonl.CORRUPT_COL).isNull())
        .groupBy("lang")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_chars").alias("sum_chars"),
            F.sum(F.length("text")).alias("sum_text_len"),
            F.count_distinct("source").alias("n_sources"),
        )
        .orderBy("lang")
    )


QUERIES["source_jsonl_roundtrip"] = source_jsonl_roundtrip
ORACLES["source_jsonl_roundtrip"] = """
    SELECT lang,
           COUNT(*) AS n_docs,
           CAST(SUM(n_chars) AS BIGINT) AS sum_chars,
           CAST(SUM(length(text)) AS BIGINT) AS sum_text_len,
           COUNT(DISTINCT source) AS n_sources
    FROM documents GROUP BY lang ORDER BY lang
"""


# --- round-7 additions: containment, sentence/char profiles, corpus
# mixture reporting, k-means assignment, event heatmaps, CSV source ----------


def dedup_containment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Directed n-gram containment pairs (|A∩B|/|A| ≥ 0.6) over the
    near-dup fixture — catches a truncated copy whose Jaccard vs the
    original falls below threshold because the union swamps it."""
    return dedup.containment_pairs(
        _docs_with_near_dups(spark, sf_dir), threshold=0.6
    )


QUERIES["dedup_containment"] = dedup_containment
ORACLES["dedup_containment"] = f"""
    WITH d AS ({_NEAR_DUP_DOCS}),
    sh AS (SELECT doc_id, UNNEST({_SHINGLES}) AS sh FROM d),
    sz AS (SELECT doc_id, COUNT(*) AS sz FROM sh GROUP BY doc_id),
    inter AS (
        SELECT a.doc_id AS id_a, b.doc_id AS id_b, COUNT(*) AS inter
        FROM sh a JOIN sh b ON a.sh = b.sh AND a.doc_id < b.doc_id
        GROUP BY 1, 2),
    pairsz AS (
        SELECT id_a, id_b, inter, sa.sz AS sz_a, sb.sz AS sz_b
        FROM inter
        JOIN sz sa ON sa.doc_id = id_a
        JOIN sz sb ON sb.doc_id = id_b),
    directed AS (
        SELECT id_a AS doc_id, id_b AS host_id,
               CAST(inter AS DOUBLE) / sz_a AS r FROM pairsz
        UNION ALL
        SELECT id_b AS doc_id, id_a AS host_id,
               CAST(inter AS DOUBLE) / sz_b AS r FROM pairsz)
    SELECT doc_id, host_id, floor(r * 1000000 + 0.5) / 1000000 AS containment
    FROM directed WHERE r >= 0.6
"""


def text_sentence_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    return text.sentence_stats(_docs(spark, sf_dir)).orderBy("doc_id")


QUERIES["text_sentence_stats"] = text_sentence_stats
ORACLES["text_sentence_stats"] = (
    text.sentence_stats_sql("documents") + " ORDER BY doc_id"
)


def text_char_diversity(spark: SparkSession, sf_dir: str) -> DataFrame:
    return text.char_diversity(_docs(spark, sf_dir)).orderBy("doc_id")


QUERIES["text_char_diversity"] = text_char_diversity
ORACLES["text_char_diversity"] = (
    text.char_diversity_sql("documents") + " ORDER BY doc_id"
)


def corpus_ngram_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-50 corpus 3-gram document frequencies — the vocabulary/
    boilerplate report every corpus audit starts with. Map-side
    combinable count on the shingle key (shingle_sets is per-doc
    DISTINCT, so the count IS document frequency); TakeOrdered for the
    top slice — no global sort, no second shuffle. Full (count, gram)
    tiebreak so the limit is deterministic in both engines."""
    sh = dedup.shingle_sets(_docs(spark, sf_dir))
    return (
        sh.groupBy("sh")
        .agg(F.count(F.lit(1)).alias("doc_freq"))
        .orderBy(F.desc("doc_freq"), "sh")
        .limit(50)
    )


QUERIES["corpus_ngram_counts"] = corpus_ngram_counts
ORACLES["corpus_ngram_counts"] = f"""
    WITH sh AS (
        SELECT doc_id, UNNEST({_SHINGLES}) AS sh FROM documents)
    SELECT sh, COUNT(*) AS doc_freq
    FROM sh GROUP BY sh
    ORDER BY doc_freq DESC, sh LIMIT 50
"""


def corpus_domain_mixture(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source mixture report: doc counts, token totals, and each
    source's token share in ppm — the table a mixture-weight decision
    reads. Shares are EXACT integer arithmetic against a 1-row
    broadcast total (bigint token sums — no double division until
    nothing depends on it)."""
    docs = _docs(spark, sf_dir)
    per_src = ckpt.checkpoint(
        docs.select("source", F.size(text.tokens()).alias("_nt"))
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("_nt").alias("sum_tokens"),
        ),
        eager=False,  # reuse: per-source rows + total
    )
    total = per_src.agg(F.sum("sum_tokens").alias("_tot"))
    return (
        per_src.crossJoin(F.broadcast(total))
        .select(
            "source",
            "n_docs",
            "sum_tokens",
            F.expr("sum_tokens * 1000000 div _tot").alias("token_share_ppm"),
        )
        .orderBy("source")
    )


QUERIES["corpus_domain_mixture"] = corpus_domain_mixture
ORACLES["corpus_domain_mixture"] = f"""
    WITH per AS (
        SELECT source, COUNT(*) AS n_docs,
               CAST(SUM(len({_TOKS.format(col='text')})) AS BIGINT)
                   AS sum_tokens
        FROM documents GROUP BY source)
    SELECT source, n_docs, sum_tokens,
           CAST(sum_tokens * 1000000
                // (SELECT SUM(sum_tokens) FROM per) AS BIGINT)
               AS token_share_ppm
    FROM per ORDER BY source
"""


def embedding_kmeans_assign(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One Lloyd's assignment step: every vector to its nearest of 8
    deterministic seed centroids (vec_id < 8), aggregated to cluster
    sizes + exact integer cosine mass — composed from the
    kmeans_assign kernel that also builds IVF lists."""
    emb = _emb(spark, sf_dir).select("vec_id", "embedding")
    cents = emb.filter(F.col("vec_id") < 8).select(
        F.col("vec_id").alias("centroid_id"), "embedding"
    )
    assigned = similarity.kmeans_assign(emb, cents)
    return (
        assigned.groupBy("centroid_id")
        .agg(
            F.count(F.lit(1)).alias("n_members"),
            F.sum("cosine_q6").alias("sum_cosine_q6"),
        )
        .orderBy("centroid_id")
    )


QUERIES["embedding_kmeans_assign"] = embedding_kmeans_assign
_KM_COS = (
    f"ROUND({_DOT.format(a='e.embedding', b='c.embedding')}"
    f" / (nullif({_NORM.format(v='e.embedding')}, 0.0)"
    f" * nullif({_NORM.format(v='c.embedding')}, 0.0)), 6)"
)
ORACLES["embedding_kmeans_assign"] = f"""
    -- dead (zero-norm / non-finite) centroids can never win in the
    -- kernel, so excluding them here is outcome-equivalent
    WITH c AS (SELECT vec_id AS centroid_id, embedding
               FROM embeddings
               WHERE vec_id < 8
                 AND {_LIVE.format(v='embedding')}),
    scored AS (
        SELECT e.vec_id, c.centroid_id, {_KM_COS} AS cosine
        FROM embeddings e, c
        WHERE {_LIVE.format(v='e.embedding')}),
    ranked AS (
        SELECT vec_id, centroid_id,
               CAST(floor(cosine * 1000000 + 0.5) AS BIGINT) AS cosine_q6,
               row_number() OVER (PARTITION BY vec_id
                   ORDER BY cosine DESC, centroid_id) AS rn
        FROM scored WHERE cosine IS NOT NULL)
    SELECT centroid_id, COUNT(*) AS n_members,
           CAST(SUM(cosine_q6) AS BIGINT) AS sum_cosine_q6
    FROM ranked WHERE rn = 1
    GROUP BY centroid_id ORDER BY centroid_id
"""


def events_hourly_heatmap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Day-of-week × hour activity heatmap with exact-integer value
    mass (per-row cent quantization BEFORE the sum — the module's
    order-free aggregation convention). One map-side-combinable
    aggregate over ≤ 7×24 groups; at 100 TB it is scan-bound."""
    ev = _events(spark, sf_dir)
    return (
        ev.groupBy(
            (F.dayofweek("ts") - 1).alias("dow"),  # 0=Sunday, DuckDB parity
            F.hour("ts").alias("hour"),
        )
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            (
                F.sum(F.floor(F.col("value") * 100 + F.lit(0.5)).cast("long"))
                / 100.0
            ).alias("sum_value"),
        )
        .orderBy("dow", "hour")
    )


QUERIES["events_hourly_heatmap"] = events_hourly_heatmap
ORACLES["events_hourly_heatmap"] = """
    SELECT CAST(date_part('dow', ts) AS INT) AS dow,
           CAST(date_part('hour', ts) AS INT) AS hour,
           COUNT(*) AS n_events,
           CAST(SUM(CAST(floor(value * 100 + 0.5) AS BIGINT)) AS BIGINT)
               / 100.0 AS sum_value
    FROM events GROUP BY 1, 2 ORDER BY dow, hour
"""


def events_rolling_active_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Trailing-7-day distinct active users per day — the DAU/WAU
    windowed-distinct kernel. Exact form: distinct (day, user) pairs
    (one shuffle), each exploded to the ≤7 report days it supports
    (map-side fanout — no range join, no nested loop), then one
    count_distinct per day, reported only for days that actually have
    events. At 100 TB the same plan carries an HLL sketch instead of
    the exact distinct (stats_approx_sketches is the gated twin of
    that config)."""
    ev = _events(spark, sf_dir)
    # |days × users| distinct pairs feed BOTH the report-day list and
    # the fanout — one cut, or the events-scan + distinct runs twice
    du = ckpt.checkpoint(
        ev.select(F.to_date("ts").alias("d"), "user_id")
        .distinct(),
        eager=False,
    )
    days = du.select(F.col("d").alias("day")).distinct()
    fanned = du.select(
        F.explode(F.expr("sequence(d, date_add(d, 6))")).alias("day"),
        "user_id",
    )
    return (
        fanned.join(days, "day", "left_semi")
        .groupBy("day")
        .agg(F.count_distinct("user_id").alias("active_users_7d"))
        .select(F.date_format("day", "yyyy-MM-dd").alias("day"), "active_users_7d")
        .orderBy("day")
    )


QUERIES["events_rolling_active_users"] = events_rolling_active_users
ORACLES["events_rolling_active_users"] = """
    WITH du AS (SELECT DISTINCT CAST(ts AS DATE) AS d, user_id FROM events),
    days AS (SELECT DISTINCT d AS day FROM du),
    fanned AS (
        SELECT CAST(UNNEST(generate_series(d, d + INTERVAL 6 DAY,
                                           INTERVAL 1 DAY)) AS DATE) AS day,
               user_id
        FROM du)
    SELECT strftime(f.day, '%Y-%m-%d') AS day,
           COUNT(DISTINCT f.user_id) AS active_users_7d
    FROM fanned f JOIN days USING (day)
    GROUP BY f.day ORDER BY day
"""


def source_csv_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RFC-4180 CSV sink→source round trip on the documents table (the
    jsonl gate's twin for the other interchange format): quoted fields
    with doubled-quote escapes and multiLine read, explicit schema, no
    inference. The oracle aggregates the parquet directly, so any loss
    (newline splits, quote mangling, type flips) breaks the hash."""
    import os
    import tempfile

    from sales_data_etl_pipeline_spark.sources import csv as csv_src

    docs = _docs(spark, sf_dir)
    tag = sf_dir.strip("/").replace("/", "_")
    path = os.path.join(tempfile.gettempdir(), f"csv_gate_{tag}", "docs")
    csv_src.write_csv_rfc(docs, path, max_records_per_file=200)
    back = csv_src.read_csv_rfc(spark, path, docs.schema)
    return (
        back.groupBy("lang")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_chars").alias("sum_chars"),
            F.sum(F.length("text")).alias("sum_text_len"),
            F.count_distinct("source").alias("n_sources"),
        )
        .orderBy("lang")
    )


QUERIES["source_csv_roundtrip"] = source_csv_roundtrip
ORACLES["source_csv_roundtrip"] = ORACLES["source_jsonl_roundtrip"]


def multimodal_dhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Perceptual dHash fingerprints over the synthetic BMP corpus —
    the image near-dup primitive (hash equality / per-band buckets
    feed the same banded-join dedup the text family gates). Every bit
    re-derived analytically by the oracle from the generator fill
    rule."""
    from sales_data_etl_pipeline_spark.operators import multimodal

    docs = _docs(spark, sf_dir).select(F.col("doc_id").alias("media_id"))
    return multimodal.dhash_images(multimodal.synthesize_bmp(docs)).orderBy(
        "media_id"
    )


QUERIES["multimodal_dhash"] = multimodal_dhash
# gray(x) for sample column x in 0..8: src_x = (x*w)//9 with w = 16+id%32;
# the three BGR bytes are (id + 3*src_x + c) % 256 (c=0,1,2), gray is their
# integer-mean; all raster rows are identical so the 8 row bytes repeat.
# bit x (MSB-first): gray(x+1) > gray(x).
ORACLES["multimodal_dhash"] = """
    WITH g AS (
        SELECT doc_id,
               list_transform(generate_series(0, 8), x ->
                   ((doc_id + 3*((x*(16 + doc_id % 32))//9)) % 256
                  + (doc_id + 3*((x*(16 + doc_id % 32))//9) + 1) % 256
                  + (doc_id + 3*((x*(16 + doc_id % 32))//9) + 2) % 256) // 3
               ) AS gray
        FROM documents),
    rb AS (
        SELECT doc_id,
               CAST(list_aggregate(list_transform(generate_series(0, 7),
                   x -> CASE WHEN gray[x+2] > gray[x+1]
                             THEN 1 << (7 - x) ELSE 0 END), 'sum')
                    AS BIGINT) AS row_byte,
               CAST(list_aggregate(list_transform(generate_series(0, 7),
                   x -> CASE WHEN gray[x+2] > gray[x+1]
                             THEN 1 ELSE 0 END), 'sum') AS BIGINT) AS rbits
        FROM g)
    SELECT doc_id AS media_id,
           repeat(lower(lpad(to_hex(row_byte), 2, '0')), 8) AS dhash,
           8 * rbits AS n_gradient_bits
    FROM rb ORDER BY media_id
"""


def events_user_lifetime_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user lifecycle profile: first/last activity day, span in
    days, distinct active days, total events, and events-per-active-day
    in centi-units — the user-dimension rollup retention/LTV models
    read. ONE map-side-combinable aggregate keyed by user (min/max/
    count + a distinct-day count that pre-reduces on (user, day));
    at 100 TB the distinct-day half becomes the HLL sketch config, the
    rest is untouched."""
    ev = _events(spark, sf_dir)
    per_day = ev.select("user_id", F.to_date("ts").alias("d")).distinct()
    days = per_day.groupBy("user_id").agg(
        F.count(F.lit(1)).alias("active_days"),
        F.min("d").alias("_first"),
        F.max("d").alias("_last"),
    )
    counts = ev.groupBy("user_id").agg(F.count(F.lit(1)).alias("n_events"))
    return (
        days.join(counts, "user_id")
        .select(
            "user_id",
            F.date_format("_first", "yyyy-MM-dd").alias("first_day"),
            F.date_format("_last", "yyyy-MM-dd").alias("last_day"),
            F.datediff("_last", "_first").alias("span_days"),
            "active_days",
            "n_events",
            F.expr("n_events * 100 div active_days").alias(
                "events_per_active_day_c"
            ),
        )
        .orderBy("user_id")
    )


QUERIES["events_user_lifetime_stats"] = events_user_lifetime_stats
ORACLES["events_user_lifetime_stats"] = """
    WITH pd AS (SELECT DISTINCT user_id, CAST(ts AS DATE) AS d FROM events),
    days AS (
        SELECT user_id, COUNT(*) AS active_days,
               MIN(d) AS f, MAX(d) AS l
        FROM pd GROUP BY user_id),
    cnt AS (SELECT user_id, COUNT(*) AS n_events FROM events GROUP BY user_id)
    SELECT d.user_id,
           strftime(d.f, '%Y-%m-%d') AS first_day,
           strftime(d.l, '%Y-%m-%d') AS last_day,
           CAST(date_diff('day', d.f, d.l) AS INT) AS span_days,
           d.active_days,
           c.n_events,
           CAST(c.n_events * 100 // d.active_days AS BIGINT)
               AS events_per_active_day_c
    FROM days d JOIN cnt c ON d.user_id = c.user_id
    ORDER BY d.user_id
"""


# --- round-8 additions: banded containment, join-verify incremental dedup,
# DCT pHash, session-scoped funnel ------------------------------------------


def dedup_minhash_containment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Banded-LSH containment pairs over the near-dup fixture — the
    unbounded-corpus variant of ``dedup_containment``: MinHash band
    buckets generate candidates, exact directed |A∩B|/|A| re-checks
    them (candidate-join counting only, no collect_list)."""
    return dedup.minhash_containment_pairs(
        _docs_with_near_dups(spark, sf_dir), threshold=0.6
    )


QUERIES["dedup_minhash_containment"] = dedup_minhash_containment
ORACLES["dedup_minhash_containment"] = f"""
    WITH d AS ({_NEAR_DUP_DOCS}),
    sh AS (SELECT doc_id, UNNEST({_SHINGLES}) AS sh FROM d),
    ids AS (SELECT doc_id, {dedup.hash_id_sql('sh', dedup.MINHASH_P)} AS sid
            FROM sh),
    hashed AS (
        SELECT doc_id, k, ((2*k + 1) * sid + (3*k + 7)) % {dedup.MINHASH_P} AS h
        FROM ids, UNNEST(generate_series(0, 15)) AS u(k)),
    sig AS (SELECT doc_id, k, MIN(h) AS minhash FROM hashed GROUP BY 1, 2),
    band_sig AS (
        SELECT doc_id, CAST(k // 4 AS INT) AS band,
               string_agg(CAST(minhash AS VARCHAR), ',' ORDER BY k) AS sig
        FROM sig GROUP BY 1, 2),
    cand AS (
        SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
        FROM band_sig a JOIN band_sig b
          ON a.band = b.band AND a.sig = b.sig AND a.doc_id < b.doc_id),
    sz AS (SELECT doc_id, COUNT(*) AS sz FROM sh GROUP BY doc_id),
    inter AS (
        SELECT c.id_a, c.id_b, COUNT(*) AS inter
        FROM cand c
        JOIN sh sa ON sa.doc_id = c.id_a
        JOIN sh sb ON sb.doc_id = c.id_b AND sa.sh = sb.sh
        GROUP BY 1, 2),
    pairsz AS (
        SELECT id_a, id_b, inter, sa.sz AS sz_a, sb.sz AS sz_b
        FROM inter
        JOIN sz sa ON sa.doc_id = id_a
        JOIN sz sb ON sb.doc_id = id_b),
    directed AS (
        SELECT id_a AS doc_id, id_b AS host_id,
               CAST(inter AS DOUBLE) / sz_a AS r FROM pairsz
        UNION ALL
        SELECT id_b AS doc_id, id_a AS host_id,
               CAST(inter AS DOUBLE) / sz_b AS r FROM pairsz)
    SELECT doc_id, host_id,
           floor(r * 1000000 + 0.5) / 1000000 AS containment
    FROM directed WHERE r >= 0.6
"""


def dedup_incremental_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The bounded-memory mode of incremental MinHash-LSH dedup
    (``verify='join'``): |A∩B| via candidate-join counting, NO
    collect_list anywhere — per-row memory O(1) regardless of document
    length, the 100 TB daily-ingest configuration. Same fixture and
    output contract as ``dedup_incremental`` (whose gate runs the
    carried-sets mode); this entry drives the join path through the
    driver oracle."""
    docs = _docs(spark, sf_dir).select("doc_id", "text")
    incoming = (
        docs.filter(F.col("doc_id") % 20 == 0)
        .select(
            (F.col("doc_id") + 10000).alias("doc_id"),
            F.expr(
                "substring(text, 1, greatest(length(text) - 30, 1))"
            ).alias("text"),
        )
        .unionByName(
            docs.filter(F.col("doc_id") % 7 == 3).select(
                (F.col("doc_id") + 20000).alias("doc_id"),
                F.reverse("text").alias("text"),
            )
        )
    )
    return dedup.minhash_lsh_incremental(
        docs, incoming, threshold=0.5, verify="join"
    ).orderBy("doc_id")


QUERIES["dedup_incremental_join"] = dedup_incremental_join
# identical output contract: the join path must reproduce the sets
# path bit-for-bit (property-tested equal; here the driver oracle
# checks it against DuckDB independently)
ORACLES["dedup_incremental_join"] = ORACLES["dedup_incremental"]


def dedup_incremental_prepared(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Amortized daily-ingest incremental dedup: the base corpus's
    MinHash artifacts (bucketed shingle / signature tables) are
    persisted once (``dedup.save_minhash_base``) and every ingest
    batch matches against the STORED tables — no base re-shingling or
    re-aggregation per batch (``dedup.minhash_lsh_incremental_prepared``).
    Same fixture and output contract as ``dedup_incremental``; this
    gate drives the artifact path end-to-end (save + match) through
    the driver oracle."""
    docs = _docs(spark, sf_dir).select("doc_id", "text")
    incoming = (
        docs.filter(F.col("doc_id") % 20 == 0)
        .select(
            (F.col("doc_id") + 10000).alias("doc_id"),
            F.expr(
                "substring(text, 1, greatest(length(text) - 30, 1))"
            ).alias("text"),
        )
        .unionByName(
            docs.filter(F.col("doc_id") % 7 == 3).select(
                (F.col("doc_id") + 20000).alias("doc_id"),
                F.reverse("text").alias("text"),
            )
        )
    )
    dedup.save_minhash_base(docs, "minhash_base_gate")
    return dedup.minhash_lsh_incremental_prepared(
        spark, "minhash_base_gate", incoming, threshold=0.5
    ).orderBy("doc_id")


QUERIES["dedup_incremental_prepared"] = dedup_incremental_prepared
ORACLES["dedup_incremental_prepared"] = ORACLES["dedup_incremental"]


def multimodal_phash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DCT-based perceptual hash over the synthetic BMP corpus — the
    blur/rescale-robust complement to dHash (low-frequency spectrum
    shape instead of per-pixel gradients). Integer DCT (pinned basis
    literals, exact int64 matmuls), so the oracle re-derives every bit
    analytically from the generator fill rule + the same basis."""
    from sales_data_etl_pipeline_spark.operators import multimodal

    docs = _docs(spark, sf_dir).select(F.col("doc_id").alias("media_id"))
    return multimodal.phash_images(multimodal.synthesize_bmp(docs)).orderBy(
        "media_id"
    )


QUERIES["multimodal_phash"] = multimodal_phash


def _phash_bits_ctes(
    ids: str = "SELECT doc_id AS media_id, doc_id AS gid FROM documents",
) -> str:
    """Analytic pHash CTEs: the generator raster is constant in y
    (fill depends on x only), so the 2-D integer DCT factorizes into
    (row-sum of the vertical basis)·(horizontal basis · gray), with the
    SAME integer basis literals the kernel uses — every product exact
    int64, every bit cross-engine reproducible. ``ids`` supplies
    (media_id, gid): gid drives the generator fill/dims, media_id
    labels the output — so relabeled copies of the same image are
    expressible. Ends with ``bits(media_id, b)``."""
    from sales_data_etl_pipeline_spark.operators import multimodal

    B = multimodal.phash_basis()
    b_lit = (
        "[" + ", ".join("[" + ", ".join(map(str, r)) + "]" for r in B) + "]"
    )
    rs_lit = "[" + ", ".join(str(sum(r)) for r in B) + "]"
    return f"""
        ids AS ({ids}),
        g AS (
            SELECT media_id,
                   list_transform(generate_series(0, 31), x ->
                       ((gid + 3*((x*(16 + gid % 32))//32)) % 256
                      + (gid + 3*((x*(16 + gid % 32))//32) + 1) % 256
                      + (gid + 3*((x*(16 + gid % 32))//32) + 2) % 256)
                       // 3) AS gray
            FROM ids),
        cx AS (
            SELECT media_id,
                   list_transform(generate_series(1, 8), u ->
                       list_aggregate(list_transform(generate_series(1, 32),
                           x -> {b_lit}[u][x] * gray[x]), 'sum')) AS cxs
            FROM g),
        co AS (
            SELECT media_id,
                   flatten(list_transform(generate_series(1, 8), v ->
                       list_transform(generate_series(1, 8), u ->
                           {rs_lit}[v] * cxs[u]))) AS coeffs
            FROM cx),
        th AS (
            SELECT media_id, coeffs,
                   list_sort(coeffs)[32] + list_sort(coeffs)[33] AS t
            FROM co),
        bits AS (
            SELECT media_id,
                   list_transform(generate_series(1, 64), i ->
                       CASE WHEN 2 * coeffs[i] > t THEN 1 ELSE 0 END) AS b
            FROM th)"""


def _phash_oracle() -> str:
    return f"""
        WITH {_phash_bits_ctes()}
        SELECT media_id,
               array_to_string(list_transform(generate_series(0, 7), j ->
                   lower(lpad(to_hex(list_aggregate(
                       list_transform(generate_series(0, 7),
                           k -> b[8*j + k + 1] * (1 << (7 - k))),
                       'sum')), 2, '0'))), '') AS phash,
               CAST(list_aggregate(b, 'sum') AS BIGINT) AS n_bits_set
        FROM bits ORDER BY media_id
    """


ORACLES["multimodal_phash"] = _phash_oracle()


def events_session_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """view→click→purchase funnel scored WITHIN 30-min sessions: the
    chain must complete inside one gap-based session (a next-day
    purchase converts the user funnel but not this one). Composes the
    sessionization window idiom with the per-step conditional-min
    funnel, keyed by (user, session)."""
    from sales_data_etl_pipeline_spark.operators import temporal

    return temporal.session_funnel_counts(_events(spark, sf_dir), _FUNNEL_STEPS)


QUERIES["events_session_funnel"] = events_session_funnel

from sales_data_etl_pipeline_spark.operators.temporal import (  # noqa: E402
    session_funnel_counts_sql as _session_funnel_sql,
)

ORACLES["events_session_funnel"] = _session_funnel_sql("events", _FUNNEL_STEPS)


def events_markov_transitions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First-order Markov transition matrix over each user's ordered
    event stream — counts and row-normalized probabilities in EXACT ppm
    (integer division, the ``graph_pagerank`` determinism discipline)."""
    from sales_data_etl_pipeline_spark.operators import temporal

    return temporal.markov_transitions(_events(spark, sf_dir)).orderBy(
        "from_type", "to_type"
    )


QUERIES["events_markov_transitions"] = events_markov_transitions

from sales_data_etl_pipeline_spark.operators.temporal import (  # noqa: E402
    markov_transitions_sql as _markov_sql,
)

ORACLES["events_markov_transitions"] = _markov_sql("events")


def embedding_pq_encode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Product-quantization encode of the embedding table against a
    deterministic codebook (every 50th vector, the IVF fixture rule):
    per-block nearest codeword over the GLOBAL integer grid — exact
    int64 distances, the billion-vector ANN compression step."""
    from sales_data_etl_pipeline_spark.operators import embeddings as emb_ops

    emb = _emb(spark, sf_dir)
    codebook = emb.filter(F.col("vec_id") % 50 == 0).select(
        F.col("vec_id").alias("centroid_id"), "embedding"
    )
    return emb_ops.pq_encode(
        emb.select("vec_id", "embedding"), codebook
    ).orderBy("vec_id")


QUERIES["embedding_pq_encode"] = embedding_pq_encode
_PQ_FINITE = (
    "NOT coalesce(list_bool_or(list_transform({v},"
    " x -> x IS NULL OR isnan(CAST(x AS DOUBLE))"
    " OR isinf(CAST(x AS DOUBLE)))), FALSE)"
)
ORACLES["embedding_pq_encode"] = f"""
    WITH q AS (
        SELECT vec_id,
               list_transform(embedding, x -> least(greatest(
                   CAST(floor(CAST(x AS DOUBLE) * 16 + 0.5) AS BIGINT),
                   -127), 127)) AS qv
        FROM embeddings
        WHERE {_PQ_FINITE.format(v='embedding')}),
    cb AS (SELECT vec_id AS centroid_id, qv AS cv FROM q
           WHERE vec_id % 50 = 0),
    d AS (
        SELECT q.vec_id, m.m, cb.centroid_id,
               list_aggregate(list_transform(generate_series(1, 16),
                   i -> (q.qv[(m.m - 1) * 16 + i] - cb.cv[(m.m - 1) * 16 + i])
                      * (q.qv[(m.m - 1) * 16 + i] - cb.cv[(m.m - 1) * 16 + i])),
                   'sum') AS d2
        FROM q, UNNEST(generate_series(1, 4)) AS m(m), cb),
    best AS (
        SELECT *, row_number() OVER (
            PARTITION BY vec_id, m ORDER BY d2, centroid_id) AS rn
        FROM d)
    SELECT vec_id,
           string_agg(CAST(centroid_id AS VARCHAR), ',' ORDER BY m) AS codes,
           CAST(SUM(d2) AS BIGINT) AS d2_total
    FROM best WHERE rn = 1
    GROUP BY vec_id ORDER BY vec_id
"""


def events_salted_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Skew-safe dimension join: the fact side (events, where one hot
    event_type can dominate a partition at 100 TB) joins a derived
    per-type dimension through salt replication — the fact side never
    concentrates on one (key) reducer; the dimension explodes ×16.
    The gate pins multiplicity semantics: aggregated output must equal
    the plain-join oracle exactly."""
    from sales_data_etl_pipeline_spark.operators import skew

    ev = _events(spark, sf_dir)
    dim = (
        ev.groupBy("event_type")
        .agg(F.count(F.lit(1)).alias("type_total"))
    )
    joined = skew.salted_join(ev.select("event_type", "value"), dim, "event_type")
    return (
        joined.groupBy("event_type", "type_total")
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.floor(F.sum("value") * 100 + F.lit(0.5)).alias("value_c"),
        )
        .orderBy("event_type")
    )


QUERIES["events_salted_join"] = events_salted_join
ORACLES["events_salted_join"] = """
    WITH dim AS (
        SELECT event_type, COUNT(*) AS type_total
        FROM events GROUP BY event_type)
    SELECT e.event_type, d.type_total,
           COUNT(*) AS n_rows,
           CAST(floor(SUM(e.value) * 100 + 0.5) AS BIGINT) AS value_c
    FROM events e JOIN dim d ON e.event_type = d.event_type
    GROUP BY e.event_type, d.type_total
    ORDER BY e.event_type
"""


def similarity_topk_pq(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Asymmetric-distance top-k over PQ codes (the IVF-PQ scan half):
    every query ranks the whole corpus through 4 integer table lookups
    per vector instead of a 64-dim float dot — exact int64 arithmetic
    end-to-end, so the oracle reproduces ranks bit-for-bit."""
    emb = _emb(spark, sf_dir)
    codebook = emb.filter(F.col("vec_id") % 50 == 0).select(
        F.col("vec_id").alias("centroid_id"), "embedding"
    )
    return similarity.pq_adc_topk(
        emb.select("vec_id", "embedding"),
        codebook,
        emb.filter(F.col("vec_id") % 37 == 0).select("vec_id", "embedding"),
        k=5,
    ).orderBy("query_id", "rank")


QUERIES["similarity_topk_pq"] = similarity_topk_pq
ORACLES["similarity_topk_pq"] = f"""
    WITH q0 AS (
        SELECT vec_id,
               list_transform(embedding, x -> least(greatest(
                   CAST(floor(CAST(x AS DOUBLE) * 16 + 0.5) AS BIGINT),
                   -127), 127)) AS qv
        FROM embeddings
        WHERE {_PQ_FINITE.format(v='embedding')}),
    cb AS (SELECT vec_id AS centroid_id, qv AS cv FROM q0
           WHERE vec_id % 50 = 0),
    d AS (
        SELECT q0.vec_id, m.m, cb.centroid_id,
               list_aggregate(list_transform(generate_series(1, 16),
                   i -> (q0.qv[(m.m - 1) * 16 + i] - cb.cv[(m.m - 1) * 16 + i])
                      * (q0.qv[(m.m - 1) * 16 + i] - cb.cv[(m.m - 1) * 16 + i])),
                   'sum') AS d2
        FROM q0, UNNEST(generate_series(1, 4)) AS m(m), cb),
    code AS (
        SELECT vec_id, m, centroid_id AS code FROM (
            SELECT *, row_number() OVER (
                PARTITION BY vec_id, m ORDER BY d2, centroid_id) AS rn
            FROM d) WHERE rn = 1),
    qs AS (SELECT vec_id AS query_id, qv FROM q0 WHERE vec_id % 37 = 0),
    lut AS (
        SELECT qs.query_id, m.m, cb.centroid_id AS code,
               list_aggregate(list_transform(generate_series(1, 16),
                   i -> (qs.qv[(m.m - 1) * 16 + i] - cb.cv[(m.m - 1) * 16 + i])
                      * (qs.qv[(m.m - 1) * 16 + i] - cb.cv[(m.m - 1) * 16 + i])),
                   'sum') AS d2p
        FROM qs, UNNEST(generate_series(1, 4)) AS m(m), cb),
    sc AS (
        SELECT l.query_id, c.vec_id, CAST(SUM(l.d2p) AS BIGINT) AS d2_adc
        FROM code c JOIN lut l ON c.m = l.m AND c.code = l.code
        GROUP BY 1, 2),
    r AS (SELECT *, row_number() OVER (
              PARTITION BY query_id ORDER BY d2_adc, vec_id) AS rank
          FROM sc)
    SELECT query_id, vec_id AS neighbor_id, d2_adc, rank
    FROM r WHERE rank <= 5 ORDER BY query_id, rank
"""


def source_partitioned_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Partitioned parquet sink→source round trip WITH partition
    pruning: write events partitioned by event_type (hive-style
    directory layout — the 100 TB fact-table norm), read back with a
    partition-key filter, and aggregate. The physical scan lists only
    the two selected partition directories (PartitionFilters — plan-
    asserted in tests/test_round8_ops.py); the oracle computes the same
    aggregate from the unpartitioned parquet, so a value lost or
    re-typed by the partition round trip (the key moves into the
    directory name and back) breaks the hash."""
    import os
    import tempfile

    from sales_data_etl_pipeline_spark.sources import parquet as pq_src

    ev = _events(spark, sf_dir)
    tag = sf_dir.strip("/").replace("/", "_")
    path = os.path.join(
        tempfile.gettempdir(), f"part_gate_{tag}", "events"
    )
    pq_src.write_parquet(ev, path, partition_by=["event_type"])
    # explicit schema (repo rule: no inference anywhere) — also the
    # empty-input path: a zero-row partitioned write leaves no footers
    # to infer from, and the read must still succeed with zero rows
    back = spark.read.schema(ev.schema).parquet(path)
    return (
        back.filter(F.col("event_type").isin("view", "purchase"))
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.floor(F.sum("value") * 100 + F.lit(0.5)).alias("value_c"),
            F.count_distinct("user_id").alias("n_users"),
        )
        .orderBy("event_type")
    )


QUERIES["source_partitioned_roundtrip"] = source_partitioned_roundtrip
ORACLES["source_partitioned_roundtrip"] = """
    SELECT event_type,
           COUNT(*) AS n_events,
           CAST(floor(SUM(value) * 100 + 0.5) AS BIGINT) AS value_c,
           COUNT(DISTINCT user_id) AS n_users
    FROM events
    WHERE event_type IN ('view', 'purchase')
    GROUP BY event_type ORDER BY event_type
"""


def source_orc_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ORC sink→source round trip (the secondary columnar interchange
    format — Spark ships the reader/writer natively): write the
    documents table as ORC, read it back, and aggregate with a pushed
    predicate; the oracle computes the same aggregate from the parquet,
    so any type flip or value loss in the ORC round trip breaks the
    hash. Pushdown into the ORC scan itself is plan-asserted in
    tests/test_orc.py."""
    import os
    import tempfile

    docs = _docs(spark, sf_dir)
    tag = sf_dir.strip("/").replace("/", "_")
    path = os.path.join(tempfile.gettempdir(), f"orc_gate_{tag}", "docs")
    docs.write.mode("overwrite").orc(path)
    back = spark.read.orc(path)
    return (
        back.filter(F.col("n_chars") > 200)
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_chars").alias("sum_chars"),
            F.sum(F.length("text")).alias("sum_text_len"),
            F.count_distinct("lang").alias("n_langs"),
        )
        .orderBy("source")
    )


QUERIES["source_orc_roundtrip"] = source_orc_roundtrip
ORACLES["source_orc_roundtrip"] = """
    SELECT source,
           COUNT(*) AS n_docs,
           CAST(SUM(n_chars) AS BIGINT) AS sum_chars,
           CAST(SUM(length(text)) AS BIGINT) AS sum_text_len,
           COUNT(DISTINCT lang) AS n_langs
    FROM documents
    WHERE n_chars > 200
    GROUP BY source ORDER BY source
"""


def similarity_topk_ivfpq(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Full IVF-PQ: coarse quantization assigns every vector to its
    nearest centroid LIST (exact grid L2, = pq_encode with one block),
    each query probes its 2 closest lists, and the ADC scan runs ONLY
    over the probed lists' code rows — the complete billion-vector ANN
    layout where per-query cost is the probed fraction of a compressed
    code table, never a raw-vector scan. Composes three gated pieces
    (pq_encode coarse + probe ranking + candidate-restricted
    pq_adc_topk); exact int64 arithmetic end-to-end."""
    emb = _emb(spark, sf_dir)
    cents = emb.filter(F.col("vec_id") % 50 == 0).select(
        F.col("vec_id").alias("centroid_id"), "embedding"
    )
    corpus = emb.select("vec_id", "embedding")
    queries = emb.filter(F.col("vec_id") % 37 == 0).select(
        "vec_id", "embedding"
    )
    lists = _emb_ops.pq_encode(corpus, cents, n_blocks=1).select(
        "vec_id", F.col("codes").cast("long").alias("list_id")
    )
    probes = similarity._probe_lists(
        similarity._on_grid(queries, "vec_id", "embedding", "query_id", "_qv"),
        similarity._on_grid(cents, "centroid_id", "embedding", "list_id", "_cv"),
        query_id_col="query_id",
        dim=64,
        n_probe=2,
    ).select("query_id", "list_id")
    cand = probes.join(lists, "list_id").select("query_id", "vec_id")
    return similarity.pq_adc_topk(
        corpus, cents, queries, k=5, candidates=cand
    ).orderBy("query_id", "rank")


QUERIES["similarity_topk_ivfpq"] = similarity_topk_ivfpq
ORACLES["similarity_topk_ivfpq"] = f"""
    WITH q0 AS (
        SELECT vec_id,
               list_transform(embedding, x -> least(greatest(
                   CAST(floor(CAST(x AS DOUBLE) * 16 + 0.5) AS BIGINT),
                   -127), 127)) AS qv
        FROM embeddings
        WHERE {_PQ_FINITE.format(v='embedding')}),
    cb AS (SELECT vec_id AS centroid_id, qv AS cv FROM q0
           WHERE vec_id % 50 = 0),
    cd AS (
        SELECT q0.vec_id, cb.centroid_id,
               list_aggregate(list_transform(generate_series(1, 64),
                   i -> (q0.qv[i] - cb.cv[i]) * (q0.qv[i] - cb.cv[i])),
                   'sum') AS d2
        FROM q0, cb),
    lists AS (
        SELECT vec_id, centroid_id AS list_id FROM (
            SELECT *, row_number() OVER (
                PARTITION BY vec_id ORDER BY d2, centroid_id) AS rn
            FROM cd) WHERE rn = 1),
    qs AS (SELECT vec_id AS query_id, qv FROM q0 WHERE vec_id % 37 = 0),
    probes AS (
        SELECT query_id, list_id FROM (
            SELECT qs.query_id, cd.centroid_id AS list_id,
                   row_number() OVER (PARTITION BY qs.query_id
                       ORDER BY cd.d2, cd.centroid_id) AS rn
            FROM qs JOIN cd ON cd.vec_id = qs.query_id) WHERE rn <= 2),
    cand AS (
        SELECT p.query_id, l.vec_id
        FROM probes p JOIN lists l ON l.list_id = p.list_id),
    d AS (
        SELECT q0.vec_id, m.m, cb.centroid_id,
               list_aggregate(list_transform(generate_series(1, 16),
                   i -> (q0.qv[(m.m - 1) * 16 + i] - cb.cv[(m.m - 1) * 16 + i])
                      * (q0.qv[(m.m - 1) * 16 + i] - cb.cv[(m.m - 1) * 16 + i])),
                   'sum') AS d2
        FROM q0, UNNEST(generate_series(1, 4)) AS m(m), cb),
    code AS (
        SELECT vec_id, m, centroid_id AS code FROM (
            SELECT *, row_number() OVER (
                PARTITION BY vec_id, m ORDER BY d2, centroid_id) AS rn
            FROM d) WHERE rn = 1),
    lut AS (
        SELECT qs.query_id, m.m, cb.centroid_id AS code,
               list_aggregate(list_transform(generate_series(1, 16),
                   i -> (qs.qv[(m.m - 1) * 16 + i] - cb.cv[(m.m - 1) * 16 + i])
                      * (qs.qv[(m.m - 1) * 16 + i] - cb.cv[(m.m - 1) * 16 + i])),
                   'sum') AS d2p
        FROM qs, UNNEST(generate_series(1, 4)) AS m(m), cb),
    sc AS (
        SELECT ca.query_id, c.vec_id, CAST(SUM(l.d2p) AS BIGINT) AS d2_adc
        FROM code c
        JOIN cand ca ON ca.vec_id = c.vec_id
        JOIN lut l ON l.query_id = ca.query_id
                  AND l.m = c.m AND l.code = c.code
        GROUP BY 1, 2),
    r AS (SELECT *, row_number() OVER (
              PARTITION BY query_id ORDER BY d2_adc, vec_id) AS rank
          FROM sc)
    SELECT query_id, vec_id AS neighbor_id, d2_adc, rank
    FROM r WHERE rank <= 5 ORDER BY query_id, rank
"""


def similarity_topk_ivfpq_residual(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """IVF-PQ with RESIDUAL encoding (full faiss semantics): vectors
    are stored as (coarse list, residual PQ codes); each query probes
    its 2 nearest lists and ADC-scans them with a per-list LUT over
    the shared residual codebook (residuals of every 40th vector).
    Exact int64 grid arithmetic end-to-end — the oracle reproduces
    every code and rank bit-for-bit."""
    emb = _emb(spark, sf_dir)
    cents = emb.filter(F.col("vec_id") % 50 == 0).select(
        F.col("vec_id").alias("centroid_id"), "embedding"
    )
    rcb = emb.filter(F.col("vec_id") % 40 == 0).select(
        F.col("vec_id").alias("centroid_id"), "embedding"
    )
    queries = emb.filter(F.col("vec_id") % 37 == 0).select(
        "vec_id", "embedding"
    )
    return similarity.ivfpq_residual_topk(
        emb.select("vec_id", "embedding"),
        cents,
        rcb,
        queries,
        k=5,
        n_blocks=4,
        n_probe=2,
    ).orderBy("query_id", "rank")


QUERIES["similarity_topk_ivfpq_residual"] = similarity_topk_ivfpq_residual
ORACLES["similarity_topk_ivfpq_residual"] = f"""
    WITH q0 AS (
        SELECT vec_id,
               list_transform(embedding, x -> least(greatest(
                   CAST(floor(CAST(x AS DOUBLE) * 16 + 0.5) AS BIGINT),
                   -127), 127)) AS qv
        FROM embeddings
        WHERE {_PQ_FINITE.format(v='embedding')}),
    cb AS (SELECT vec_id AS centroid_id, qv AS cv FROM q0
           WHERE vec_id % 50 = 0),
    cd AS (
        SELECT q0.vec_id, cb.centroid_id,
               list_aggregate(list_transform(generate_series(1, 64),
                   i -> (q0.qv[i] - cb.cv[i]) * (q0.qv[i] - cb.cv[i])),
                   'sum') AS d2
        FROM q0, cb),
    lists AS (
        SELECT vec_id, centroid_id AS list_id FROM (
            SELECT *, row_number() OVER (
                PARTITION BY vec_id ORDER BY d2, centroid_id) AS rn
            FROM cd) WHERE rn = 1),
    rc AS (
        SELECT q0.vec_id AS code,
               list_transform(generate_series(1, 64),
                   i -> q0.qv[i] - cb.cv[i]) AS rv
        FROM q0
        JOIN lists l ON l.vec_id = q0.vec_id
        JOIN cb ON cb.centroid_id = l.list_id
        WHERE q0.vec_id % 40 = 0),
    resid AS (
        SELECT q0.vec_id, l.list_id,
               list_transform(generate_series(1, 64),
                   i -> q0.qv[i] - cb.cv[i]) AS rv
        FROM q0
        JOIN lists l ON l.vec_id = q0.vec_id
        JOIN cb ON cb.centroid_id = l.list_id),
    d AS (
        SELECT resid.vec_id, resid.list_id, m.m, rc.code,
               list_aggregate(list_transform(generate_series(1, 16),
                   i -> (resid.rv[(m.m - 1) * 16 + i] - rc.rv[(m.m - 1) * 16 + i])
                      * (resid.rv[(m.m - 1) * 16 + i] - rc.rv[(m.m - 1) * 16 + i])),
                   'sum') AS d2
        FROM resid, UNNEST(generate_series(1, 4)) AS m(m), rc),
    code AS (
        SELECT vec_id, list_id, m, code FROM (
            SELECT *, row_number() OVER (
                PARTITION BY vec_id, m ORDER BY d2, code) AS rn
            FROM d) WHERE rn = 1),
    qs AS (SELECT vec_id AS query_id, qv FROM q0 WHERE vec_id % 37 = 0),
    probes AS (
        SELECT query_id, list_id FROM (
            SELECT qs.query_id, cd.centroid_id AS list_id,
                   row_number() OVER (PARTITION BY qs.query_id
                       ORDER BY cd.d2, cd.centroid_id) AS rn
            FROM qs JOIN cd ON cd.vec_id = qs.query_id) WHERE rn <= 2),
    qres AS (
        SELECT p.query_id, p.list_id,
               list_transform(generate_series(1, 64),
                   i -> qs.qv[i] - cb.cv[i]) AS qr
        FROM probes p
        JOIN qs ON qs.query_id = p.query_id
        JOIN cb ON cb.centroid_id = p.list_id),
    lut AS (
        SELECT q.query_id, q.list_id, m.m, rc.code,
               list_aggregate(list_transform(generate_series(1, 16),
                   i -> (q.qr[(m.m - 1) * 16 + i] - rc.rv[(m.m - 1) * 16 + i])
                      * (q.qr[(m.m - 1) * 16 + i] - rc.rv[(m.m - 1) * 16 + i])),
                   'sum') AS d2p
        FROM qres q, UNNEST(generate_series(1, 4)) AS m(m), rc),
    sc AS (
        SELECT l.query_id, c.vec_id, CAST(SUM(l.d2p) AS BIGINT) AS d2_adc
        FROM code c
        JOIN lut l ON l.list_id = c.list_id AND l.m = c.m
                  AND l.code = c.code
        GROUP BY 1, 2),
    r AS (SELECT *, row_number() OVER (
              PARTITION BY query_id ORDER BY d2_adc, vec_id) AS rank
          FROM sc)
    SELECT query_id, vec_id AS neighbor_id, d2_adc, rank
    FROM r WHERE rank <= 5 ORDER BY query_id, rank
"""


def dedup_incremental_containment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Daily-ingest quote detection: each INCOMING doc's best containing
    base host by |inc ∩ base| / |inc| — catches a new document that is
    mostly an excerpt of an existing (longer) one, which BOTH the
    jaccard-incremental admit filter and MinHash banding miss (each
    follows jaccard, which an excerpt keeps tiny). Candidates come
    from the shared-shingle base×incoming equi-join — the incoming
    batch is the small probe side, the incremental-correct shape."""
    docs = _docs(spark, sf_dir).select("doc_id", "text")
    incoming = (
        docs.filter(F.col("doc_id") % 20 == 0)
        .select(
            (F.col("doc_id") + 10000).alias("doc_id"),
            F.expr(
                "substring(text, 1, greatest(length(text) - 30, 1))"
            ).alias("text"),
        )
        .unionByName(
            docs.filter(F.col("doc_id") % 7 == 3).select(
                (F.col("doc_id") + 20000).alias("doc_id"),
                F.reverse("text").alias("text"),
            )
        )
    )
    return dedup.containment_incremental(
        docs, incoming, threshold=0.6
    ).orderBy("doc_id")


QUERIES["dedup_incremental_containment"] = dedup_incremental_containment
ORACLES["dedup_incremental_containment"] = """
    WITH inc AS (
        SELECT doc_id + 10000 AS doc_id,
               substring(text, 1, greatest(length(text) - 30, 1)) AS text
        FROM documents WHERE doc_id % 20 = 0
        UNION ALL
        SELECT doc_id + 20000 AS doc_id, reverse(text) AS text
        FROM documents WHERE doc_id % 7 = 3),
    b AS (SELECT doc_id, text FROM documents),
    shb AS (SELECT doc_id AS base_id, UNNEST({sh}) AS sh FROM b),
    shi AS (SELECT doc_id, UNNEST({sh2}) AS sh FROM inc),
    sz AS (SELECT doc_id, COUNT(*) AS sz_inc FROM shi GROUP BY doc_id),
    inter AS (
        SELECT shb.base_id, shi.doc_id, COUNT(*) AS inter
        FROM shb JOIN shi ON shb.sh = shi.sh
        GROUP BY 1, 2),
    j AS (
        SELECT i.doc_id, i.base_id,
               floor(CAST(inter AS DOUBLE) / sz.sz_inc * 1000000 + 0.5)
                   / 1000000 AS containment
        FROM inter i
        JOIN sz ON sz.doc_id = i.doc_id
        WHERE CAST(inter AS DOUBLE) / sz.sz_inc >= 0.6)
    SELECT doc_id, base_id, containment FROM (
        SELECT *, row_number() OVER (
            PARTITION BY doc_id ORDER BY containment DESC, base_id) AS rn
        FROM j)
    WHERE rn = 1 ORDER BY doc_id
""".format(sh=_SHINGLES.replace("text", "b.text"),
           sh2=_SHINGLES.replace("text", "inc.text"))


def graph_pagerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PageRank centrality over the MinHash near-dup graph — a hub
    document quoted/copied by many others outranks its copies, a
    representative-selection signal beyond max-quality. Fixed 3
    iterations in exact ppb integer arithmetic (pinned division
    order), so the unrolled SQL oracle reproduces every rank."""
    pairs = dedup.minhash_lsh_pairs(
        _docs_with_near_dups(spark, sf_dir), threshold=0.5
    )
    return dedup.pagerank(pairs).orderBy("doc_id")


QUERIES["graph_pagerank"] = graph_pagerank


def _pagerank_oracle(iterations: int = 3) -> str:
    pairs_body = ORACLES["dedup_minhash_lsh"]
    ctes = [
        f"p AS ({pairs_body})",
        "e AS (SELECT id_a AS src, id_b AS dst FROM p"
        " UNION SELECT id_b, id_a FROM p)",
        "deg AS (SELECT src, COUNT(*) AS deg FROM e GROUP BY src)",
        "nn AS (SELECT COUNT(*) AS n FROM deg)",
        "r0 AS (SELECT d.src AS node, d.deg,"
        " CAST(1000000000 // nn.n AS BIGINT) AS rank_ppb"
        " FROM deg d CROSS JOIN nn)",
    ]
    for i in range(1, iterations + 1):
        ctes.append(
            f"s{i} AS (SELECT e.dst, SUM(r{i-1}.rank_ppb // r{i-1}.deg) AS t"
            f" FROM e JOIN r{i-1} ON r{i-1}.node = e.src GROUP BY e.dst)"
        )
        ctes.append(
            f"r{i} AS (SELECT d.src AS node, d.deg,"
            f" CAST(150000000 // nn.n"
            f" + (85 * COALESCE(s{i}.t, 0)) // 100 AS BIGINT) AS rank_ppb"
            f" FROM deg d CROSS JOIN nn"
            f" LEFT JOIN s{i} ON s{i}.dst = d.src)"
        )
    return (
        "WITH " + ", ".join(ctes)
        + f" SELECT node AS doc_id, rank_ppb FROM r{iterations}"
        " ORDER BY doc_id"
    )


ORACLES["graph_pagerank"] = _pagerank_oracle()


def events_rfm_segmentation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RFM user segmentation — the marketing-analytics rollup: per-user
    recency (days since last event, vs the corpus max timestamp —
    deterministic, no wall clock), frequency, and monetary value, each
    cut into quintiles over a UNIQUE ordering (metric, user_id).
    Quintile 1 = best (most recent / most frequent / highest spend).
    Buckets come from ``rank.quantile_bucket`` — the range-partitioned
    distributed rank, NOT a bare ``ntile() OVER (ORDER BY …)`` which
    would collapse the user rollup onto one reducer; the events table
    itself is touched once (one keyed aggregate)."""
    from sales_data_etl_pipeline_spark.operators import rank as rank_ops

    ev = _events(spark, sf_dir)
    per_user = ev.groupBy("user_id").agg(
        F.max("ts").alias("_last"),
        F.count(F.lit(1)).alias("frequency"),
        F.floor(F.sum("value") * 100 + F.lit(0.5)).alias("monetary_c"),
    )
    ref = ev.agg(F.max("ts").alias("_ref"))
    scored = per_user.crossJoin(F.broadcast(ref)).withColumn(
        "recency_days", F.datediff(F.to_date("_ref"), F.to_date("_last"))
    )
    cut = rank_ops.quantile_bucket(
        scored,
        [F.asc("recency_days"), F.asc("user_id")],
        n_buckets=5,
        bucket_col="r_quintile",
    )
    cut = rank_ops.quantile_bucket(
        cut,
        [F.desc("frequency"), F.asc("user_id")],
        n_buckets=5,
        bucket_col="f_quintile",
    )
    cut = rank_ops.quantile_bucket(
        cut,
        [F.desc("monetary_c"), F.asc("user_id")],
        n_buckets=5,
        bucket_col="m_quintile",
    )
    return (
        cut.select(
            "user_id",
            "recency_days",
            "frequency",
            "monetary_c",
            "r_quintile",
            "f_quintile",
            "m_quintile",
            (
                F.col("r_quintile") * 100
                + F.col("f_quintile") * 10
                + F.col("m_quintile")
            ).alias("rfm_code"),
        )
        .orderBy("user_id")
    )


QUERIES["events_rfm_segmentation"] = events_rfm_segmentation
# quintile formula mirrors rank.quantile_bucket: (rk-1)*5 // n + 1 —
# the append-stable div form, identical across engines
ORACLES["events_rfm_segmentation"] = """
    WITH pu AS (
        SELECT user_id, MAX(ts) AS last_ts, COUNT(*) AS frequency,
               CAST(floor(SUM(value) * 100 + 0.5) AS BIGINT) AS monetary_c
        FROM events GROUP BY user_id),
    ref AS (SELECT MAX(ts) AS ref_ts FROM events),
    scored AS (
        SELECT pu.*, CAST(date_diff('day', CAST(last_ts AS DATE),
                         CAST(ref.ref_ts AS DATE)) AS INT) AS recency_days
        FROM pu CROSS JOIN ref),
    q AS (
        SELECT *,
               ROW_NUMBER() OVER (ORDER BY recency_days ASC, user_id) AS rr,
               ROW_NUMBER() OVER (ORDER BY frequency DESC, user_id) AS fr,
               ROW_NUMBER() OVER (ORDER BY monetary_c DESC, user_id) AS mr,
               COUNT(*) OVER () AS n
        FROM scored),
    b AS (
        SELECT user_id, recency_days, frequency, monetary_c,
               CAST((rr - 1) * 5 // n + 1 AS BIGINT) AS r_quintile,
               CAST((fr - 1) * 5 // n + 1 AS BIGINT) AS f_quintile,
               CAST((mr - 1) * 5 // n + 1 AS BIGINT) AS m_quintile
        FROM q)
    SELECT *, r_quintile * 100 + f_quintile * 10 + m_quintile AS rfm_code
    FROM b ORDER BY user_id
"""


# --- round-10 additions ------------------------------------------------------


def similarity_range_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-k-per-left cosine range join
    (``similarity.cosine_range_topk``) — the bounded-output variant of
    ``similarity_range_join`` for hub vectors: each even-id left
    vector links to at most k=3 of its cosine≥0.5 banded matches in
    corpus B, ranked by (cosine DESC, right_id ASC) through the salted
    two-phase top-k (no hot-hub reducer). Range-join fixture plus a
    SECOND planted variant per 50th even vector (+20000, dim-2
    bumped), so planted lefts carry ≥2 qualifying matches and ranks
    ≥2 are actually exercised."""
    emb = _emb(spark, sf_dir).select("vec_id", "embedding")
    left = emb.filter(F.col("vec_id") % 2 == 0)
    right = (
        emb.filter(F.col("vec_id") % 2 == 1)
        .unionByName(
            emb.filter(F.col("vec_id") % 50 == 0).select(
                (F.col("vec_id") + 10000).alias("vec_id"),
                F.expr(
                    "concat(array(cast(element_at(embedding, 1) + 0.05 as float)),"
                    " slice(embedding, 2, 63))"
                ).alias("embedding"),
            )
        )
        .unionByName(
            emb.filter(F.col("vec_id") % 50 == 0).select(
                (F.col("vec_id") + 20000).alias("vec_id"),
                F.expr(
                    "concat(slice(embedding, 1, 1),"
                    " array(cast(element_at(embedding, 2) + 0.05 as float)),"
                    " slice(embedding, 3, 62))"
                ).alias("embedding"),
            )
        )
    )
    return similarity.cosine_range_topk(
        left, right, k=3, threshold=0.5
    ).orderBy("left_id", "rank")


QUERIES["similarity_range_topk"] = similarity_range_topk

ORACLES["similarity_range_topk"] = f"""
    SELECT left_id, right_id, cosine, rank FROM (
        SELECT left_id, right_id, cosine,
               row_number() OVER (
                   PARTITION BY left_id
                   ORDER BY cosine DESC, right_id ASC) AS rank
        FROM ({_range_join_oracle(threshold=0.5, extra_plant=True)})
    ) WHERE rank <= 3
"""


def streaming_dedup_minhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming MinHash-LSH near-dup bucket detection
    (``streaming.minhash_band_buckets``) — the banded twin of
    ``streaming_dedup``: the document stream plus planted duplicates
    (every %10==1 doc re-sent verbatim at +30000; every %20==0 doc
    re-sent truncated by 30 chars at +10000, both in the original's
    synthetic minute) flows through row-wise MinHash signatures into
    ONE stateful (window, band, sig) aggregation; buckets with ≥2
    members are the near-dup alarms. Oracle: the identical banding SQL
    over the same planted corpus, grouped by the same window
    arithmetic."""
    from sales_data_etl_pipeline_spark.streaming import events as streaming

    stream = streaming.stream_documents(spark, sf_dir)
    planted = stream.filter(F.col("doc_id") % 10 == 1).select(
        (F.col("doc_id") + 30000).alias("doc_id"), "text", "ts"
    ).unionByName(
        stream.filter(F.col("doc_id") % 20 == 0).select(
            (F.col("doc_id") + 10000).alias("doc_id"),
            F.expr(
                "substring(text, 1, greatest(length(text) - 30, 1))"
            ).alias("text"),
            "ts",
        )
    )
    buckets = streaming.minhash_band_buckets(
        stream.unionByName(planted)
    )
    out = streaming.run_stream_to_memory(
        buckets, "q_stream_minhash_buckets", output_mode="complete"
    )
    return (
        out.filter(F.col("n_docs") >= 2)
        .orderBy("win_start", "band", "sig")
    )


QUERIES["streaming_dedup_minhash"] = streaming_dedup_minhash

ORACLES["streaming_dedup_minhash"] = f"""
    WITH ds AS (
        SELECT doc_id, text FROM documents
        UNION ALL
        SELECT doc_id + 30000, text FROM documents WHERE doc_id % 10 = 1
        UNION ALL
        SELECT doc_id + 10000,
               substring(text, 1, greatest(length(text) - 30, 1))
        FROM documents WHERE doc_id % 20 = 0),
    sh AS (SELECT doc_id, UNNEST({{sh}}) AS sh FROM ds),
    ids AS (SELECT doc_id, {{sid}} AS sid FROM sh),
    hashed AS (
        SELECT doc_id, k, ((2*k + 1) * sid + (3*k + 7)) % {{p}} AS h
        FROM ids, UNNEST(generate_series(0, 15)) AS u(k)),
    sig AS (SELECT doc_id, k, MIN(h) AS minhash FROM hashed GROUP BY 1, 2),
    band_sig AS (
        SELECT doc_id, CAST(k // 4 AS INT) AS band,
               string_agg(CAST(minhash AS VARCHAR), ',' ORDER BY k) AS sig
        FROM sig GROUP BY 1, 2)
    SELECT CAST((((doc_id % 10000) * 60) // 3600) * 3600 AS BIGINT)
               AS win_start,
           band, sig,
           MIN(doc_id) AS first_id, COUNT(*) AS n_docs
    FROM band_sig
    GROUP BY 1, 2, 3
    HAVING COUNT(*) >= 2
""".format(
    sh=_SHINGLES,
    sid=dedup.hash_id_sql("sh", dedup.MINHASH_P),
    p=dedup.MINHASH_P,
)


def similarity_knn_graph(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mutual-kNN graph edges (``similarity.knn_graph_mutual``) over
    the embedding corpus plus a perturbed copy of every 25th vector
    (+10000, last dim bumped) — each copy and its original are
    mutually nearest, so the planted edges survive symmetrization
    while hub-to-satellite one-way edges drop. k=3, cosine≥0.5,
    banded hyperplane candidates — never corpus²."""
    emb = _emb(spark, sf_dir).select("vec_id", "embedding")
    corpus = emb.unionByName(
        emb.filter(F.col("vec_id") % 25 == 0).select(
            (F.col("vec_id") + 10000).alias("vec_id"),
            F.expr(
                "concat(slice(embedding, 1, 63),"
                " array(cast(element_at(embedding, 64) + 0.05 as float)))"
            ).alias("embedding"),
        )
    )
    return similarity.knn_graph_mutual(
        corpus, k=3, threshold=0.5
    ).orderBy("id_a", "id_b")


QUERIES["similarity_knn_graph"] = similarity_knn_graph


def _knn_graph_oracle(
    k: int = 3,
    threshold: float = 0.5,
    planes: int = 32,
    bands: int = 4,
    dim: int = 64,
) -> str:
    """DuckDB twin of the gated ``similarity.knn_graph_mutual`` — same
    hyperplane banding, self-exclusion, per-left top-k (cosine DESC,
    right ASC), and mutual symmetrization over the same planted
    corpus."""
    R = similarity.hyperplane_signs(planes, dim)
    band_selects = _hyperplane_band_selects_sql(
        R, planes // bands, bands, dim
    )
    cos = (
        f"ROUND({_DOT.format(a='el.embedding', b='er.embedding')}"
        f" / ({_NORM.format(v='el.embedding')}"
        f" * {_NORM.format(v='er.embedding')}), 6)"
    )
    return f"""
        WITH crp0 AS (
            SELECT vec_id, embedding FROM embeddings
            UNION ALL
            SELECT vec_id + 10000 AS vec_id,
                   list_append(embedding[1:63],
                               CAST(embedding[64] + 0.05 AS FLOAT))
                       AS embedding
            FROM embeddings WHERE vec_id % 25 = 0),
        crp AS (SELECT * FROM crp0 WHERE {_LIVE.format(v='embedding')}),
        bs AS ({band_selects('crp', 'vec_id')}),
        cand AS (
            SELECT DISTINCT a.vec_id AS left_id, b.vec_id AS right_id
            FROM bs a JOIN bs b
              ON a.band = b.band AND a.sig = b.sig
             AND a.vec_id <> b.vec_id),
        scored AS (
            SELECT c.left_id, c.right_id, {cos} AS cosine
            FROM cand c
            JOIN crp el ON el.vec_id = c.left_id
            JOIN crp er ON er.vec_id = c.right_id
            WHERE {cos} >= {threshold}),
        directed AS (
            SELECT left_id, right_id, cosine,
                   row_number() OVER (
                       PARTITION BY left_id
                       ORDER BY cosine DESC, right_id ASC) AS rank
            FROM scored QUALIFY rank <= {k})
        SELECT f.left_id AS id_a, f.right_id AS id_b, f.cosine,
               f.rank AS rank_ab, r.rank AS rank_ba
        FROM directed f
        JOIN directed r
          ON r.left_id = f.right_id AND r.right_id = f.left_id
        WHERE f.left_id < f.right_id
    """


ORACLES["similarity_knn_graph"] = _knn_graph_oracle()


def table_snapshot_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Keyed two-snapshot reconciliation diff (``merge.snapshot_diff``)
    — derive the changelog between orders-as-loaded and a mutated next
    snapshot: every 13th key dropped (removed), every 11th re-keyed
    +100000000 (added), every remaining 7th with o_totalprice bumped
    (changed, changed_cols pins the column list). Unchanged keys must
    NOT appear — the diff is output-bound."""
    orders = load_testdata(spark, sf_dir, ("orders",))["orders"]
    base = orders.select(
        "o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice"
    )
    new = base.filter(F.col("o_orderkey") % 13 != 0).withColumn(
        "o_totalprice",
        F.when(
            F.col("o_orderkey") % 7 == 0, F.col("o_totalprice") + 1.5
        ).otherwise(F.col("o_totalprice")),
    ).unionByName(
        base.filter(F.col("o_orderkey") % 11 == 0).select(
            (F.col("o_orderkey") + 100000000).alias("o_orderkey"),
            "o_custkey",
            "o_orderstatus",
            "o_totalprice",
        )
    )
    return merge_ops.snapshot_diff(base, new, "o_orderkey").orderBy(
        "o_orderkey", "change_type"
    )


QUERIES["table_snapshot_diff"] = table_snapshot_diff

ORACLES["table_snapshot_diff"] = """
    WITH base AS (
        SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice
        FROM orders),
    nxt AS (
        SELECT o_orderkey, o_custkey, o_orderstatus,
               CASE WHEN o_orderkey % 7 = 0 THEN o_totalprice + 1.5
                    ELSE o_totalprice END AS o_totalprice
        FROM base WHERE o_orderkey % 13 <> 0
        UNION ALL
        SELECT o_orderkey + 100000000, o_custkey, o_orderstatus,
               o_totalprice
        FROM base WHERE o_orderkey % 11 = 0),
    j AS (
        SELECT COALESCE(o.o_orderkey, n.o_orderkey) AS o_orderkey,
               CASE WHEN o.o_orderkey IS NULL THEN 'added'
                    WHEN n.o_orderkey IS NULL THEN 'removed'
                    ELSE 'changed' END AS change_type,
               CASE WHEN o.o_orderkey IS NULL OR n.o_orderkey IS NULL
                    THEN ''
                    ELSE array_to_string(list_sort(list_filter([
                        CASE WHEN o.o_custkey IS DISTINCT FROM n.o_custkey
                             THEN 'o_custkey' END,
                        CASE WHEN o.o_orderstatus
                                  IS DISTINCT FROM n.o_orderstatus
                             THEN 'o_orderstatus' END,
                        CASE WHEN o.o_totalprice
                                  IS DISTINCT FROM n.o_totalprice
                             THEN 'o_totalprice' END
                    ], x -> x IS NOT NULL)), ',') END AS changed_cols
        FROM base o FULL OUTER JOIN nxt n ON o.o_orderkey = n.o_orderkey)
    SELECT o_orderkey, change_type, changed_cols
    FROM j
    WHERE NOT (change_type = 'changed' AND changed_cols = '')
"""


def events_attribution_linear(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Linear multi-touch attribution (``temporal.linear_attribution``):
    every purchase's value (exact cents) is split equally in
    micro-cents across the user's view/click touches in the prior 7
    days; credit rolls up per touch channel. Bucketized range join —
    never an unbounded theta join."""
    from sales_data_etl_pipeline_spark.operators import temporal

    events = load_testdata(spark, sf_dir, ("events",))["events"]
    return temporal.linear_attribution(events).orderBy("event_type")


QUERIES["events_attribution_linear"] = events_attribution_linear

ORACLES["events_attribution_linear"] = """
    WITH p AS (
        SELECT event_id AS pid, user_id, ts,
               CAST(floor(value * 100 + 0.5) AS BIGINT) AS cents
        FROM events WHERE event_type = 'purchase'),
    t AS (
        SELECT user_id, event_type AS ttype, ts
        FROM events WHERE event_type IN ('view', 'click')),
    m AS (
        SELECT p.pid, p.cents, t.ttype
        FROM p JOIN t ON t.user_id = p.user_id
         AND epoch(t.ts) < epoch(p.ts)
         AND epoch(t.ts) >= epoch(p.ts) - 604800.0),
    n AS (SELECT pid, COUNT(*) AS n_t FROM m GROUP BY 1),
    c AS (
        SELECT m.ttype, m.pid, (m.cents * 1000000) // n.n_t AS credit
        FROM m JOIN n USING (pid))
    SELECT ttype AS event_type,
           COUNT(*) AS n_touches,
           COUNT(DISTINCT pid) AS n_conversions,
           CAST(SUM(credit) AS BIGINT) AS credit_micros
    FROM c GROUP BY 1
"""


def corpus_bloom_membership(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bloom-filter decontamination (``corpus.bloom_membership``): the
    same leak fixture as ``corpus_decontaminate`` (every 31st doc plays
    the benchmark; corpus holds them verbatim plus 200-char
    truncations at +50000) but membership is tested against a
    1M-bit / 4-hash deterministic Bloom of the eval 8-grams — the
    broadcast stays ≤ m_bits rows no matter how large the eval SUITE
    grows. Output counts bloom-passing n-grams per flagged doc
    (superset of exact hits; false positives are deterministic and the
    oracle reproduces them)."""
    base = _docs(spark, sf_dir).select("doc_id", "text")
    leaked = base.filter(F.col("doc_id") % 31 == 0).select(
        (F.col("doc_id") + 50000).alias("doc_id"),
        F.substring("text", 1, 200).alias("text"),
    )
    corpus_df = base.unionByName(leaked)
    evalset = base.filter(F.col("doc_id") % 31 == 0)
    return corpus.bloom_membership(
        corpus_df, evalset, m_bits=1 << 20, k_hashes=4, n=8
    ).orderBy("doc_id")


QUERIES["corpus_bloom_membership"] = corpus_bloom_membership

_BLOOM_M = 1 << 20
ORACLES["corpus_bloom_membership"] = f"""
    WITH corpus AS (
        SELECT doc_id, text FROM documents
        UNION ALL
        SELECT doc_id + 50000 AS doc_id, substring(text, 1, 200) AS text
        FROM documents WHERE doc_id % 31 = 0
    ),
    ev AS (
        SELECT DISTINCT unnest({_SHINGLE8}) AS ng
        FROM documents WHERE doc_id % 31 = 0
    ),
    bits AS (
        SELECT DISTINCT
               {dedup.hash_id_sql("(ng || '#' || CAST(j AS VARCHAR))", _BLOOM_M)}
                   AS pos
        FROM ev, UNNEST(generate_series(0, 3)) AS u(j)
    ),
    dng AS (
        SELECT doc_id, unnest({_SHINGLE8}) AS ng FROM corpus
    ),
    probes AS (
        SELECT doc_id, ng,
               {dedup.hash_id_sql("(ng || '#' || CAST(j AS VARCHAR))", _BLOOM_M)}
                   AS pos
        FROM dng, UNNEST(generate_series(0, 3)) AS u(j)
    ),
    hit AS (
        SELECT p.doc_id, p.ng
        FROM probes p JOIN bits USING (pos)
        GROUP BY 1, 2
        HAVING COUNT(*) = 4
    )
    SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_bloom_hits
    FROM hit GROUP BY 1
"""


def events_top_paths(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-20 user journey paths (``temporal.top_paths``): each user's
    first 5 event types in (ts, event_id) order joined as a>b>c,
    counted across users — ties broken (n_users DESC, path ASC) so the
    LIMIT cut is deterministic in both engines."""
    from sales_data_etl_pipeline_spark.operators import temporal

    events = load_testdata(spark, sf_dir, ("events",))["events"]
    return temporal.top_paths(events)


QUERIES["events_top_paths"] = events_top_paths

ORACLES["events_top_paths"] = """
    WITH r AS (
        SELECT user_id, event_type,
               row_number() OVER (
                   PARTITION BY user_id ORDER BY ts, event_id) AS rn
        FROM events),
    p AS (
        SELECT user_id, string_agg(event_type, '>' ORDER BY rn) AS path
        FROM r WHERE rn <= 5 GROUP BY user_id)
    SELECT path, COUNT(*) AS n_users
    FROM p GROUP BY 1
    ORDER BY n_users DESC, path ASC
    LIMIT 20
"""


def multimodal_audio_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Audio decode round-trip (``multimodal.synthesize_wav`` →
    ``multimodal.decode_audio``): one spec-conformant PCM-16 RIFF/WAVE
    payload per doc (rate/length derived from the id), parsed back
    from the ACTUAL bytes with the pure-struct chunk walker, plus
    exact int64 sample folds (peak |s|, Σs²). The oracle re-derives
    every value from the generator rules — wrong chunk offsets,
    endianness, or sample math in writer OR parser breaks the hash."""
    from sales_data_etl_pipeline_spark.operators import multimodal

    docs = _docs(spark, sf_dir).select(F.col("doc_id").alias("media_id"))
    return multimodal.decode_audio(
        multimodal.synthesize_wav(docs)
    ).orderBy("media_id")


QUERIES["multimodal_audio_stats"] = multimodal_audio_stats

ORACLES["multimodal_audio_stats"] = """
    WITH spec AS (
        SELECT doc_id AS media_id,
               8000 + 4000 * (doc_id % 4) AS sample_rate,
               64 + doc_id % 128 AS n_samples
        FROM documents),
    s AS (
        SELECT spec.media_id,
               ((spec.media_id * 31 + u.i * 17) % 2003) - 1001 AS smp
        FROM spec, UNNEST(generate_series(0, spec.n_samples - 1)) AS u(i)),
    agg AS (
        SELECT media_id, MAX(ABS(smp)) AS peak_abs,
               CAST(SUM(smp * smp) AS BIGINT) AS sum_sq
        FROM s GROUP BY 1)
    SELECT spec.media_id,
           CAST(spec.sample_rate AS BIGINT) AS sample_rate,
           CAST(1 AS BIGINT) AS n_channels,
           CAST(16 AS BIGINT) AS bits,
           CAST(spec.n_samples AS BIGINT) AS n_samples,
           CAST(agg.peak_abs AS BIGINT) AS peak_abs,
           agg.sum_sq
    FROM spec JOIN agg USING (media_id)
    ORDER BY spec.media_id
"""


def table_snapshot_changelog(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Applyable CDC changelog derived between two snapshots
    (``merge.snapshot_changelog``) — same mutation fixture as
    ``table_snapshot_diff`` but emitting I/U/D rows WITH the new
    values, ready for ``cdc_apply`` (round-trip reconstruction is
    property-pinned in tests/test_round10_ops.py)."""
    orders = load_testdata(spark, sf_dir, ("orders",))["orders"]
    base = orders.select(
        "o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice"
    )
    new = base.filter(F.col("o_orderkey") % 13 != 0).withColumn(
        "o_totalprice",
        F.when(
            F.col("o_orderkey") % 7 == 0, F.col("o_totalprice") + 1.5
        ).otherwise(F.col("o_totalprice")),
    ).unionByName(
        base.filter(F.col("o_orderkey") % 11 == 0).select(
            (F.col("o_orderkey") + 100000000).alias("o_orderkey"),
            "o_custkey",
            "o_orderstatus",
            "o_totalprice",
        )
    )
    return merge_ops.snapshot_changelog(base, new, "o_orderkey").orderBy(
        "o_orderkey"
    )


QUERIES["table_snapshot_changelog"] = table_snapshot_changelog

ORACLES["table_snapshot_changelog"] = """
    WITH base AS (
        SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice
        FROM orders),
    nxt AS (
        SELECT o_orderkey, o_custkey, o_orderstatus,
               CASE WHEN o_orderkey % 7 = 0 THEN o_totalprice + 1.5
                    ELSE o_totalprice END AS o_totalprice
        FROM base WHERE o_orderkey % 13 <> 0
        UNION ALL
        SELECT o_orderkey + 100000000, o_custkey, o_orderstatus,
               o_totalprice
        FROM base WHERE o_orderkey % 11 = 0),
    j AS (
        SELECT COALESCE(o.o_orderkey, n.o_orderkey) AS o_orderkey,
               CASE WHEN o.o_orderkey IS NULL THEN 'I'
                    WHEN n.o_orderkey IS NULL THEN 'D'
                    WHEN o.o_custkey IS DISTINCT FROM n.o_custkey
                      OR o.o_orderstatus IS DISTINCT FROM n.o_orderstatus
                      OR o.o_totalprice IS DISTINCT FROM n.o_totalprice
                    THEN 'U' END AS op,
               n.o_custkey, n.o_orderstatus, n.o_totalprice
        FROM base o FULL OUTER JOIN nxt n ON o.o_orderkey = n.o_orderkey)
    SELECT o_orderkey, op, CAST(1 AS BIGINT) AS seq,
           o_custkey, o_orderstatus, o_totalprice
    FROM j WHERE op IS NOT NULL
"""


def embedding_kmeans_train(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact-integer Lloyd k-means training
    (``similarity.kmeans_lloyd_int``): k=8 centroids over the grid-
    quantized embeddings, 2 iterations, deterministic smallest-id
    seeds, trunc-div re-centering, dead centroids kept — the
    codebook-producing half consumed by kmeans_assign/pq_encode/IVF.
    Output is the exploded final codebook (centroid_id, dim, val); the
    oracle unrolls both iterations in SQL and must match bit-for-bit."""
    emb = _emb(spark, sf_dir).select("vec_id", "embedding")
    return similarity.kmeans_lloyd_int(
        emb, k=8, iterations=2
    ).orderBy("centroid_id", "dim")


QUERIES["embedding_kmeans_train"] = embedding_kmeans_train


def _kmeans_ctes(
    k: int = 8,
    dim: int = 64,
    iterations: int = 2,
    src: str = "embeddings",
) -> tuple[str, str, str]:
    """Shared DuckDB unrolling of the ``kmeans_lloyd_int`` Lloyd loop
    (same grid, same smallest-id tie order, same trunc-div update —
    DuckDB ``//`` truncates on ints — same dead-centroid carry).
    Returns (with_fragment, final_centroid_cte, assign_fn): the
    fragment defines ``g`` (grid vectors) through ``c{iterations}``;
    callers append their own CTEs and may unroll one more
    ``assign_fn(final, name)`` for a final assignment pass."""
    d2 = (
        "list_aggregate(list_transform(generate_series(1, {d}),"
        " i -> (g.gv[i] - c.cv[i]) * (g.gv[i] - c.cv[i])), 'sum')"
    ).format(d=dim)

    def assign(cn: str, an: str) -> str:
        return f"""
        {an} AS (
            SELECT vid, gv, cid FROM (
                SELECT g.vid, g.gv, c.cid,
                       row_number() OVER (PARTITION BY g.vid
                           ORDER BY {d2}, c.cid) AS rn
                FROM g CROSS JOIN {cn} c)
            WHERE rn = 1)"""

    def update(an: str, sn: str, prev: str, cn: str) -> str:
        return f"""
        {sn} AS (
            SELECT {an}.cid, u.i AS dim, SUM({an}.gv[u.i]) AS s,
                   COUNT(*) AS n
            FROM {an}, UNNEST(generate_series(1, {dim})) AS u(i)
            GROUP BY 1, 2),
        {cn} AS (
            SELECT cid, list(CAST(s // n AS BIGINT) ORDER BY dim) AS cv
            FROM {sn} GROUP BY cid
            UNION ALL
            SELECT p.cid, p.cv FROM {prev} p
            WHERE p.cid NOT IN (SELECT cid FROM {sn}))"""

    parts = [
        f"""g AS (
            SELECT vec_id AS vid,
                   list_transform(embedding, x -> least(greatest(
                       CAST(floor(CAST(x AS DOUBLE) * 16 + 0.5) AS BIGINT),
                       -127), 127)) AS gv
            FROM {src}
            WHERE {_PQ_FINITE.format(v='embedding')})""",
        f"""c0 AS (
            SELECT row_number() OVER (ORDER BY vid) - 1 AS cid, gv AS cv
            FROM (SELECT vid, gv FROM g ORDER BY vid LIMIT {k}))""",
    ]
    prev = "c0"
    for i in range(1, iterations + 1):
        parts.append(assign(prev, f"a{i}"))
        parts.append(update(f"a{i}", f"s{i}", prev, f"c{i}"))
        prev = f"c{i}"
    return ",\n        ".join(parts), prev, assign


def _kmeans_train_oracle(k: int = 8, dim: int = 64) -> str:
    ctes, final, _ = _kmeans_ctes(k, dim, iterations=2)
    return f"""
        WITH {ctes}
        SELECT cid AS centroid_id, u.i - 1 AS dim,
               CAST(cv[u.i] AS BIGINT) AS val
        FROM {final}, UNNEST(generate_series(1, {dim})) AS u(i)
        ORDER BY centroid_id, dim
    """


ORACLES["embedding_kmeans_train"] = _kmeans_train_oracle()


def dedup_semantic(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDeDup (``similarity.semantic_dedup``) over the near-dup
    embedding fixture: k=8 integer-Lloyd clusters (1 iteration), then
    within-cluster greedy-by-id drops at cosine ≥ 0.95 — the threshold
    evaluated exactly as tau_den²·dot² ≥ tau_num²·|a|²·|b|² on int64
    grid values, so the oracle reproduces every disposition
    bit-for-bit. The perturbed id+10000 copies land in their source's
    cluster and are dropped; the random base vectors are mutually
    near-orthogonal and kept."""
    emb = _emb_with_near_dups(spark, sf_dir)
    return similarity.semantic_dedup(
        emb, k=8, iterations=1, tau_num=19, tau_den=20
    ).orderBy("vec_id")


QUERIES["dedup_semantic"] = dedup_semantic


def _semantic_dedup_oracle(
    k: int = 8, dim: int = 64, tau_num: int = 19, tau_den: int = 20
) -> str:
    """DuckDB twin of the gated ``semantic_dedup``: the shared Lloyd
    CTEs (1 iteration) + one final assignment + the integer cosine²
    pair test + greedy-by-id drop."""
    ctes, final, assign = _kmeans_ctes(
        k, dim, iterations=1, src=f"({_NEAR_DUP_EMB})"
    )
    dot = (
        "CAST(list_aggregate(list_transform(generate_series(1, {d}),"
        " i -> a.gv[i] * b.gv[i]), 'sum') AS BIGINT)"
    ).format(d=dim)
    return f"""
        WITH {ctes},
        {assign(final, 'af')},
        n AS (
            SELECT vid, gv, cid,
                   CAST(list_aggregate(list_transform(gv, x -> x * x),
                        'sum') AS BIGINT) AS n2
            FROM af),
        p AS (
            SELECT a.vid AS avid, b.vid AS bvid,
                   a.n2 AS a2, b.n2 AS b2, {dot} AS dot
            FROM n a JOIN n b ON a.cid = b.cid AND a.vid < b.vid),
        drp AS (
            SELECT DISTINCT bvid AS vid FROM p
            WHERE a2 > 0 AND b2 > 0 AND dot > 0
              AND {tau_den * tau_den} * dot * dot
                  >= {tau_num * tau_num} * a2 * b2)
        SELECT n.vid AS vec_id, n.cid AS centroid_id,
               (drp.vid IS NULL) AS kept
        FROM n LEFT JOIN drp ON n.vid = drp.vid
        ORDER BY vec_id
    """


ORACLES["dedup_semantic"] = _semantic_dedup_oracle()


def text_winnow_fingerprints(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Winnowing fingerprint selection (``dedup.winnow_fingerprints``,
    Schleimer et al. SIGMOD 2003) pinned per-doc: count of selected
    (pos, hash) fingerprints, the position sum, and the hash mod-sum
    (mod 1e9+7 keeps the int64 sum exact — raw 60-bit hashes would
    overflow a per-doc SUM). Any deviation in the frame-min /
    rightmost-tie / truncated-final-frame rules moves all three."""
    docs = _docs(spark, sf_dir).select("doc_id", "text")
    return (
        dedup.winnow_fingerprints(docs)
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_fps"),
            F.sum("fp_pos").alias("pos_sum"),
            F.sum(F.expr("fp_hash % 1000000007L")).alias("hash_modsum"),
        )
        .orderBy("doc_id")
    )


QUERIES["text_winnow_fingerprints"] = text_winnow_fingerprints


def dedup_winnowing(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MOSS winnowing near-dup pairs (``dedup.winnow_pairs``) over the
    truncated-copy fixture: docs sharing ≥8 selected fingerprint
    hashes after the max_df=20 hot-fingerprint cap, with exact
    integer fingerprint-set Jaccard in ppm. The id+10000 truncated
    copies share their source's full prefix fingerprint set."""
    docs = _docs_with_near_dups(spark, sf_dir)
    return dedup.winnow_pairs(docs).orderBy("doc_a", "doc_b")


QUERIES["dedup_winnowing"] = dedup_winnowing


def _winnow_fp_ctes(kgram: int = 8, window: int = 4, src: str = "documents") -> str:
    """DuckDB twin of ``dedup.winnow_fingerprints``: same md5-derived
    60-bit k-gram hashes, same frame min with rightmost-min tie
    (struct_pack(h, -pos) minimum — identical lexicographic struct
    ordering in both engines), same truncated final frame for docs
    with fewer than ``window`` k-grams. Ends with
    ``fps(doc_id, fp_pos, fp_hash)``."""
    return f"""
        d AS (SELECT doc_id, text FROM {src}
              WHERE length(text) >= {kgram}),
        p AS (SELECT doc_id, u.i AS pos,
                     length(text) - {kgram - 1} AS npos,
                     CAST('0x' || substr(md5(substr(text, u.i, {kgram})),
                          1, 15) AS BIGINT) AS h
              FROM d, UNNEST(generate_series(1,
                       length(text) - {kgram - 1})) AS u(i)),
        w AS (SELECT doc_id, pos, npos,
                     min(struct_pack(h := h, np := -pos)) OVER
                       (PARTITION BY doc_id ORDER BY pos
                        ROWS BETWEEN {window - 1} PRECEDING
                        AND CURRENT ROW) AS s
              FROM p),
        fps AS (SELECT DISTINCT doc_id,
                       -struct_extract(s, 'np') AS fp_pos,
                       struct_extract(s, 'h') AS fp_hash
                FROM w WHERE pos >= {window} OR pos = npos)"""


ORACLES["text_winnow_fingerprints"] = f"""
    WITH {_winnow_fp_ctes()}
    SELECT doc_id, COUNT(*) AS n_fps,
           CAST(SUM(fp_pos) AS BIGINT) AS pos_sum,
           CAST(SUM(fp_hash % 1000000007) AS BIGINT) AS hash_modsum
    FROM fps GROUP BY doc_id ORDER BY doc_id
"""

ORACLES["dedup_winnowing"] = f"""
    WITH {_winnow_fp_ctes(src=f"({_NEAR_DUP_DOCS})")},
    fpd AS (SELECT DISTINCT doc_id, fp_hash FROM fps),
    dfok AS (SELECT fp_hash FROM fpd GROUP BY fp_hash
             HAVING COUNT(*) <= 20),
    f2 AS (SELECT fpd.doc_id, fpd.fp_hash FROM fpd
           JOIN dfok USING (fp_hash)),
    sz AS (SELECT doc_id, COUNT(*) AS nfp FROM f2 GROUP BY doc_id),
    pr AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
                  COUNT(*) AS shared
           FROM f2 a JOIN f2 b
             ON a.fp_hash = b.fp_hash AND a.doc_id < b.doc_id
           GROUP BY 1, 2 HAVING COUNT(*) >= 8)
    SELECT doc_a, doc_b, shared, sa.nfp AS nfp_a, sb.nfp AS nfp_b,
           CAST((shared * 1000000) // (sa.nfp + sb.nfp - shared)
                AS BIGINT) AS jaccard_ppm
    FROM pr JOIN sz sa ON sa.doc_id = doc_a
    JOIN sz sb ON sb.doc_id = doc_b
    ORDER BY doc_a, doc_b
"""


def multimodal_phash_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Signature-level image near-dup graph
    (``multimodal.phash_pairs_banded``): pHash the synthetic BMP
    corpus, COLLAPSE identical hashes first (representative = min
    media_id, image count carried), then pair the distinct signatures
    by 4-block pigeonhole banding with exact hamming verify at ≤3 —
    the production image-dedup shape: exact-dup groups collapse
    map-side, and the quadratic-risk near-match runs over the
    (tiny) distinct-signature table, never image×image. The synthetic
    raster family makes the collapse extreme (500 images → 28
    signatures), which is exactly the regime the shape is built for.
    The oracle re-derives every hash analytically and brute-forces
    signature-pair hamming."""
    from sales_data_etl_pipeline_spark.operators import multimodal

    base = _docs(spark, sf_dir).select(F.col("doc_id").alias("media_id"))
    hashes = multimodal.phash_images(multimodal.synthesize_bmp(base))
    sigs = ckpt.checkpoint(
        hashes.groupBy("phash")
        .agg(
            F.min("media_id").alias("media_id"),
            F.count(F.lit(1)).alias("n_images"),
        ),
        # consumed 3× (both banded-join sides + the n_images joins);
        # without the cut the synth+DCT kernel re-runs per consumer
        eager=False,
    )
    pairs = multimodal.phash_pairs_banded(sigs, max_hamming=3)
    n = sigs.select("media_id", "n_images")
    return (
        pairs.join(
            n.select(F.col("media_id").alias("id_a"), F.col("n_images").alias("n_a")),
            "id_a",
        )
        .join(
            n.select(F.col("media_id").alias("id_b"), F.col("n_images").alias("n_b")),
            "id_b",
        )
        .select("id_a", "id_b", "hamming", "n_a", "n_b")
        .orderBy("id_a", "id_b")
    )


QUERIES["multimodal_phash_pairs"] = multimodal_phash_pairs

ORACLES["multimodal_phash_pairs"] = f"""
    WITH {_phash_bits_ctes()},
    ph AS (
        SELECT media_id,
               array_to_string(list_transform(generate_series(0, 7), j ->
                   lower(lpad(to_hex(list_aggregate(
                       list_transform(generate_series(0, 7),
                           k -> b[8*j + k + 1] * (1 << (7 - k))),
                       'sum')), 2, '0'))), '') AS phash
        FROM bits),
    sig AS (
        SELECT phash, MIN(media_id) AS media_id,
               COUNT(*) AS n_images
        FROM ph GROUP BY phash),
    sb AS (
        SELECT s.media_id, s.n_images, b.b
        FROM sig s JOIN bits b ON b.media_id = s.media_id),
    ham AS (
        SELECT a.media_id AS id_a, b.media_id AS id_b,
               a.n_images AS n_a, b.n_images AS n_b,
               CAST(list_aggregate(list_transform(generate_series(1, 64),
                   i -> CASE WHEN a.b[i] <> b.b[i] THEN 1 ELSE 0 END),
                   'sum') AS BIGINT) AS hamming
        FROM sb a JOIN sb b ON a.media_id < b.media_id)
    SELECT id_a, id_b, hamming, n_a, n_b FROM ham
    WHERE hamming <= 3 ORDER BY id_a, id_b
"""


def similarity_topk_ivf_trained(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF search over a TRAINED coarse quantizer: the
    ``kmeans_lloyd_int`` codebook (k=8, 1 iteration) feeds
    ``cosine_topk_ivf`` — the oracle-checkable twin of
    ``train_ivf_centroids`` (MLlib KMeans||, float iteration order,
    quality-tested only). Centroid ids offset by 1e6 so the kernel's
    self-centroid exclusion (an artifact of corpus-sampled centroid
    fixtures) can never fire; zero-norm trained centroids are dropped
    — a zero vector cannot own a cosine bucket (Cn would be NaN)."""
    emb = _emb(spark, sf_dir)
    queries = emb.filter(F.col("vec_id") < 10)
    code = similarity.kmeans_lloyd_int(emb, k=8, iterations=1)
    centroids = (
        code.groupBy("centroid_id")
        .agg(
            F.expr(
                "transform(array_sort(collect_list(struct(dim, val))),"
                " s -> cast(s.val as double))"
            ).alias("embedding")
        )
        .filter(F.expr("exists(embedding, x -> x != 0.0d)"))
        .select(
            (F.col("centroid_id") + 1000000).alias("vec_id"), "embedding"
        )
    )
    return similarity.cosine_topk_ivf(emb, queries, centroids, k=5, n_probe=3)


QUERIES["similarity_topk_ivf_trained"] = similarity_topk_ivf_trained


def _ivf_trained_oracle() -> str:
    """The proven similarity_topk_ivf search body with the sampled
    `cent` CTE swapped for the trained integer codebook (shared
    ``_kmeans_ctes`` unrolling, 1 iteration, zero-norm drop)."""
    ctes, final, _ = _kmeans_ctes(8, 64, iterations=1)
    return f"""
        WITH {ctes},
        cent AS (
            SELECT cid + 1000000 AS centroid_id,
                   list_transform(cv, x -> CAST(x AS DOUBLE)) AS cvec
            FROM {final}
            WHERE list_aggregate(list_transform(cv, x -> abs(x)),
                                 'sum') > 0),
        assigned AS (
            SELECT vec_id, embedding, centroid_id FROM (
                SELECT e.vec_id, e.embedding, c.centroid_id,
                       row_number() OVER (PARTITION BY e.vec_id ORDER BY
                           ROUND({_DOT.format(a='c.cvec', b='e.embedding')}
                                 / ({_NORM.format(v='c.cvec')}
                                    * {_NORM.format(v='e.embedding')}), 6) DESC,
                           c.centroid_id) AS rn
                FROM embeddings e, cent c
                WHERE {_LIVE.format(v='e.embedding')}) WHERE rn = 1),
        q AS (SELECT vec_id AS query_id, embedding AS qvec
              FROM embeddings WHERE vec_id < 10
                AND {_LIVE.format(v='embedding')}),
        probes AS (
            SELECT query_id, centroid_id FROM (
                SELECT q.query_id, c.centroid_id,
                       row_number() OVER (PARTITION BY q.query_id ORDER BY
                           ROUND({_DOT.format(a='q.qvec', b='c.cvec')}
                                 / ({_NORM.format(v='q.qvec')}
                                    * {_NORM.format(v='c.cvec')}), 6) DESC,
                           c.centroid_id) AS rank
                FROM cent c, q WHERE c.centroid_id <> q.query_id)
            WHERE rank <= 3),
        cand AS (
            SELECT q.query_id, a.vec_id AS neighbor_id,
                   ROUND({_DOT.format(a='q.qvec', b='a.embedding')}
                         / ({_NORM.format(v='q.qvec')}
                            * {_NORM.format(v='a.embedding')}), 6) AS cosine
            FROM assigned a
            JOIN probes p ON a.centroid_id = p.centroid_id
            JOIN q ON q.query_id = p.query_id
            WHERE a.vec_id <> q.query_id),
        ranked AS (
            SELECT *, row_number() OVER (
                PARTITION BY query_id ORDER BY cosine DESC, neighbor_id) AS rank
            FROM cand)
        SELECT query_id, neighbor_id, cosine, rank FROM ranked WHERE rank <= 5
    """


ORACLES["similarity_topk_ivf_trained"] = _ivf_trained_oracle()


def text_perplexity_buckets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CCNet head/middle/tail perplexity routing
    (``text.perplexity_buckets``): per-language ntile(3) over the
    exact-integer unigram surprisal — the crawl-quality tiering that
    precedes corpus mixing. Deterministic total order (mean_bits_q6,
    doc_id); the oracle shares the unigram_logprob CTE and DuckDB's
    identical ntile arithmetic."""
    return text.perplexity_buckets(_docs(spark, sf_dir)).orderBy("doc_id")


QUERIES["text_perplexity_buckets"] = text_perplexity_buckets

ORACLES["text_perplexity_buckets"] = f"""
    WITH lp AS ({text.unigram_logprob_sql("documents")})
    SELECT lp.doc_id, d.lang, lp.mean_bits_q6,
           CASE ntile(3) OVER (PARTITION BY d.lang
                               ORDER BY lp.mean_bits_q6, lp.doc_id)
                WHEN 1 THEN 'head' WHEN 3 THEN 'tail'
                ELSE 'middle' END AS bucket
    FROM lp JOIN documents d ON d.doc_id = lp.doc_id
    ORDER BY lp.doc_id
"""


def similarity_recall_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ANN evaluation (``similarity.ann_recall``): recall@5 of the
    trained-codebook IVF (``similarity_topk_ivf_trained``) against
    exact brute-force cosine top-5, per query in exact ppm — the
    measured answer to "is n_probe=3 of k=8 lists enough here". Both
    sides are existing gated results; the oracle nests both proven
    oracle bodies and re-derives the intersection."""
    emb = _emb(spark, sf_dir)
    queries = emb.filter(F.col("vec_id") < 10)
    truth = similarity.cosine_topk(emb, queries, k=5)
    approx = similarity_topk_ivf_trained(spark, sf_dir)
    return similarity.ann_recall(truth, approx).orderBy("query_id")


QUERIES["similarity_recall_eval"] = similarity_recall_eval

ORACLES["similarity_recall_eval"] = f"""
    WITH t AS (SELECT query_id, neighbor_id
               FROM ({ORACLES['similarity_topk']})),
    a AS (SELECT query_id, neighbor_id
          FROM ({ORACLES['similarity_topk_ivf_trained']}))
    SELECT t.query_id,
           COUNT(*) AS n_truth,
           CAST(SUM(CASE WHEN a.neighbor_id IS NOT NULL THEN 1 ELSE 0 END)
                AS BIGINT) AS n_hits,
           CAST((SUM(CASE WHEN a.neighbor_id IS NOT NULL THEN 1 ELSE 0 END)
                 * 1000000) // COUNT(*) AS BIGINT) AS recall_ppm
    FROM t LEFT JOIN a
      ON a.query_id = t.query_id AND a.neighbor_id = t.neighbor_id
    GROUP BY t.query_id ORDER BY t.query_id
"""


def graph_label_propagation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LPA communities (``dedup.label_propagation``) over the MinHash
    near-dup graph — finer than connected components (a weak bridge
    between two dense dup-clusters does not merge them), 2 synchronous
    iterations with the deterministic smallest-label tie; the oracle
    unrolls both iterations."""
    pairs = dedup.minhash_lsh_pairs(
        _docs_with_near_dups(spark, sf_dir), threshold=0.5
    )
    return dedup.label_propagation(pairs, iterations=2).orderBy("doc_id")


QUERIES["graph_label_propagation"] = graph_label_propagation


def _lpa_oracle(iterations: int = 2) -> str:
    pairs_body = ORACLES["dedup_minhash_lsh"]
    # MATERIALIZED: DuckDB inlines plain CTEs per reference, which
    # would re-evaluate the MinHash pair build once per unrolled use
    ctes = [
        f"p AS MATERIALIZED ({pairs_body})",
        "e AS MATERIALIZED (SELECT id_a AS src, id_b AS dst FROM p"
        " UNION SELECT id_b, id_a FROM p)",
        "l0 AS (SELECT DISTINCT src AS node, src AS label FROM e)",
    ]
    prev = "l0"
    for i in range(1, iterations + 1):
        ctes.append(
            f"""l{i} AS MATERIALIZED (
            SELECT src AS node, label FROM (
                SELECT e.src, l.label,
                       row_number() OVER (PARTITION BY e.src
                           ORDER BY COUNT(*) DESC, l.label) AS rn
                FROM e JOIN {prev} l ON l.node = e.dst
                GROUP BY e.src, l.label)
            WHERE rn = 1)"""
        )
        prev = f"l{i}"
    joined = ",\n        ".join(ctes)
    return f"""
        WITH {joined}
        SELECT node AS doc_id, label FROM {prev} ORDER BY doc_id
    """


ORACLES["graph_label_propagation"] = _lpa_oracle()


# --- round-10 batch 4: edit-distance dedup, triangles, interval join,
# --- Z-order layout ----------------------------------------------------------


def _docs_with_dup_families(spark, sf_dir) -> DataFrame:
    """documents ∪ TWO truncated copies of every 20th doc (id+10000 cut
    30 chars, id+20000 cut 15) — three mutually-similar docs per
    family, the fixture that guarantees triangle structure in the
    near-dup graph (pair fixtures only ever build 2-cliques)."""
    docs = _docs(spark, sf_dir).select("doc_id", "text")
    c1 = docs.filter(F.col("doc_id") % 20 == 0).select(
        (F.col("doc_id") + 10000).alias("doc_id"),
        F.expr("substring(text, 1, greatest(length(text) - 30, 1))").alias("text"),
    )
    c2 = docs.filter(F.col("doc_id") % 20 == 0).select(
        (F.col("doc_id") + 20000).alias("doc_id"),
        F.expr("substring(text, 1, greatest(length(text) - 15, 1))").alias("text"),
    )
    return docs.unionByName(c1).unionByName(c2)


_DUP_FAMILY_DOCS = """
    SELECT doc_id, text FROM documents
    UNION ALL
    SELECT doc_id + 10000 AS doc_id,
           substring(text, 1, greatest(length(text) - 30, 1)) AS text
    FROM documents WHERE doc_id % 20 = 0
    UNION ALL
    SELECT doc_id + 20000 AS doc_id,
           substring(text, 1, greatest(length(text) - 15, 1)) AS text
    FROM documents WHERE doc_id % 20 = 0
"""


def dedup_levenshtein(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Edit-distance near-dup pairs (``dedup.levenshtein_pairs``) —
    prefix-blocked record linkage: md5(first-16-chars) block key +
    the |len diff| ≤ max_dist lower bound gate the O(cap²) DP; blocks
    over 50 docs are dropped whole (boilerplate-prefix cap, the
    bounded-reducer discipline). The id+10000 truncated copies sit 30
    deletions from their source — inside max_dist=40 — and share the
    16-char prefix, so every family pairs; sim_ppm is the shared
    trunc-div convention on the capped lengths."""
    docs = _docs_with_near_dups(spark, sf_dir)
    return dedup.levenshtein_pairs(docs).orderBy("doc_a", "doc_b")


QUERIES["dedup_levenshtein"] = dedup_levenshtein


def _lev_pair_ctes(src: str, prefix_len: int = 16, max_dist: int = 40,
                   cap: int = 600, max_block: int = 50) -> str:
    """DuckDB twin of ``dedup.levenshtein_pairs``: ends with
    ``lp(doc_a, doc_b, lev_dist, len_a, len_b)``."""
    return f"""
        lt AS (SELECT doc_id,
                      md5(substr(text, 1, {prefix_len})) AS blk,
                      substr(text, 1, {cap}) AS t,
                      length(substr(text, 1, {cap})) AS len
               FROM ({src}) WHERE length(text) >= 1),
        lok AS (SELECT blk FROM lt GROUP BY blk
                HAVING COUNT(*) <= {max_block}),
        ltt AS (SELECT lt.* FROM lt JOIN lok USING (blk)),
        lp AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
                      levenshtein(a.t, b.t) AS lev_dist,
                      a.len AS len_a, b.len AS len_b
               FROM ltt a JOIN ltt b
                 ON a.blk = b.blk AND a.doc_id < b.doc_id
               WHERE abs(a.len - b.len) <= {max_dist}
                 AND levenshtein(a.t, b.t) <= {max_dist})"""


ORACLES["dedup_levenshtein"] = f"""
    WITH {_lev_pair_ctes(_NEAR_DUP_DOCS)}
    SELECT doc_a, doc_b, lev_dist, len_a, len_b,
           CAST((greatest(len_a, len_b) - lev_dist) * 1000000
                // greatest(len_a, len_b) AS BIGINT) AS sim_ppm
    FROM lp ORDER BY doc_a, doc_b
"""


def graph_triangle_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-node triangle counts (``dedup.triangle_counts``) over the
    edit-distance near-dup graph on the THREE-copy family fixture —
    each family {orig, cut-30, cut-15} is a 3-clique (cut-30 is a
    prefix of cut-15 at distance 15), so the degree-oriented
    wedge-close pipeline has real triangles to find; bridge-free nodes
    report an explicit 0. The oracle closes triangles the naive a<b<c
    way — the oriented plan must match it exactly."""
    pairs = dedup.levenshtein_pairs(_docs_with_dup_families(spark, sf_dir))
    return (
        dedup.triangle_counts(
            pairs, id_a="doc_a", id_b="doc_b"
        ).orderBy("node")
    )


QUERIES["graph_triangle_count"] = graph_triangle_count

ORACLES["graph_triangle_count"] = f"""
    WITH {_lev_pair_ctes(_DUP_FAMILY_DOCS)},
    e AS MATERIALIZED (SELECT doc_a AS u, doc_b AS v FROM lp
          UNION SELECT doc_b, doc_a FROM lp),
    tr AS (SELECT ab.u AS a, ab.v AS b, bc.v AS c
           FROM e ab
           JOIN e bc ON bc.u = ab.v AND ab.v < bc.v
           JOIN e ac ON ac.u = ab.u AND ac.v = bc.v
           WHERE ab.u < ab.v),
    pn AS (SELECT node, COUNT(*) AS n_triangles FROM (
               SELECT a AS node FROM tr
               UNION ALL SELECT b FROM tr
               UNION ALL SELECT c FROM tr)
           GROUP BY node)
    SELECT n.u AS node, COALESCE(pn.n_triangles, 0) AS n_triangles
    FROM (SELECT DISTINCT u FROM e) n
    LEFT JOIN pn ON pn.node = n.u
    ORDER BY node
"""


def events_interval_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Interval-overlap join (``temporal.interval_overlap_join``):
    gap-30min user sessions (closed intervals) × globally hot hours
    (≥20 events, half-open [h, h+3600)) — "which sessions ran during
    peak load". Both sides explode to covered hour buckets and
    equi-join on the bucket id; the exact overlap predicate and length
    run after the hash join. The oracle is the plain inequality join —
    bucketing must lose nothing."""
    from pyspark.sql import Window

    ev = _events(spark, sf_dir).select(
        "event_id", "user_id", F.floor(epoch_seconds("ts")).alias("es")
    )
    w = Window.partitionBy("user_id").orderBy("es", "event_id")
    marked = ev.withColumn("_prev", F.lag("es").over(w)).withColumn(
        "_new",
        (F.col("_prev").isNull() | ((F.col("es") - F.col("_prev")) > 1800)).cast(
            "long"
        ),
    )
    sessions = (
        marked.withColumn("session_idx", F.sum("_new").over(w))
        .groupBy("user_id", "session_idx")
        .agg(F.min("es").alias("s_start"), F.max("es").alias("s_end"))
    )
    hot = (
        ev.groupBy((F.col("es") - F.col("es") % 3600).alias("w_start"))
        .agg(F.count(F.lit(1)).alias("n_ev"))
        .filter(F.col("n_ev") >= 20)
        .select("w_start", (F.col("w_start") + 3600).alias("w_end"))
    )
    joined = temporal.interval_overlap_join(
        sessions,
        hot,
        bucket_seconds=3600,
        l_start="s_start",
        l_end="s_end",
        r_start="w_start",
        r_end="w_end",
    )
    return joined.select(
        "user_id", "session_idx", "s_start", "s_end", "w_start", "overlap_s"
    ).orderBy("user_id", "session_idx", "w_start")


QUERIES["events_interval_join"] = events_interval_join

ORACLES["events_interval_join"] = """
    WITH ev AS (SELECT event_id, user_id,
                       CAST(floor(epoch(ts)) AS BIGINT) AS es
                FROM events),
    m AS (SELECT user_id, es, event_id,
                 CASE WHEN lag(es) OVER w IS NULL
                           OR es - lag(es) OVER w > 1800
                      THEN 1 ELSE 0 END AS new_s
          FROM ev WINDOW w AS (PARTITION BY user_id
                               ORDER BY es, event_id)),
    s AS (SELECT user_id,
                 SUM(new_s) OVER (PARTITION BY user_id
                                  ORDER BY es, event_id) AS session_idx,
                 es
          FROM m),
    sess AS (SELECT user_id, CAST(session_idx AS BIGINT) AS session_idx,
                    MIN(es) AS s_start, MAX(es) AS s_end
             FROM s GROUP BY user_id, session_idx),
    hot AS (SELECT es - es % 3600 AS w_start
            FROM ev GROUP BY 1 HAVING COUNT(*) >= 20)
    SELECT user_id, session_idx, s_start, s_end, w_start,
           least(s_end, w_start + 3600)
               - greatest(s_start, w_start) AS overlap_s
    FROM sess JOIN hot
      ON s_start < w_start + 3600 AND s_end >= w_start
    ORDER BY user_id, session_idx, w_start
"""


def table_zorder_layout(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Z-order write layout (``layout.zorder_file_stats``, Morton 1966
    — the Delta/Iceberg OPTIMIZE ZORDER BY shape): lineitem rows
    ordered by the bit-interleaved (l_partkey, l_suppkey) Morton code,
    div-NTILEd into 16 files, per-file min/max envelopes emitted —
    the parquet-footer stats that make the layout's point-filter
    skipping measurable. Pure int64 bit arithmetic (JVM codegen, no
    UDF); the oracle runs the byte-same interleave via the dual-dialect
    expression generator. At 100 TB the same total order feeds
    repartitionByRange directly."""
    from sales_data_etl_pipeline_spark.operators import layout

    li = load_testdata(spark, sf_dir, ("lineitem",))["lineitem"]
    return layout.zorder_file_stats(
        li,
        "l_partkey",
        "l_suppkey",
        ["l_orderkey", "l_linenumber"],
        n_files=16,
    )


QUERIES["table_zorder_layout"] = table_zorder_layout


def _zorder_oracle() -> str:
    from sales_data_etl_pipeline_spark.operators import layout

    z = layout.zorder_expr("l_partkey", "l_suppkey", dialect="duckdb")
    return f"""
        WITH z AS (SELECT l_partkey, l_suppkey,
                          CAST({z} AS BIGINT) AS _z,
                          row_number() OVER (ORDER BY CAST({z} AS BIGINT),
                              l_partkey, l_suppkey, l_orderkey,
                              l_linenumber) AS rk
                   FROM lineitem),
        n AS (SELECT COUNT(*) AS n FROM z)
        SELECT (rk - 1) * 16 // n + 1 AS file_id,
               COUNT(*) AS n_rows,
               MIN(l_partkey) AS min_l_partkey,
               MAX(l_partkey) AS max_l_partkey,
               MIN(l_suppkey) AS min_l_suppkey,
               MAX(l_suppkey) AS max_l_suppkey,
               MIN(_z) AS min_z, MAX(_z) AS max_z
        FROM z, n GROUP BY 1 ORDER BY 1
    """


ORACLES["table_zorder_layout"] = _zorder_oracle()


def embedding_pca_power(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact-integer power iteration for the corpus' top principal
    direction (``similarity.pca_power_int``): 2 rounds of u = X·v
    (broadcast dot, zero shuffle) and w = Xᵀ·u (one dim-keyed hash
    aggregate), rescaled to the ±127 grid by trunc-div each round —
    distributed linear algebra as aggregations, driver state one
    dim-length vector per round. The oracle unrolls both rounds and
    must match bit-for-bit."""
    emb = _emb(spark, sf_dir).select("vec_id", "embedding")
    return similarity.pca_power_int(emb, iterations=2).orderBy("dim")


QUERIES["embedding_pca_power"] = embedding_pca_power


def _pca_power_oracle(dim: int = 64, iterations: int = 2) -> str:
    """DuckDB unrolling of ``pca_power_int`` — same grid, same
    all-ones v0, same trunc-div (DuckDB ``//``) ±127 rescale, same
    all-zero degenerate mapping."""
    parts = [
        f"""g AS (
            SELECT vec_id AS vid,
                   list_transform(embedding, x -> least(greatest(
                       CAST(floor(CAST(x AS DOUBLE) * 16 + 0.5) AS BIGINT),
                       -127), 127)) AS gv
            FROM embeddings
            WHERE {_PQ_FINITE.format(v='embedding')})""",
        f"""v0 AS (
            SELECT t.j, CAST(1 AS BIGINT) AS val
            FROM UNNEST(generate_series(1, {dim})) AS t(j))""",
    ]
    prev = "v0"
    for i in range(1, iterations + 1):
        parts.append(
            f"""u{i} AS (
            SELECT g.vid, SUM(g.gv[v.j] * v.val) AS u
            FROM g CROSS JOIN {prev} v GROUP BY g.vid)"""
        )
        parts.append(
            f"""w{i} AS (
            SELECT t.j, SUM(g.gv[t.j] * u{i}.u) AS w
            FROM g JOIN u{i} ON u{i}.vid = g.vid,
                 UNNEST(generate_series(1, {dim})) AS t(j)
            GROUP BY t.j)"""
        )
        parts.append(
            f"""m{i} AS (
            SELECT COALESCE(MAX(ABS(w)), 0) AS m FROM w{i})"""
        )
        parts.append(
            f"""v{i} AS (
            SELECT j, CAST(CASE WHEN m = 0 THEN 0
                           ELSE (w * 127) // m END AS BIGINT) AS val
            FROM w{i}, m{i})"""
        )
        prev = f"v{i}"
    joined = ",\n        ".join(parts)
    return f"""
        WITH {joined}
        SELECT j - 1 AS dim, val FROM {prev} ORDER BY dim
    """


ORACLES["embedding_pca_power"] = _pca_power_oracle()


# --- round-10 batch 5: k-core, binary-Hamming ANN, CMS heavy hitters,
# --- DSIR importance weights, XML source round trip --------------------------


def graph_kcore(spark: SparkSession, sf_dir: str) -> DataFrame:
    """2-core of the MinHash near-dup graph (``dedup.kcore_decompose``)
    on the three-copy family fixture: each family {orig, cut-30,
    cut-15} is a 3-clique whose members all keep degree 2, so families
    survive peeling while incidental pairwise matches and chain ends
    are stripped — the density filter that separates dup FAMILIES from
    noise. MinHash pairs are the base (the LPA gate's convention — the
    graph op is under test, and the banded pair build is 4× cheaper
    than the edit-distance DP the levenshtein/triangle gates
    deliberately pay). The oracle unrolls six peel rounds; the
    kernel's observed fixed point must land inside them."""
    pairs = dedup.minhash_lsh_pairs(
        _docs_with_dup_families(spark, sf_dir), threshold=0.5
    )
    return dedup.kcore_decompose(pairs, k=2, max_iterations=6).orderBy(
        "doc_id"
    )


QUERIES["graph_kcore"] = graph_kcore


def _kcore_oracle(k: int = 2, rounds: int = 6) -> str:
    pairs_body = ORACLES["dedup_minhash_lsh"].replace(
        _NEAR_DUP_DOCS, _DUP_FAMILY_DOCS
    )
    # MATERIALIZED: DuckDB inlines plain CTEs per reference — e is
    # referenced twice per unrolled round, which re-evaluates the
    # whole MinHash pair build up to 12× (measured 400 s vs 4 s)
    ctes = [
        f"p AS MATERIALIZED ({pairs_body})",
        "e AS MATERIALIZED (SELECT id_a AS u, id_b AS v FROM p"
        " UNION SELECT id_b, id_a FROM p)",
        "a0 AS (SELECT DISTINCT u FROM e)",
    ]
    prev = "a0"
    for i in range(1, rounds + 1):
        ctes.append(
            f"""a{i} AS MATERIALIZED (
            SELECT e.u, COUNT(*) AS d FROM e
            JOIN {prev} x ON e.u = x.u
            JOIN {prev} y ON e.v = y.u
            GROUP BY e.u HAVING COUNT(*) >= {k})"""
        )
        prev = f"a{i}"
    joined = ",\n    ".join(ctes)
    return f"""
        WITH {joined}
        SELECT u AS doc_id, CAST(d AS BIGINT) AS core_degree
        FROM {prev} ORDER BY doc_id
    """


ORACLES["graph_kcore"] = _kcore_oracle()


def similarity_topk_hamming(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Binary-quantized ANN (``similarity.hamming_topk``): 60
    hyperplane sign bits packed into one int64, pigeonhole-banded into
    4×15-bit slices for candidates, ranked by exact
    ``bit_count(xor)`` Hamming distance — the 32×-compression
    retrieval tier. Same query set as the other ANN gates so recall
    is directly comparable."""
    emb = _emb(spark, sf_dir)
    queries = emb.filter(F.col("vec_id") < 10)
    return similarity.hamming_topk(
        emb, queries, k=5, planes=60, bands=4, dim=64
    ).orderBy("query_id", "rank")


QUERIES["similarity_topk_hamming"] = similarity_topk_hamming


def _ann_hamming_oracle(
    planes: int = 60, bands: int = 4, dim: int = 64, k: int = 5
) -> str:
    """DuckDB twin of ``similarity.hamming_topk`` — same hyperplanes,
    fold + 6dp-round sign convention, int64 bit packing, band slices,
    and (hamming, id) rank order."""
    R = similarity.hyperplane_signs(planes, dim)
    bits_per = planes // bands
    mask = (1 << bits_per) - 1

    def proj(b: int) -> str:
        return " + ".join(
            f"CAST(embedding[{i + 1}] AS DOUBLE) * {R[b][i]:.1f}"
            for i in range(dim)
        )

    # one UNION ALL branch per plane, then an exact-integer SUM: a
    # single 60-term chain of 64-term projection chains exceeds
    # DuckDB's 128-deep expression binder; per-branch depth stays ~64
    # and the cross-plane fold is integer (order-free) aggregation
    plane_rows = " UNION ALL ".join(
        f"SELECT vec_id, CASE WHEN round({proj(b)}, 6) >= 0"
        f" THEN CAST({1 << b} AS BIGINT) ELSE 0 END AS pw FROM e"
        for b in range(planes)
    )
    band_selects = " UNION ALL ".join(
        f"SELECT vec_id, word, {b} AS band,"
        f" (word >> {bits_per * b}) & {mask} AS bkey FROM w"
        for b in range(bands)
    )
    live = _LIVE.format(v="embedding")
    ctes = f"""e AS (SELECT * FROM embeddings WHERE {live}),
        pl AS ({plane_rows}),
        w AS (SELECT vec_id, CAST(SUM(pw) AS BIGINT) AS word
              FROM pl GROUP BY vec_id),
        bw AS ({band_selects}),
        qs AS (SELECT * FROM bw WHERE vec_id < 10),
        cand AS (
            SELECT DISTINCT q.vec_id AS query_id, c.vec_id AS neighbor_id,
                   q.word AS qw, c.word AS cw
            FROM bw c JOIN qs q
              ON c.band = q.band AND c.bkey = q.bkey
             AND c.vec_id <> q.vec_id),
        scored AS (
            SELECT query_id, neighbor_id,
                   bit_count(xor(qw, cw)) AS hamming
            FROM cand),
        ranked AS (
            SELECT *, row_number() OVER (
                PARTITION BY query_id ORDER BY hamming, neighbor_id) AS rank
            FROM scored)"""
    return f"""
        WITH {ctes}
        SELECT query_id, neighbor_id, hamming, rank FROM ranked
        WHERE rank <= {k} ORDER BY query_id, rank
    """ if k is not None else ctes


ORACLES["similarity_topk_hamming"] = _ann_hamming_oracle()


def events_heavy_hitters_cms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Count-min-sketch heavy hitters (``temporal.cms_heavy_hitters``)
    over event user_ids: a 3×64 counter grid estimates per-user counts
    in bounded memory; the top 20 by estimate carry the exact count
    alongside so est ≥ exact (overestimate-only) is hash-checked by
    the oracle, not merely asserted."""
    return temporal.cms_heavy_hitters(
        _events(spark, sf_dir), key_col="user_id", depth=3, width=64, top=20
    )


QUERIES["events_heavy_hitters_cms"] = events_heavy_hitters_cms


def _cms_oracle(depth: int = 3, width: int = 64, top: int = 20) -> str:
    h = (
        "(CAST('0x' || substr(md5(CAST(r AS VARCHAR) || ':' ||"
        f" CAST(key AS VARCHAR)), 1, 15) AS BIGINT) % {width})"
    )
    rs = ", ".join(str(r) for r in range(depth))
    return f"""
        WITH k AS (SELECT user_id AS key FROM events
                   WHERE user_id IS NOT NULL),
        fan AS (SELECT key, r, {h} AS bucket
                FROM k, UNNEST([{rs}]) AS t(r)),
        g AS (SELECT r, bucket, COUNT(*) AS cnt FROM fan GROUP BY r, bucket),
        ex AS (SELECT key, COUNT(*) AS exact FROM k GROUP BY key),
        probes AS (SELECT key, exact, r, {h} AS bucket
                   FROM ex, UNNEST([{rs}]) AS t(r)),
        est AS (SELECT key, exact, MIN(cnt) AS est
                FROM probes JOIN g USING (r, bucket)
                GROUP BY key, exact)
        SELECT key, CAST(est AS BIGINT) AS est, CAST(exact AS BIGINT) AS exact
        FROM est ORDER BY est DESC, key LIMIT {top}
    """


ORACLES["events_heavy_hitters_cms"] = _cms_oracle()


def corpus_dsir_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DSIR importance weights (``corpus.dsir_weights``): hashed-bigram
    log-likelihood ratio of the lang='en' target slice vs the whole
    corpus, quantized to micro-bits per BUCKET before the per-doc
    integer sum — the data-selection score that importance-resamples a
    raw crawl toward a target domain."""
    return corpus.dsir_weights(
        _docs(spark, sf_dir), target_lang="en", width=1024
    ).orderBy("doc_id")


QUERIES["corpus_dsir_weights"] = corpus_dsir_weights


def _dsir_oracle(width: int = 1024, target_lang: str = "en") -> str:
    toks = _TOKS.format(col="text")
    bigrams = (
        f"CASE WHEN len({toks}) < 2 THEN [] "
        f"ELSE list_transform(generate_series(1, len({toks}) - 1), "
        f"i -> {toks}[i] || ' ' || {toks}[i + 1]) END"
    )
    return f"""
        WITH bg AS (
            SELECT doc_id, lang = '{target_lang}' AS is_t,
                   (CAST('0x' || substr(md5(b), 1, 15) AS BIGINT) % {width})
                       AS bucket
            FROM (SELECT doc_id, lang, UNNEST({bigrams}) AS b
                  FROM documents)),
        model AS (SELECT bucket, COUNT(*) AS s_cnt,
                         SUM(CASE WHEN is_t THEN 1 ELSE 0 END) AS t_cnt
                  FROM bg GROUP BY bucket),
        tot AS (SELECT SUM(s_cnt) AS s_total, SUM(t_cnt) AS t_total
                FROM model),
        lr AS (SELECT bucket,
                      CAST(floor((log2((t_cnt + 1) /
                                CAST(t_total + {width} AS DOUBLE))
                              - log2((s_cnt + 1) /
                                CAST(s_total + {width} AS DOUBLE)))
                             * 1000000 + 0.5) AS BIGINT) AS lr_q6
               FROM model, tot),
        per_doc AS (SELECT doc_id, bucket, COUNT(*) AS occ
                    FROM bg GROUP BY doc_id, bucket)
        SELECT doc_id,
               CAST(SUM(occ) AS BIGINT) AS n_bigrams,
               CAST(SUM(occ * lr_q6) AS BIGINT) AS dsir_q6
        FROM per_doc JOIN lr USING (bucket)
        GROUP BY doc_id ORDER BY doc_id
    """


ORACLES["corpus_dsir_weights"] = _dsir_oracle()


def source_xml_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """XML sink→source round trip (Spark 4 built-in ``xml`` format,
    ``sources/xml.py``): write the documents table as row-tagged XML,
    read it back with the EXPLICIT schema and
    ``ignoreSurroundingSpaces=false`` (whitespace is data), and
    aggregate — the oracle computes the same aggregate from the
    parquet, so any loss in the round trip (entity escaping,
    whitespace trimming, empty-vs-null flips) breaks the hash."""
    import os
    import tempfile

    from sales_data_etl_pipeline_spark.sources import xml

    docs = _docs(spark, sf_dir)
    tag = sf_dir.strip("/").replace("/", "_")
    path = os.path.join(tempfile.gettempdir(), f"xml_gate_{tag}", "docs")
    xml.write_xml(
        docs, path, row_tag="doc", root_tag="docs", max_records_per_file=200
    )
    back = xml.read_xml(spark, path, docs.schema, row_tag="doc")
    return (
        back.filter(F.col(xml.CORRUPT_COL).isNull())
        .groupBy("lang")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_chars").alias("sum_chars"),
            F.sum(F.length("text")).alias("sum_text_len"),
            F.count_distinct("source").alias("n_sources"),
        )
        .orderBy("lang")
    )


QUERIES["source_xml_roundtrip"] = source_xml_roundtrip
ORACLES["source_xml_roundtrip"] = ORACLES["source_jsonl_roundtrip"]


# --- round-10 batch 6: BPE merge training, link prediction,
# --- stupid-backoff holdout scoring ------------------------------------------


def text_bpe_train(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First 3 BPE merge rules learned from the corpus
    (``text.bpe_train_merges``): per round, one vocab-sized
    gaps-and-islands window pass applies the leftmost-greedy merge and
    a 1-row aggregate picks the next winner — the tokenizer-training
    recipe whose only corpus-sized stage is the word count. The oracle
    unrolls all three rounds with the identical window formulation."""
    return text.bpe_train_merges(_docs(spark, sf_dir), n_merges=3).orderBy(
        "merge_rank"
    )


QUERIES["text_bpe_train"] = text_bpe_train
ORACLES["text_bpe_train"] = text.bpe_train_merges_sql("documents", n_merges=3)


def graph_link_prediction(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Jaccard-coefficient link prediction
    (``dedup.link_prediction_jaccard``) over the edit-distance
    near-dup graph on the three-copy family fixture, with the
    orig↔cut-30 edge of every 3rd family DELIBERATELY dropped — the
    planted recall holes a blocking/banding stage would leave. Each
    hole's endpoints still share the family's third member, so the
    dropped edges come back as predicted links (the recall-audit
    signal); intact 3-cliques have no non-edges and predict nothing.
    min_common=1, wedge centers capped at degree 50."""
    pairs = dedup.levenshtein_pairs(
        _docs_with_dup_families(spark, sf_dir)
    ).filter(
        ~((F.col("doc_a") % 60 == 0) & (F.col("doc_b") == F.col("doc_a") + 10000))
    )
    return dedup.link_prediction_jaccard(
        pairs, id_a="doc_a", id_b="doc_b", max_degree=50
    ).orderBy("doc_a", "doc_b")


QUERIES["graph_link_prediction"] = graph_link_prediction
ORACLES["graph_link_prediction"] = f"""
    WITH {_lev_pair_ctes(_DUP_FAMILY_DOCS)},
    lpd AS (SELECT * FROM lp
            WHERE NOT (doc_a % 60 = 0 AND doc_b = doc_a + 10000)),
    e AS MATERIALIZED (SELECT doc_a AS u, doc_b AS v FROM lpd
          UNION SELECT doc_b, doc_a FROM lpd),
    deg AS MATERIALIZED (SELECT u, COUNT(*) AS deg FROM e GROUP BY u),
    ok AS (SELECT u FROM deg WHERE deg <= 50),
    ws AS (SELECT e.u AS c, e.v FROM e JOIN ok ON ok.u = e.u),
    common AS (
        SELECT w1.v AS a, w2.v AS b, COUNT(*) AS common
        FROM ws w1 JOIN ws w2 ON w1.c = w2.c AND w1.v < w2.v
        GROUP BY w1.v, w2.v),
    ne AS (SELECT common.* FROM common
           LEFT JOIN e ON e.u = common.a AND e.v = common.b
           WHERE e.u IS NULL)
    SELECT ne.a AS doc_a, ne.b AS doc_b, CAST(common AS BIGINT) AS common,
           CAST(common * 1000000 // (da.deg + db.deg - common) AS BIGINT)
               AS jaccard_ppm
    FROM ne JOIN deg da ON da.u = ne.a JOIN deg db ON db.u = ne.b
    ORDER BY doc_a, doc_b
"""


def text_trigram_backoff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stupid-backoff trigram scoring (``text.trigram_backoff_score``,
    Brants et al. 2007) of the md5 'val' split against the 'train'
    split's n-gram counts — the held-out LM-quality signal where
    backoff genuinely fires (self-scoring never backs off). Composes
    the gated hash split; counts join on n-gram keys (vocabularies
    outgrow broadcast), surprisal quantized to micro-bits per position
    before the doc sum."""
    split = corpus.hash_split(
        _docs(spark, sf_dir), {"train": 0.8, "val": 0.2}
    )
    train = split.filter(F.col("split") == "train")
    ev = split.filter(F.col("split") == "val")
    return text.trigram_backoff_score(train, ev).orderBy("doc_id")


QUERIES["text_trigram_backoff"] = text_trigram_backoff


def _trigram_backoff_oracle() -> str:
    split_expr = corpus.hash_split_sql({"train": 0.8, "val": 0.2})
    body = text.trigram_backoff_sql("trn_docs", "ev_docs")
    return f"""
        WITH base AS (SELECT doc_id, text, {split_expr} FROM documents),
        trn_docs AS (SELECT text FROM base WHERE split = 'train'),
        ev_docs AS (SELECT doc_id, text FROM base WHERE split = 'val'),
        {body}
        ORDER BY doc_id
    """


ORACLES["text_trigram_backoff"] = _trigram_backoff_oracle()


# --- round-10 batch 7: incremental view maintenance, two-tier rerank,
# --- scene cuts, Matryoshka truncation ---------------------------------------


def table_view_maintain(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental materialized-view maintenance
    (``merge.maintain_agg_view``): a (priority → n_rows, sum cents)
    rollup of orders kept fresh from an I/U/D changelog — updates MOVE
    rows across groups (U rewrites the priority), before-images come
    from a changelog-bounded semi join, the base is never rescanned.
    The oracle is the full recompute over the cdc-applied base: the
    incremental path must equal it exactly (integer cents make the
    sums order-free)."""
    orders = load_testdata(spark, sf_dir, ("orders",))["orders"].select(
        "o_orderkey",
        F.col("o_orderpriority").alias("g"),
        F.expr(
            "cast(floor(o_totalprice * 100 + 0.5) as bigint)"
        ).alias("v"),
    )
    view = orders.groupBy("g").agg(
        F.count(F.lit(1)).alias("n_rows"), F.sum("v").alias("sum_v")
    )
    upd = orders.filter(F.col("o_orderkey") % 10 == 5).select(
        "o_orderkey",
        F.lit("U").alias("op"),
        F.lit(1).alias("seq"),
        F.lit("1-URGENT").alias("g"),
        F.expr(
            "cast(floor(v * 1.1 + 0.5) as bigint)"
        ).alias("v"),
    )
    dele = orders.filter(F.col("o_orderkey") % 10 == 0).select(
        "o_orderkey", F.lit("D").alias("op"), F.lit(1).alias("seq"), "g", "v"
    )
    ins = orders.filter(F.col("o_orderkey") % 25 == 0).select(
        (F.col("o_orderkey") + 9000000).alias("o_orderkey"),
        F.lit("I").alias("op"),
        F.lit(1).alias("seq"),
        F.lit("5-LOW").alias("g"),
        "v",
    )
    changelog = upd.unionByName(dele).unionByName(ins)
    return merge_ops.maintain_agg_view(
        view, orders, changelog, "o_orderkey", group_col="g", value_col="v"
    ).orderBy("g")


QUERIES["table_view_maintain"] = table_view_maintain

_VIEW_MAINT_BASE = """
    SELECT o_orderkey, o_orderpriority AS g,
           CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT) AS v
    FROM orders
"""
_VIEW_MAINT_LOG = """
    SELECT o_orderkey, 'U' AS op, 1 AS seq, '1-URGENT' AS g,
           CAST(floor(v * 1.1 + 0.5) AS BIGINT) AS v
    FROM b WHERE o_orderkey % 10 = 5
    UNION ALL
    SELECT o_orderkey, 'D', 1, g, v FROM b WHERE o_orderkey % 10 = 0
    UNION ALL
    SELECT o_orderkey + 9000000, 'I', 1, '5-LOW', v
    FROM b WHERE o_orderkey % 25 = 0
"""

ORACLES["table_view_maintain"] = (
    f"WITH b AS ({_VIEW_MAINT_BASE}), c AS ({_VIEW_MAINT_LOG}), applied AS ("
    + merge_ops.cdc_apply_sql("b", "c", "o_orderkey", ["o_orderkey", "g", "v"])
    + """)
    SELECT g, COUNT(*) AS n_rows, CAST(SUM(v) AS BIGINT) AS sum_v
    FROM applied GROUP BY g ORDER BY g
    """
)


def similarity_topk_hamming_rerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-tier retrieval (``similarity.hamming_rerank_topk``): the
    packed-word Hamming tier shortlists 20 candidates per query, exact
    cosine re-ranks the shortlist to 5 — float work is bounded by
    |queries|·shortlist no matter the corpus size, the
    binary-quantization serving shape."""
    emb = _emb(spark, sf_dir)
    queries = emb.filter(F.col("vec_id") < 10)
    return similarity.hamming_rerank_topk(
        emb, queries, k=5, shortlist=20, planes=60, bands=4, dim=64
    ).orderBy("query_id", "rank")


QUERIES["similarity_topk_hamming_rerank"] = similarity_topk_hamming_rerank


def _ann_hamming_rerank_oracle(shortlist: int = 20, k: int = 5) -> str:
    ctes = _ann_hamming_oracle(k=None)
    cos = (
        f"ROUND({_DOT.format(a='c.embedding', b='q.embedding')}"
        f" / ({_NORM.format(v='c.embedding')}"
        f" * {_NORM.format(v='q.embedding')}), 6)"
    )
    return f"""
        WITH {ctes},
        short AS (SELECT query_id, neighbor_id FROM ranked
                  WHERE rank <= {shortlist}),
        cosd AS (
            SELECT s.query_id, s.neighbor_id, {cos} AS cosine
            FROM short s
            JOIN e c ON c.vec_id = s.neighbor_id
            JOIN e q ON q.vec_id = s.query_id),
        rr AS (
            SELECT *, row_number() OVER (
                PARTITION BY query_id ORDER BY cosine DESC, neighbor_id)
                AS rank
            FROM cosd)
        SELECT query_id, neighbor_id, cosine, rank FROM rr
        WHERE rank <= {k} ORDER BY query_id, rank
    """


ORACLES["similarity_topk_hamming_rerank"] = _ann_hamming_rerank_oracle()


def multimodal_scene_cuts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Shot-boundary detection (``multimodal.scene_cuts``) over a
    synthetic 12-frame video per media id: frames within a 4-frame
    scene share one generated BMP (hamming 0), scene changes jump the
    generator id — the REAL dHash raster kernel runs per frame, one
    lag window per media compares neighbors. The oracle re-derives
    every frame hash analytically from the generator fill rule (all
    raster rows identical → the 64-bit hash is one byte repeated, so
    hamming = 8 · bit_count of the byte xor)."""
    from sales_data_etl_pipeline_spark.operators import multimodal

    media = (
        _docs(spark, sf_dir)
        .filter(F.col("doc_id") % 10 == 0)
        .select(F.col("doc_id").alias("media_id"))
    )
    fr = media.withColumn(
        "frame_idx", F.explode(F.expr("sequence(0, 11)"))
    ).withColumn(
        "content_id",
        F.col("media_id") + 7777 * (1 + F.expr("frame_idx div 4")),
    )
    payloads = multimodal.synthesize_bmp(
        fr.select(F.col("content_id").alias("media_id")).distinct()
    ).select(F.col("media_id").alias("content_id"), "payload")
    frames = fr.join(payloads, "content_id").select(
        "media_id", "frame_idx", "payload"
    )
    return multimodal.scene_cuts(frames, threshold=8).orderBy(
        "media_id", "frame_idx"
    )


QUERIES["multimodal_scene_cuts"] = multimodal_scene_cuts


def _scene_cuts_oracle(threshold: int = 8) -> str:
    # row_byte for generator id `cid` — the multimodal_dhash analytic
    # derivation with the id substituted
    gray = (
        "list_transform(generate_series(0, 8), x ->"
        " ((cid + 3*((x*(16 + cid % 32))//9)) % 256"
        " + (cid + 3*((x*(16 + cid % 32))//9) + 1) % 256"
        " + (cid + 3*((x*(16 + cid % 32))//9) + 2) % 256) // 3)"
    )
    return f"""
        WITH m AS (SELECT doc_id AS media_id FROM documents
                   WHERE doc_id % 10 = 0),
        fr AS (SELECT media_id, i AS frame_idx,
                      media_id + 7777 * (1 + i // 4) AS cid
               FROM m, UNNEST(generate_series(0, 11)) AS u(i)),
        g AS (SELECT media_id, frame_idx, {gray} AS gray FROM fr),
        rb AS (SELECT media_id, frame_idx,
                      CAST(list_aggregate(list_transform(
                          generate_series(0, 7), x ->
                          CASE WHEN gray[x+2] > gray[x+1]
                               THEN 1 << (7 - x) ELSE 0 END), 'sum')
                           AS BIGINT) AS rbyte
               FROM g),
        l AS (SELECT *, lag(rbyte) OVER (
                  PARTITION BY media_id ORDER BY frame_idx) AS prb
              FROM rb)
        SELECT media_id, frame_idx,
               CAST(8 * bit_count(xor(rbyte, prb)) AS INTEGER) AS hamming,
               8 * bit_count(xor(rbyte, prb)) > {threshold} AS is_cut
        FROM l WHERE prb IS NOT NULL
        ORDER BY media_id, frame_idx
    """


ORACLES["multimodal_scene_cuts"] = _scene_cuts_oracle()


def embedding_matryoshka(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Matryoshka truncation tiers (``embeddings.matryoshka_levels``):
    each vector sliced to its first 16 and 32 dims and re-normalized
    (integer-serialized unit vectors) — one stored embedding serving
    two retrieval cost tiers."""
    from sales_data_etl_pipeline_spark.operators import embeddings as emb_ops

    return emb_ops.matryoshka_levels(_emb(spark, sf_dir), (16, 32)).orderBy(
        "vec_id", "dims"
    )


QUERIES["embedding_matryoshka"] = embedding_matryoshka


def _matryoshka_oracle() -> str:
    from sales_data_etl_pipeline_spark.operators import embeddings as emb_ops

    return (
        "SELECT * FROM ("
        + emb_ops.matryoshka_levels_sql((16, 32))
        + ") ORDER BY vec_id, dims"
    )


ORACLES["embedding_matryoshka"] = _matryoshka_oracle()


# --- round-10 batch 8 (final): BPE apply, Adamic-Adar, shot reps -------------


def text_bpe_apply(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Apply the corpus's own 3 learned BPE merges back to every
    document (``text.bpe_apply_token_counts``): per doc, word count,
    pre-merge symbol (character) count, and post-merge symbol count —
    training's other half, applied by a vocab-sized lookup join, never
    a second merge pass over documents."""
    return text.bpe_apply_token_counts(
        _docs(spark, sf_dir), n_merges=3
    ).orderBy("doc_id")


QUERIES["text_bpe_apply"] = text_bpe_apply
ORACLES["text_bpe_apply"] = (
    text.bpe_apply_token_counts_sql("documents", n_merges=3)
    + " ORDER BY doc_id"
)


# --- round-11: BPE application to unseen text (char-fallback OOV path) -------


_OOV_EVAL_SQL = """(SELECT doc_id,
        CASE WHEN doc_id % 5 = 0
             THEN text || ' zzzoov' || CAST(doc_id AS VARCHAR)
             ELSE text END AS text
    FROM documents)"""


def text_bpe_apply_oov(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BPE application to UNSEEN text (``text.bpe_apply_oov_token_
    counts``): merges train on the document corpus; the eval corpus
    plants a guaranteed-OOV word (``zzzoov<doc_id>``) into every 5th
    document. Every eval word — in-vocab or not — starts from
    characters and replays the learned rules in rank order (the
    char-fallback a deployed tokenizer needs), so in-vocab words keep
    their trained symbol streams while planted words merge only where
    a learned rule happens to match. Oracle: the identical unrolled
    replay over the same planted eval relation."""
    docs = _docs(spark, sf_dir)
    eval_docs = docs.select(
        "doc_id",
        F.when(
            F.col("doc_id") % 5 == 0,
            F.concat(
                F.col("text"),
                F.lit(" zzzoov"),
                F.col("doc_id").cast("string"),
            ),
        )
        .otherwise(F.col("text"))
        .alias("text"),
    )
    return text.bpe_apply_oov_token_counts(
        docs, eval_docs, n_merges=3
    ).orderBy("doc_id")


QUERIES["text_bpe_apply_oov"] = text_bpe_apply_oov
ORACLES["text_bpe_apply_oov"] = (
    text.bpe_apply_oov_token_counts_sql(
        "documents", _OOV_EVAL_SQL, n_merges=3
    )
    + " ORDER BY doc_id"
)


def graph_link_prediction_aa(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Adamic–Adar link prediction
    (``dedup.link_prediction_adamic_adar``) on the same
    planted-hole fixture as the Jaccard gate — shared family members
    down-weighted by their own degree, per-center 1/log2(deg)
    quantized to micro-units before the integer pair sum."""
    pairs = dedup.levenshtein_pairs(
        _docs_with_dup_families(spark, sf_dir)
    ).filter(
        ~((F.col("doc_a") % 60 == 0) & (F.col("doc_b") == F.col("doc_a") + 10000))
    )
    return dedup.link_prediction_adamic_adar(
        pairs, id_a="doc_a", id_b="doc_b", max_degree=50
    ).orderBy("doc_a", "doc_b")


QUERIES["graph_link_prediction_aa"] = graph_link_prediction_aa
ORACLES["graph_link_prediction_aa"] = f"""
    WITH {_lev_pair_ctes(_DUP_FAMILY_DOCS)},
    lpd AS (SELECT * FROM lp
            WHERE NOT (doc_a % 60 = 0 AND doc_b = doc_a + 10000)),
    e AS MATERIALIZED (SELECT doc_a AS u, doc_b AS v FROM lpd
          UNION SELECT doc_b, doc_a FROM lpd),
    deg AS MATERIALIZED (SELECT u, COUNT(*) AS deg FROM e GROUP BY u),
    ctr AS (SELECT u,
                   CAST(floor(1.0 / log2(CAST(deg AS DOUBLE)) * 1000000 + 0.5)
                        AS BIGINT) AS w
            FROM deg WHERE deg >= 2 AND deg <= 50),
    ws AS (SELECT e.u AS c, ctr.w, e.v FROM e JOIN ctr ON ctr.u = e.u),
    common AS (
        SELECT w1.v AS a, w2.v AS b,
               COUNT(*) AS common, CAST(SUM(w1.w) AS BIGINT) AS aa_q6
        FROM ws w1 JOIN ws w2 ON w1.c = w2.c AND w1.v < w2.v
        GROUP BY w1.v, w2.v),
    ne AS (SELECT common.* FROM common
           LEFT JOIN e ON e.u = common.a AND e.v = common.b
           WHERE e.u IS NULL)
    SELECT a AS doc_a, b AS doc_b, common, aa_q6
    FROM ne ORDER BY doc_a, doc_b
"""


def multimodal_shot_reps(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Representative-frame selection (``multimodal.shot_representatives``)
    over the scene-cut gate's synthetic 12-frame videos: shots numbered
    by the running cut count, one representative (first frame) + length
    per shot — the per-shot reduction fed to the expensive vision
    encoder."""
    from sales_data_etl_pipeline_spark.operators import multimodal

    media = (
        _docs(spark, sf_dir)
        .filter(F.col("doc_id") % 10 == 0)
        .select(F.col("doc_id").alias("media_id"))
    )
    fr = media.withColumn(
        "frame_idx", F.explode(F.expr("sequence(0, 11)"))
    ).withColumn(
        "content_id",
        F.col("media_id") + 7777 * (1 + F.expr("frame_idx div 4")),
    )
    payloads = multimodal.synthesize_bmp(
        fr.select(F.col("content_id").alias("media_id")).distinct()
    ).select(F.col("media_id").alias("content_id"), "payload")
    frames = fr.join(payloads, "content_id").select(
        "media_id", "frame_idx", "payload"
    )
    return multimodal.shot_representatives(frames, threshold=8).orderBy(
        "media_id", "shot_idx"
    )


QUERIES["multimodal_shot_reps"] = multimodal_shot_reps


def _shot_reps_oracle(threshold: int = 8) -> str:
    gray = (
        "list_transform(generate_series(0, 8), x ->"
        " ((cid + 3*((x*(16 + cid % 32))//9)) % 256"
        " + (cid + 3*((x*(16 + cid % 32))//9) + 1) % 256"
        " + (cid + 3*((x*(16 + cid % 32))//9) + 2) % 256) // 3)"
    )
    return f"""
        WITH m AS (SELECT doc_id AS media_id FROM documents
                   WHERE doc_id % 10 = 0),
        fr AS (SELECT media_id, i AS frame_idx,
                      media_id + 7777 * (1 + i // 4) AS cid
               FROM m, UNNEST(generate_series(0, 11)) AS u(i)),
        g AS (SELECT media_id, frame_idx, {gray} AS gray FROM fr),
        rb AS (SELECT media_id, frame_idx,
                      CAST(list_aggregate(list_transform(
                          generate_series(0, 7), x ->
                          CASE WHEN gray[x+2] > gray[x+1]
                               THEN 1 << (7 - x) ELSE 0 END), 'sum')
                           AS BIGINT) AS rbyte
               FROM g),
        l AS (SELECT *, lag(rbyte) OVER (
                  PARTITION BY media_id ORDER BY frame_idx) AS prb
              FROM rb),
        cuts AS (SELECT media_id, frame_idx,
                        CASE WHEN prb IS NOT NULL
                              AND 8 * bit_count(xor(rbyte, prb)) > {threshold}
                             THEN 1 ELSE 0 END AS cut
                 FROM l),
        numbered AS (SELECT media_id, frame_idx,
                            SUM(cut) OVER (PARTITION BY media_id
                                ORDER BY frame_idx) AS shot_idx
                     FROM cuts)
        SELECT media_id, CAST(shot_idx AS BIGINT) AS shot_idx,
               MIN(frame_idx) AS rep_frame_idx,
               COUNT(*) AS n_frames
        FROM numbered GROUP BY media_id, shot_idx
        ORDER BY media_id, shot_idx
    """


ORACLES["multimodal_shot_reps"] = _shot_reps_oracle()


# --- round-11: Hamming-tier recall evaluation --------------------------------


def similarity_recall_hamming(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recall@5 of the binary Hamming tier (``similarity_topk_hamming``)
    against exact brute-force cosine top-5 (``similarity_topk``), per
    query in exact ppm — the measured value of the (planes=60,
    bands=4) dial the r10 binary tier shipped asserting but not
    measuring. Composes the gated ``similarity.ann_recall`` harness
    over two already-gated result tables; the oracle nests both proven
    oracle bodies and re-derives the intersection."""
    emb = _emb(spark, sf_dir)
    queries = emb.filter(F.col("vec_id") < 10)
    truth = similarity.cosine_topk(emb, queries, k=5)
    approx = similarity_topk_hamming(spark, sf_dir)
    return similarity.ann_recall(truth, approx).orderBy("query_id")


QUERIES["similarity_recall_hamming"] = similarity_recall_hamming

ORACLES["similarity_recall_hamming"] = f"""
    WITH t AS (SELECT query_id, neighbor_id
               FROM ({ORACLES['similarity_topk']})),
    a AS (SELECT query_id, neighbor_id
          FROM ({ORACLES['similarity_topk_hamming']}))
    SELECT t.query_id,
           COUNT(*) AS n_truth,
           CAST(SUM(CASE WHEN a.neighbor_id IS NOT NULL THEN 1 ELSE 0 END)
                AS BIGINT) AS n_hits,
           CAST((SUM(CASE WHEN a.neighbor_id IS NOT NULL THEN 1 ELSE 0 END)
                 * 1000000) // COUNT(*) AS BIGINT) AS recall_ppm
    FROM t LEFT JOIN a
      ON a.query_id = t.query_id AND a.neighbor_id = t.neighbor_id
    GROUP BY t.query_id ORDER BY t.query_id
"""


# --- round-12: second point of the Hamming recall curve (r11 verdict #7) ----


def similarity_recall_hamming12(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recall@5 of the binary Hamming tier at its SERVING dial —
    (planes=60, bands=12, 5-bit slices) — against exact brute-force
    cosine top-5, per query in exact ppm. Driver-anchors the second
    point of the LSH recall curve the r11 round measured locally
    (0.04 @ 4 bands, the gate's near-dup tripwire dial; 0.24/0.30/0.32
    @ 10/12/15 bands, the serving end users dial toward): more,
    narrower bands → more candidate collisions → higher recall at
    higher candidate cost. Reuses ``similarity.ann_recall`` verbatim
    over the same query set as every other ANN gate (r11 verdict #7)."""
    emb = _emb(spark, sf_dir)
    queries = emb.filter(F.col("vec_id") < 10)
    truth = similarity.cosine_topk(emb, queries, k=5)
    approx = similarity.hamming_topk(
        emb, queries, k=5, planes=60, bands=12, dim=64
    )
    return similarity.ann_recall(truth, approx).orderBy("query_id")


QUERIES["similarity_recall_hamming12"] = similarity_recall_hamming12

ORACLES["similarity_recall_hamming12"] = f"""
    WITH t AS (SELECT query_id, neighbor_id
               FROM ({ORACLES['similarity_topk']})),
    a AS (SELECT query_id, neighbor_id
          FROM ({_ann_hamming_oracle(bands=12)}))
    SELECT t.query_id,
           COUNT(*) AS n_truth,
           CAST(SUM(CASE WHEN a.neighbor_id IS NOT NULL THEN 1 ELSE 0 END)
                AS BIGINT) AS n_hits,
           CAST((SUM(CASE WHEN a.neighbor_id IS NOT NULL THEN 1 ELSE 0 END)
                 * 1000000) // COUNT(*) AS BIGINT) AS recall_ppm
    FROM t LEFT JOIN a
      ON a.query_id = t.query_id AND a.neighbor_id = t.neighbor_id
    GROUP BY t.query_id ORDER BY t.query_id
"""


# --- round-11: append-mode deployment gate for streaming MinHash dedup -------


def streaming_dedup_minhash_append(spark: SparkSession, sf_dir: str) -> DataFrame:
    """APPEND-mode deployment path of ``streaming_dedup_minhash`` —
    the same planted near-dup stream through the same single stateful
    (window, band, sig) aggregation, but emitting ONLY watermark-
    FINALIZED buckets: after the data batch, Spark's no-data
    micro-batch advances the event-time watermark to ``max(ts) − 2h``
    and flushes every window whose end has passed it — the exact
    subset a production append-mode sink (parquet/Kafka) would have
    written, deterministically reproducible because the synthetic
    event time is a pure doc_id function. Windows inside the final
    2h+1h horizon stay in state and are deliberately absent. Oracle:
    the complete-mode banding SQL plus the finalization predicate
    ``win_start + 3600 ≤ max_ts − 7200``."""
    from sales_data_etl_pipeline_spark.streaming import events as streaming

    stream = streaming.stream_documents(spark, sf_dir)
    planted = stream.filter(F.col("doc_id") % 10 == 1).select(
        (F.col("doc_id") + 30000).alias("doc_id"), "text", "ts"
    ).unionByName(
        stream.filter(F.col("doc_id") % 20 == 0).select(
            (F.col("doc_id") + 10000).alias("doc_id"),
            F.expr(
                "substring(text, 1, greatest(length(text) - 30, 1))"
            ).alias("text"),
            "ts",
        )
    )
    buckets = streaming.minhash_band_buckets(
        stream.unionByName(planted)
    )
    out = streaming.run_stream_to_memory(
        buckets, "q_stream_minhash_append", output_mode="append"
    )
    return (
        out.filter(F.col("n_docs") >= 2)
        .orderBy("win_start", "band", "sig")
    )


QUERIES["streaming_dedup_minhash_append"] = streaming_dedup_minhash_append

# the planted ids stay congruent mod 10000 at gate scales, so the
# stream's max event time equals the base table's
ORACLES["streaming_dedup_minhash_append"] = f"""
    SELECT * FROM ({ORACLES['streaming_dedup_minhash']})
    WHERE win_start + 3600 <=
          (SELECT MAX((doc_id % 10000) * 60) FROM documents) - 7200
    ORDER BY win_start, band, sig
"""
