"""Corpus-management operators for training-data pipelines (extension
layer): deterministic train/val/test splits, stratified sampling, and
token-budget sharding via a distributed prefix sum.

The reference has no corpus layer; these extend the engine toward the
100 TB training-data use case alongside ``operators.dedup`` /
``operators.text``.

Determinism convention: assignment decisions derive from
``md5(cast(id as string))`` buckets (see ``dedup.hash_id_expr``) — no
RNG, no seed state, bit-identical in Spark and DuckDB, and stable under
repartitioning / re-runs / incremental appends (a document keeps its
split forever, which is exactly what train/test hygiene needs).

Scale notes:

- Splits and sampling are pure projections/filters — embarrassingly
  parallel, no shuffle, fully inside whole-stage codegen.
- Token-budget sharding needs a GLOBAL running total, which a naive
  ``Window.orderBy(id)`` computes on a single partition — the classic
  scale trap. ``shard_by_token_budget`` implements the textbook
  distributed scan instead: range-repartition, per-partition totals to
  the driver (|partitions| rows), broadcast offsets back, then a
  partition-local window. Every stage is bounded by |partitions|, not
  |rows|.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from sales_data_etl_pipeline_spark.operators import ckpt
from sales_data_etl_pipeline_spark.operators.dedup import hash_id_expr, hash_id_sql

#: Bucket granularity for split/sample fractions (resolution 0.01%).
HASH_BUCKETS = 10_000


def hash_bucket(id_col: str = "doc_id") -> Column:
    """Deterministic bucket in [0, HASH_BUCKETS) from md5 of the id."""
    return F.expr(hash_id_expr(f"cast({id_col} as string)", HASH_BUCKETS))


def hash_bucket_sql(id_col: str = "doc_id") -> str:
    """DuckDB twin of :func:`hash_bucket` (same value, same type)."""
    return hash_id_sql(f"CAST({id_col} AS VARCHAR)", HASH_BUCKETS)


def _cut_points(splits: dict[str, float]) -> list[tuple[str, int]]:
    """(name, upper_bucket_bound) for every split but the last; the last
    split takes the remainder so fractions need not sum to exactly 1."""
    bounds, acc = [], 0.0
    names = list(splits)
    for name in names[:-1]:
        acc += splits[name]
        bounds.append((name, int(round(acc * HASH_BUCKETS))))
    return bounds


def hash_split(
    df: DataFrame,
    splits: dict[str, float],
    *,
    id_col: str = "doc_id",
    split_col: str = "split",
) -> DataFrame:
    """Deterministic dataset split: adds ``split_col`` with the name of
    the split the row's md5-bucket falls into.

    ``splits`` is ordered ``{name: fraction}``; the last split absorbs
    rounding remainder. A row's assignment depends only on its id, so
    splits are stable across runs, engines, and data layout.
    """
    bucket = hash_bucket(id_col)
    names = list(splits)
    out: Column | None = None
    for name, ub in _cut_points(splits):
        cond = bucket < F.lit(ub)
        out = F.when(cond, name) if out is None else out.when(cond, name)
    assignment = F.lit(names[-1]) if out is None else out.otherwise(names[-1])
    return df.withColumn(split_col, assignment)


def hash_split_sql(
    splits: dict[str, float], *, id_col: str = "doc_id", split_col: str = "split"
) -> str:
    """DuckDB CASE expression equivalent to :func:`hash_split`."""
    b = hash_bucket_sql(id_col)
    names = list(splits)
    whens = " ".join(
        f"WHEN {b} < {ub} THEN '{name}'" for name, ub in _cut_points(splits)
    )
    if not whens:
        return f"'{names[-1]}' AS {split_col}"
    return f"CASE {whens} ELSE '{names[-1]}' END AS {split_col}"


def stratified_sample(
    df: DataFrame,
    fractions: dict[str, float],
    *,
    strata_col: str,
    id_col: str = "doc_id",
    default_fraction: float = 0.0,
) -> DataFrame:
    """Deterministic per-stratum sample: keep a row iff its md5-bucket is
    below ``fraction[stratum] * HASH_BUCKETS``.

    Exact in expectation per stratum, deterministic in fact — re-running
    or appending data never flips a kept row to dropped. Strata absent
    from ``fractions`` use ``default_fraction``.
    """
    thr: Column | None = None
    for stratum, frac in fractions.items():
        cond = F.col(strata_col) == stratum
        ub = F.lit(int(round(frac * HASH_BUCKETS)))
        thr = F.when(cond, ub) if thr is None else thr.when(cond, ub)
    default_ub = F.lit(int(round(default_fraction * HASH_BUCKETS)))
    thr = default_ub if thr is None else thr.otherwise(default_ub)
    return df.filter(hash_bucket(id_col) < thr)


def stratified_sample_sql(
    fractions: dict[str, float],
    *,
    strata_col: str,
    id_col: str = "doc_id",
    default_fraction: float = 0.0,
) -> str:
    """DuckDB WHERE predicate equivalent to :func:`stratified_sample`."""
    b = hash_bucket_sql(id_col)
    whens = " ".join(
        f"WHEN {strata_col} = '{s}' THEN {int(round(f * HASH_BUCKETS))}"
        for s, f in fractions.items()
    )
    default_ub = int(round(default_fraction * HASH_BUCKETS))
    case = f"CASE {whens} ELSE {default_ub} END" if whens else str(default_ub)
    return f"{b} < ({case})"


def shard_by_token_budget(
    df: DataFrame,
    budget: int,
    *,
    id_col: str = "doc_id",
    tokens_col: str = "n_tokens",
    shard_col: str = "shard_id",
) -> DataFrame:
    """Assign rows (in ``id_col`` order) to contiguous shards of roughly
    ``budget`` tokens: ``shard = exclusive_prefix_sum(tokens) div budget``
    — a document lands in the shard where its first token falls.

    This is the deterministic sharding step before sequence packing in a
    training-data pipeline. The global prefix sum runs as a distributed
    scan (see module docstring): no stage touches more than
    |partitions| driver-side rows, and no single-partition window exists
    anywhere in the plan. The range-pin checkpoint the returned plan
    reads is owned by the caller's ``ckpt.scope()`` (see
    :func:`rank.distributed_row_number`).
    """
    sc = df.sparkSession.sparkContext
    d = ckpt.checkpoint(
        df.select(id_col, tokens_col)
        .repartitionByRange(sc.defaultParallelism, F.col(id_col))
        .withColumn("_pid", F.spark_partition_id()),
        # pin the range partitioning: the totals job and the main job must
        # see the SAME partition assignment (the range sampler is not
        # contractually deterministic across jobs)
        eager=False,
    )
    totals = dict(
        d.groupBy("_pid").agg(F.sum(tokens_col).alias("_t")).collect()
    )
    if not totals:
        # empty input (an empty daily partition is routine at scale):
        # a zero-arg create_map() is MAP<void,void> and indexing it is
        # an analysis error — the schema-correct empty result instead
        return d.withColumn(
            shard_col, F.lit(0).cast("long")
        ).drop("_pid")
    offsets, acc = {}, 0
    for pid in sorted(totals):
        offsets[pid] = acc
        acc += totals[pid] or 0
    off_map = F.create_map(
        *[F.lit(x) for kv in sorted(offsets.items()) for x in kv]
    )
    w = (
        Window.partitionBy("_pid")
        .orderBy(id_col)
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    excl = F.coalesce(F.sum(tokens_col).over(w), F.lit(0)) + F.coalesce(
        off_map[F.col("_pid")], F.lit(0)
    )
    return (
        d.withColumn("_excl", excl)
        .withColumn(shard_col, F.expr(f"_excl div {int(budget)}"))
        .drop("_pid", "_excl")
    )


def pack_sequences(
    df: DataFrame,
    seq_len: int,
    *,
    shard_budget: int,
    id_col: str = "doc_id",
    tokens_col: str = "n_tokens",
) -> DataFrame:
    """Greedy sequence packing: assign each document (in ``id_col``
    order) to a training sequence of capacity ``seq_len`` tokens —
    append to the current sequence while it fits, else open a new one.
    A doc longer than ``seq_len`` gets its own (overflowing) sequence;
    truncation is the tokenizer's job downstream.

    Greedy packing is a sequential recurrence, so it cannot be a window
    function; the scale shape is the standard two-level decomposition:

    1. :func:`shard_by_token_budget` splits the corpus into contiguous
       ~``shard_budget``-token shards via the distributed prefix-sum
       scan (no single-partition stage anywhere);
    2. each shard packs independently in one Arrow-batched
       ``applyInPandas`` group whose size is bounded by construction
       (≈ ``shard_budget`` tokens), so executor memory is capped no
       matter how big the corpus is.

    Packing never crosses a shard boundary — by design, so the result
    is reproducible under any parallelism and appends only ever touch
    the final shard. Output: one row per doc with ``shard_id``,
    ``seq_in_shard`` (sequence ordinal within the shard) and
    ``offset_in_seq`` (the doc's first-token position).
    """
    import pandas as pd

    sharded = shard_by_token_budget(
        df, shard_budget, id_col=id_col, tokens_col=tokens_col
    )
    out_schema = (
        f"{id_col} long, {tokens_col} long, shard_id long,"
        " seq_in_shard long, offset_in_seq long"
    )
    cap = int(seq_len)

    def pack(pdf: "pd.DataFrame") -> "pd.DataFrame":
        pdf = pdf.sort_values(id_col).reset_index(drop=True)
        seq, fill = -1, cap + 1  # force a new sequence on the first doc
        seqs, offs = [], []
        # NULL token counts (a NULL-text doc upstream) pack as
        # zero-length — one missing field must not kill a corpus job
        for t in pdf[tokens_col].fillna(0).astype("int64"):
            t = int(t)
            if fill + t <= cap:
                offs.append(fill)
                fill += t
            else:
                seq += 1
                offs.append(0)
                fill = t
            seqs.append(seq)
        return pd.DataFrame(
            {
                id_col: pdf[id_col].astype("int64"),
                tokens_col: pdf[tokens_col].astype("int64"),
                "shard_id": pdf["shard_id"].astype("int64"),
                "seq_in_shard": pd.Series(seqs, dtype="int64"),
                "offset_in_seq": pd.Series(offs, dtype="int64"),
            }
        )

    return sharded.groupBy("shard_id").applyInPandas(pack, out_schema)


def pack_sequences_sql(
    sharded_sql: str, seq_len: int, *, id_col: str = "doc_id", tokens_col: str = "n_tokens"
) -> str:
    """DuckDB oracle twin of :func:`pack_sequences`: replays the greedy
    recurrence row-by-row with a recursive CTE over ``sharded_sql``
    (any relation with id/tokens/shard_id columns)."""
    L = int(seq_len)
    return f"""
    WITH RECURSIVE sharded AS ({sharded_sql}),
    base AS (
        SELECT {id_col}, {tokens_col}, shard_id,
               row_number() OVER (PARTITION BY shard_id ORDER BY {id_col}) AS rn
        FROM sharded),
    pack AS (
        SELECT shard_id, rn, {id_col}, {tokens_col},
               CAST(0 AS BIGINT) AS seq_in_shard,
               CAST(0 AS BIGINT) AS offset_in_seq,
               CAST({tokens_col} AS BIGINT) AS fill
        FROM base WHERE rn = 1
        UNION ALL
        SELECT b.shard_id, b.rn, b.{id_col}, b.{tokens_col},
               CASE WHEN p.fill + b.{tokens_col} <= {L}
                    THEN p.seq_in_shard ELSE p.seq_in_shard + 1 END,
               CASE WHEN p.fill + b.{tokens_col} <= {L}
                    THEN p.fill ELSE CAST(0 AS BIGINT) END,
               CASE WHEN p.fill + b.{tokens_col} <= {L}
                    THEN p.fill + b.{tokens_col}
                    ELSE CAST(b.{tokens_col} AS BIGINT) END
        FROM base b JOIN pack p
          ON b.shard_id = p.shard_id AND b.rn = p.rn + 1)
    SELECT {id_col}, CAST({tokens_col} AS BIGINT) AS {tokens_col},
           shard_id, seq_in_shard, offset_in_seq
    FROM pack
    """


def mixture_upsample(
    df: DataFrame,
    epochs: dict[str, float],
    *,
    source_col: str = "source",
    id_col: str = "doc_id",
    default_epochs: float = 1.0,
) -> DataFrame:
    """Deterministic mixture weighting: repeat each row ``epochs[source]``
    times, where the fractional part is resolved per-document by its
    md5 bucket (epochs=2.3 → every doc twice, the deterministic 30%
    of docs a third time). The training-data "source mixing" op: weight
    high-quality sources above one epoch, downsample the rest —
    reproducible across runs/engines/appends because repetition depends
    only on (id, source).

    Pure projection + explode: no shuffle, output rows carry
    ``copy_idx`` (0-based) so downstream shuffling/packing can keep
    copies distinguishable.
    """
    whole: Column | None = None
    fracb: Column | None = None
    for src, w in epochs.items():
        cond = F.col(source_col) == src
        wn, fb = int(w), int(round((w - int(w)) * HASH_BUCKETS))
        whole = F.when(cond, wn) if whole is None else whole.when(cond, wn)
        fracb = F.when(cond, fb) if fracb is None else fracb.when(cond, fb)
    dwn, dfb = int(default_epochs), int(
        round((default_epochs - int(default_epochs)) * HASH_BUCKETS)
    )
    whole = F.lit(dwn) if whole is None else whole.otherwise(dwn)
    fracb = F.lit(dfb) if fracb is None else fracb.otherwise(dfb)
    n = whole + (hash_bucket(id_col) < fracb).cast("int")
    return (
        df.withColumn("_n", n)
        .withColumn(
            "copy_idx",
            F.explode(
                F.expr(
                    "CASE WHEN _n < 1 THEN array()"
                    " ELSE sequence(0L, cast(_n - 1 AS bigint)) END"
                )
            ),
        )
        .drop("_n")
    )


def mixture_upsample_sql(
    rel: str,
    epochs: dict[str, float],
    *,
    source_col: str = "source",
    id_col: str = "doc_id",
    default_epochs: float = 1.0,
    cols: str = "doc_id, source",
) -> str:
    """DuckDB oracle twin of :func:`mixture_upsample`."""
    whens_w = " ".join(
        f"WHEN {source_col} = '{s}' THEN {int(w)}" for s, w in epochs.items()
    )
    whens_f = " ".join(
        f"WHEN {source_col} = '{s}' THEN {int(round((w - int(w)) * HASH_BUCKETS))}"
        for s, w in epochs.items()
    )
    dw, dfb = int(default_epochs), int(
        round((default_epochs - int(default_epochs)) * HASH_BUCKETS)
    )
    b = hash_bucket_sql(id_col)
    n = (
        f"(CASE {whens_w} ELSE {dw} END"
        f" + CASE WHEN {b} < (CASE {whens_f} ELSE {dfb} END)"
        " THEN 1 ELSE 0 END)"
    )
    return f"""
        SELECT {cols}, UNNEST(range(0, {n})) AS copy_idx
        FROM {rel}
    """


def decontaminate(
    corpus: DataFrame,
    evalset: DataFrame,
    *,
    n: int = 8,
    id_col: str = "doc_id",
    text_col: str = "text",
    hits_col: str = "n_hits",
) -> DataFrame:
    """Benchmark decontamination: flag corpus docs sharing any word
    ``n``-gram with an evaluation set (the standard 8/13-gram-overlap
    test-set-leak check run before LLM training).

    Shape: the eval side reduces to its DISTINCT n-grams and is
    **broadcast** — eval sets are a few thousand documents while the
    corpus is the 100 TB side, so the corpus-side scan joins against a
    map-side hash table and never shuffles on the n-gram; the only
    shuffle is the per-doc hit-count aggregation (keyed on ``id_col``).
    Returns (id_col, hits_col) for contaminated docs only — the caller
    anti-joins to drop them or inspects the hit counts.
    """
    from sales_data_etl_pipeline_spark.operators.dedup import _shingle_expr
    from sales_data_etl_pipeline_spark.operators.text import TOKENIZE

    # tokenize ONCE into a column before shingling: _shingle_expr
    # references its token input n+2 times (n zip slices + the sizes),
    # so inlining the regex split would re-split the raw text that many
    # times per row (same lesson as dedup.shingle_sets)
    def ngrams(df):
        return df.select(
            "*", F.expr(TOKENIZE.format(col=text_col)).alias("_toks")
        ).select(
            *[c for c in df.columns],
            F.explode(F.expr(_shingle_expr("_toks", n))).alias("_ng"),
        )

    ev = ngrams(evalset.select(text_col)).select("_ng").distinct()
    return (
        ngrams(corpus.select(id_col, text_col))
        .select(F.col(id_col), "_ng")
        .join(F.broadcast(ev), "_ng")
        # shingles are distinct-per-doc, so COUNT == distinct hit count
        .groupBy(id_col)
        .agg(F.count(F.lit(1)).alias(hits_col))
    )


def quality_resample(
    df: DataFrame,
    text_col: str = "text",
    *,
    id_col: str = "doc_id",
    mod: int = 1_000_000,
) -> DataFrame:
    """Deterministic quality-weighted importance resampling: keep each
    document with probability equal to its :func:`~sales_data_etl_pipeline_spark.operators.text.quality_score`
    composite — the standard corpus-mixing move that keeps some
    low-quality mass (a hard cutoff distorts the distribution) while
    biasing toward quality.

    Acceptance is NOT random-number based: the uniform draw is the
    md5-derived hash of the doc id mapped into [0, mod) — reproducible
    across runs, engines, and partitionings (no RNG, no seed state;
    same convention as :func:`hash_split`). Both the quality score and
    the draw are integer parts-per-million, so the accept comparison
    is integer-vs-integer in both engines.

    Shape at 100 TB: per-row projection + filter only — zero shuffles,
    trivially parallel, and re-running on a grown corpus keeps every
    previously-accepted doc (per-doc decisions are independent).
    """
    from sales_data_etl_pipeline_spark.operators.text import quality_score

    q = quality_score(df, text_col)
    return (
        q.withColumn(
            "u_ppm",
            F.expr(hash_id_expr(f"cast({id_col} as string)", mod)),
        )
        .withColumn(
            "quality_ppm",
            F.expr("cast(floor(quality * 1000000 + 0.5) as bigint)"),
        )
        .filter(F.col("u_ppm") < F.col("quality_ppm"))
        .select(id_col, "quality_ppm", "u_ppm")
    )


def curriculum_order(
    df: DataFrame,
    text_col: str = "text",
    *,
    id_col: str = "doc_id",
    n_buckets: int = 4,
    seed: str = "seed42",
) -> DataFrame:
    """Curriculum training order: documents are quantile-bucketed by
    quality (bucket 1 = highest-quality quartile, trained first) and
    deterministically shuffled WITHIN each bucket — the standard
    curriculum-learning data order (clean data early, noisy tail late)
    with none of the distribution distortion a hard quality cutoff
    causes.

    Composes three already-gated primitives: the
    :func:`~sales_data_etl_pipeline_spark.operators.text.quality_score`
    composite (integer ppm), :func:`~sales_data_etl_pipeline_spark.operators.rank.quantile_bucket`
    (range-partitioned rank — never a SinglePartition NTILE), and the
    md5 seeded shuffle of ``corpus_shuffle_deterministic`` — so the
    full curriculum is RNG-free and byte-identical across runs,
    engines, and partitionings.

    Shape at 100 TB: two range repartitions (the bucket rank and the
    final position rank), each with a |partitions|-row offsets collect —
    the distributed-scan idiom; no global sort on one reducer anywhere.

    Output: (doc_id, quality_ppm, bucket, position), position 1..N.
    """
    from sales_data_etl_pipeline_spark.operators.rank import (
        distributed_row_number,
        quantile_bucket,
    )
    from sales_data_etl_pipeline_spark.operators.text import quality_score

    q = quality_score(df, text_col).select(
        id_col,
        F.expr("cast(floor(quality * 1000000 + 0.5) as bigint)").alias(
            "quality_ppm"
        ),
    )
    bucketed = quantile_bucket(
        q,
        [F.col("quality_ppm").desc(), F.col(id_col)],
        n_buckets=n_buckets,
    )
    keyed = bucketed.withColumn(
        "_k",
        F.md5(F.concat(F.lit(f"{seed}-"), F.col(id_col).cast("string"))),
    )
    out, _ = distributed_row_number(
        keyed,
        [F.col("bucket"), F.col("_k"), F.col(id_col)],
        rank_col="position",
    )
    return out.select(id_col, "quality_ppm", "bucket", "position")


def domain_cap(
    df: DataFrame,
    *,
    domain_col: str = "source",
    cap: int = 10,
    id_col: str = "doc_id",
    seed: str = "seed42",
    salt_buckets: int = 16,
) -> DataFrame:
    """Per-domain document cap — the CCNet/RefinedWeb "at most N pages
    per domain" rule that stops a single boilerplate-heavy host from
    dominating a web corpus. Keeps the ``cap`` documents per domain
    that rank first under the seeded md5 pseudo-random order (the same
    RNG-free determinism contract as ``shuffle_deterministic``: re-runs
    and engine swaps pick byte-identical survivors).

    Emits (id_col, domain_col, pick_rank), pick_rank 1..cap within the
    domain.

    Skew shape: a naive ``row_number() OVER (PARTITION BY domain)``
    sends EVERY row of a hot domain through one reducer. This runs the
    standard salted two-phase top-k instead: phase 1 ranks within
    (domain, salt) — ``salt_buckets`` way parallel even for a one-domain
    corpus — and keeps ≤ cap per salted group; phase 2 re-ranks the
    ≤ salt_buckets·cap survivors per domain. Exact: every global
    top-cap row is in its salt group's top-cap, so phase 2 sees all
    candidates. Reducer row counts are bounded by |domain|/salt_buckets
    and salt_buckets·cap respectively — no hot-domain reducer at any
    corpus size.
    """
    key = F.md5(F.concat(F.lit(f"{seed}-"), F.col(id_col).cast("string")))
    keyed = df.select(
        id_col, domain_col, key.alias("_k")
    ).withColumn(
        "_salt", F.pmod(F.xxhash64(F.col(id_col)), F.lit(salt_buckets))
    )
    w1 = Window.partitionBy(domain_col, "_salt").orderBy("_k", id_col)
    phase1 = (
        keyed.withColumn("_r1", F.row_number().over(w1))
        .filter(F.col("_r1") <= cap)
        .drop("_r1", "_salt")
    )
    w2 = Window.partitionBy(domain_col).orderBy("_k", id_col)
    return (
        phase1.withColumn("pick_rank", F.row_number().over(w2))
        .filter(F.col("pick_rank") <= cap)
        .select(id_col, domain_col, F.col("pick_rank").cast("long").alias("pick_rank"))
    )


def bloom_membership(
    corpus: DataFrame,
    evalset: DataFrame,
    *,
    m_bits: int = 1 << 20,
    k_hashes: int = 4,
    n: int = 8,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Bloom-filter n-gram membership — :func:`decontaminate` with a
    BOUNDED broadcast: where decontaminate ships the eval set's
    distinct n-grams (O(|evalset|) strings), this ships only the ≤
    ``m_bits`` SET bit positions of a Bloom filter over them, so the
    map-side hash table stays ≤ m_bits rows of one int no matter how
    large the eval corpus grows (the standard trick for
    decontaminating against a full benchmark SUITE rather than one
    task).

    Deterministic bloom: bit positions are
    ``md5(ngram || '#' || j) mod m_bits`` for j in [0, k) — the same
    md5→int convention as the MinHash kernels, so a SQL oracle
    reproduces every bit, INCLUDING false positives (a corpus doc
    counts as a member iff ALL k of one of its n-grams' bits are set;
    bloom semantics make that a superset of true membership — callers
    route hits to the exact check, which now runs on the tiny flagged
    fraction only).

    Shape at 100 TB: eval side → one distinct over its bit positions
    (bounded by m_bits) → broadcast; corpus side explodes (ngram, j)
    pairs, probes the broadcast, and a doc is flagged when any ngram
    reaches k hits — groupBy (doc, ngram-ordinal) then (doc), both
    map-side combinable. The corpus never shuffles on ngram content.
    Output: (id_col, n_bloom_hits) for flagged docs only, where
    n_bloom_hits counts the doc's DISTINCT n-gram positions whose
    bloom test passed.
    """
    from sales_data_etl_pipeline_spark.operators.dedup import (
        _shingle_expr,
        hash_id_expr,
    )
    from sales_data_etl_pipeline_spark.operators.text import TOKENIZE

    def ngrams(df, keep):
        return (
            df.select(
                *keep, F.expr(TOKENIZE.format(col=text_col)).alias("_toks")
            )
            .select(*keep, F.explode(F.expr(_shingle_expr("_toks", n))).alias("_ng"))
        )

    probes = F.array(
        *[
            F.expr(hash_id_expr(f"concat(_ng, '#{j}')", m_bits))
            for j in range(k_hashes)
        ]
    )
    bits = (
        ngrams(evalset, ())
        .select(F.explode(probes).alias("pos"))
        .distinct()
    )
    corpus_ng = (
        ngrams(corpus, (id_col,))
        # distinct (doc, ngram) first: repeated boilerplate n-grams in
        # one doc must not multiply probe rows
        .distinct()
        .select(
            id_col,
            "_ng",
            F.posexplode(probes).alias("_j", "pos"),
        )
    )
    per_ngram = (
        corpus_ng.join(F.broadcast(bits), "pos")
        .groupBy(id_col, "_ng")
        .agg(F.count(F.lit(1)).alias("_set"))
        .filter(F.col("_set") == k_hashes)
    )
    return (
        per_ngram.groupBy(id_col)
        .agg(F.count(F.lit(1)).alias("n_bloom_hits"))
    )


def dsir_weights(
    docs: DataFrame,
    *,
    target_lang: str = "en",
    width: int = 1024,
    text_col: str = "text",
    lang_col: str = "lang",
    id_col: str = "doc_id",
) -> DataFrame:
    """DSIR importance weights (Xie et al., arXiv:2302.03169): score
    every document by how much its hashed-bigram distribution looks
    like the TARGET slice of the corpus versus the corpus overall —
    the data-selection signal used to importance-resample a raw crawl
    toward a target domain before training.

    Feature space is hashed bigrams: ``md5(bigram) mod width`` buckets
    (the module's deterministic convention — no vocabulary to build,
    fixed ``width``-sized model no matter the corpus). Per bucket b
    the log-likelihood ratio under add-one smoothing is::

        lr(b) = log2((t_b + 1) / (T + width))
              - log2((s_b + 1) / (S + width))

    with t/s the target/overall bucket counts — computed in ONE pass
    (the target count is a conditional sum riding the overall count's
    aggregate, never a second corpus scan). Determinism across
    engines: lr is quantized to an integer (``floor(lr·1e6 + 0.5)``,
    micro-bits) per BUCKET before any per-doc summation — the same
    discipline as ``text.unigram_logprob`` — so doc scores are pure
    integer arithmetic, immune to float summation order.

    Shape at 100 TB: explode → one map-side-combinable aggregate to a
    ``width``-row model table → broadcast the model back to per-doc
    bucket counts → integer dot product. The model is 1024 rows
    whatever the corpus size; importance estimation never shuffles
    the corpus on anything wider than (doc, bucket).

    Output: (doc_id, n_bigrams, dsir_q6) — total quantized log-ratio;
    resample acceptance is ``md5-uniform < sigmoid(score)`` downstream
    (``quality_resample``). Docs with < 2 tokens have no bigrams and
    drop out, like zero-token docs in unigram_logprob.
    """
    from sales_data_etl_pipeline_spark.operators.dedup import hash_id_expr
    from sales_data_etl_pipeline_spark.operators.text import TOKENIZE

    # materialize the token ARRAY once per row before the bigram
    # lambda: inlining TOKENIZE inside element_at re-runs the full
    # split per position (O(len²) per doc — measured 4× on the bench)
    bigrams = (
        "CASE WHEN size(_t) < 2 THEN array() "
        "ELSE transform(sequence(1, size(_t) - 1), "
        "i -> concat(element_at(_t, i), ' ', element_at(_t, i + 1))) END"
    )
    bg = (
        docs.select(
            id_col,
            (F.col(lang_col) == F.lit(target_lang)).alias("_is_target"),
            F.expr(TOKENIZE.format(col=text_col)).alias("_t"),
        )
        .select(
            id_col,
            "_is_target",
            F.explode(F.expr(bigrams)).alias("_bg"),
        )
        .select(
            id_col,
            "_is_target",
            F.expr(hash_id_expr("_bg", width)).alias("bucket"),
        )
    )
    # ONE tokenize+explode pass: the per-doc bucket counts are the only
    # corpus-sized aggregate; the width-row model derives from them
    per_doc = bg.groupBy(id_col, "_is_target", "bucket").agg(
        F.count(F.lit(1)).alias("occ")
    )
    model = per_doc.groupBy("bucket").agg(
        F.sum("occ").alias("s_cnt"),
        F.sum(F.when(F.col("_is_target"), F.col("occ")).otherwise(0)).alias(
            "t_cnt"
        ),
    )
    totals = model.agg(
        F.sum("s_cnt").alias("_s_total"), F.sum("t_cnt").alias("_t_total")
    )
    lr = model.crossJoin(F.broadcast(totals)).select(
        "bucket",
        F.expr(
            "cast(floor((log2((t_cnt + 1) / cast(_t_total + "
            f"{width} as double)) - log2((s_cnt + 1) / cast(_s_total + "
            f"{width} as double))) * 1000000 + 0.5) as bigint)"
        ).alias("lr_q6"),
    )
    return (
        per_doc.join(F.broadcast(lr), "bucket")
        .groupBy(id_col)
        .agg(
            F.sum("occ").alias("n_bigrams"),
            F.sum(F.col("occ") * F.col("lr_q6")).alias("dsir_q6"),
        )
    )
