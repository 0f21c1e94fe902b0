"""Embedding post-processing operators (extension layer): L2
normalization and int8 quantization — the standard prep steps between
an embedding model and an ANN index / training shard.

Everything is JVM higher-order array arithmetic (``transform`` /
``aggregate``), zero shuffles, linear at 100 TB — the same design rules
as ``operators.text``.

Oracle discipline: the driver's value-hash canonicalization cannot sort
rows containing array columns (pandas ``unhashable type: 'list'`` — the
round-1 ``stats_approx_sketches`` lesson), so gate-facing outputs
serialize vectors as comma-joined INTEGER strings: quantized values are
integers by construction, normalized values are emitted at fixed 1e-6
resolution via the ``floor(x*1e6 + 0.5)`` IEEE composite (module
convention), which both engines compute bit-identically because the
fold order of the norm is identical (sequential left fold in Spark
``aggregate`` and DuckDB ``list_aggregate``).
"""

from __future__ import annotations

import sys

import numpy as np
import pandas as pd
from pyspark import cloudpickle
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

# The encode kernel calls this module's numpy steps on the executors,
# whose Python workers need not have this package on their path: ship
# the steps by value.
cloudpickle.register_pickle_by_value(sys.modules[__name__])

#: sum of squares as a sequential left fold (matches DuckDB list_aggregate)
_NORM = (
    "sqrt(aggregate(transform({v}, x -> cast(x as double) * cast(x as double)),"
    " cast(0.0 as double), (acc, x) -> acc + x))"
)
# COALESCE: DuckDB's list_aggregate([], 'sum') is NULL while Spark's
# aggregate fold returns the 0.0 seed — align empty vectors to norm 0
# on both engines (→ norm_q6 = 0, unit_q6 = NULL, like zero vectors).
_NORM_SQL = (
    "sqrt(coalesce(list_aggregate(list_transform({v},"
    " x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)), 'sum'), 0.0))"
)

#: non-finite (NaN/Inf) vectors — a failed upstream embedding job —
#: produce NULL outputs instead of NaN-poisoned or ANSI-error results.
#: Spark orders NaN above all doubles, so magnitude guards alone would
#: admit them; the predicate is explicit on both engines.
_FINITE = (
    "NOT exists({v}, x -> x IS NULL OR isnan(cast(x as double))"
    " OR abs(cast(x as double)) = cast('Infinity' as double))"
)
_FINITE_SQL = (
    "NOT coalesce(list_bool_or(list_transform({v},"
    " x -> x IS NULL OR isnan(CAST(x AS DOUBLE))"
    " OR isinf(CAST(x AS DOUBLE)))), FALSE)"
)


def l2_normalize(
    df: DataFrame, vec_col: str = "embedding", id_col: str = "vec_id"
) -> DataFrame:
    """Unit-normalize each vector; emits the L2 norm and the normalized
    vector at 1e-6 resolution as a comma-joined integer string
    (``unit_q6``) — zero-vector rows get NULLs."""
    norm = _NORM.format(v=vec_col)
    finite = _FINITE.format(v=vec_col)
    # whole-column NULL for zero vectors: Spark's array_join silently
    # drops NULL elements ('' result) while DuckDB's string_agg of
    # all-NULLs is NULL — guard both engines to the same NULL. A
    # non-finite vector NULLs BOTH columns (norm included — floor(NaN)
    # is an ANSI error and floor(Inf) overflows the bigint cast).
    unit = (
        f"IF(NOT ({finite}) OR nullif({norm}, 0.0) IS NULL, NULL,"
        f" array_join(transform({vec_col}, x -> cast(floor(cast(x as double)"
        f" / {norm} * 1000000 + 0.5) as bigint)), ','))"
    )
    return df.select(
        id_col,
        F.expr(
            f"IF({finite},"
            f" cast(floor({norm} * 1000000 + 0.5) as bigint), NULL)"
        ).alias("norm_q6"),
        F.expr(unit).alias("unit_q6"),
    )


def l2_normalize_sql(
    rel: str = "embeddings", vec_col: str = "embedding", id_col: str = "vec_id"
) -> str:
    norm = _NORM_SQL.format(v=vec_col)
    finite = _FINITE_SQL.format(v=vec_col)
    unit = (
        f"CASE WHEN NOT ({finite}) OR nullif({norm}, 0.0) IS NULL THEN NULL ELSE"
        f" list_aggregate(list_transform({vec_col}, x -> CAST(floor(CAST(x AS DOUBLE)"
        f" / {norm} * 1000000 + 0.5) AS BIGINT)::VARCHAR),"
        " 'string_agg', ',') END"
    )
    return f"""
        SELECT {id_col},
               CASE WHEN {finite}
                    THEN CAST(floor({norm} * 1000000 + 0.5) AS BIGINT)
               END AS norm_q6,
               {unit} AS unit_q6
        FROM {rel}
    """


def quantize_int8(
    df: DataFrame, vec_col: str = "embedding", id_col: str = "vec_id"
) -> DataFrame:
    """Symmetric int8 quantization: ``scale = 127 / max(|x|)``,
    ``q_i = floor(x_i * scale + 0.5)`` (round-half-toward-+inf — the one
    rounding rule both engines compute identically on doubles). Emits
    the scale at 1e-6 resolution and the quantized vector as a
    comma-joined integer string."""
    amax = f"array_max(transform({vec_col}, x -> abs(cast(x as double))))"
    scale = f"(127.0 / nullif({amax}, 0.0))"
    finite = _FINITE.format(v=vec_col)
    q = (
        f"IF(NOT ({finite}) OR {scale} IS NULL, NULL,"
        f" array_join(transform({vec_col}, x -> cast(floor(cast(x as double)"
        f" * {scale} + 0.5) as bigint)), ','))"
    )
    return df.select(
        id_col,
        F.expr(
            f"IF({finite},"
            f" cast(floor({scale} * 1000000 + 0.5) as bigint), NULL)"
        ).alias("scale_q6"),
        F.expr(q).alias("q_int8"),
    )


def quantize_int8_sql(
    rel: str = "embeddings", vec_col: str = "embedding", id_col: str = "vec_id"
) -> str:
    amax = f"list_max(list_transform({vec_col}, x -> abs(CAST(x AS DOUBLE))))"
    scale = f"(127.0 / nullif({amax}, 0.0))"
    finite = _FINITE_SQL.format(v=vec_col)
    q = (
        f"CASE WHEN NOT ({finite}) OR {scale} IS NULL THEN NULL ELSE"
        f" list_aggregate(list_transform({vec_col}, x -> CAST(floor(CAST(x AS DOUBLE)"
        f" * {scale} + 0.5) AS BIGINT)::VARCHAR), 'string_agg', ',') END"
    )
    return f"""
        SELECT {id_col},
               CASE WHEN {finite}
                    THEN CAST(floor({scale} * 1000000 + 0.5) AS BIGINT)
               END AS scale_q6,
               {q} AS q_int8
        FROM {rel}
    """


#: Global PQ quantization scale: q_i = clamp(round(x_i·16), ±127).
#: A COMMON scale (not per-vector) keeps every distance comparison in
#: one shared integer space — per-block code assignment is then exact
#: int64 arithmetic, bit-identical across engines with no float
#: distance anywhere.
PQ_SCALE = 16
PQ_CLAMP = 127


def _grid(X: np.ndarray) -> np.ndarray:
    """Float rows onto the shared integer grid:
    ``clamp(round(x·PQ_SCALE), ±PQ_CLAMP)``, int64."""
    return np.clip(np.floor(X * PQ_SCALE + 0.5), -PQ_CLAMP, PQ_CLAMP).astype(
        np.int64
    )


def _block_size(dim: int, n_blocks: int) -> int:
    if dim % n_blocks:
        raise ValueError(f"dim {dim} not divisible by n_blocks {n_blocks}")
    return dim // n_blocks


def _nearest(X: np.ndarray, C: np.ndarray) -> tuple[np.ndarray, np.ndarray]:
    """Per grid row of ``X``: the index of its nearest row of ``C`` by
    exact int64 squared L2 (the FIRST minimum — rows of ``C`` sorted by
    id make the tie-break the smallest id) and that distance."""
    diff = X[:, None, :] - C[None, :, :]
    d2 = (diff * diff).sum(axis=2)
    best = d2.argmin(axis=1)
    return best, d2[np.arange(len(X)), best]


def _block_codes(
    X: np.ndarray, C: np.ndarray, c_ids: np.ndarray, n_blocks: int
) -> tuple[list[str], np.ndarray]:
    """PQ codes of grid rows ``X`` against codewords ``C`` (ids
    ``c_ids``), block by block over ``C``'s dims: the comma-joined
    nearest-codeword ids and the summed exact quantization error."""
    bs = _block_size(C.shape[1], n_blocks)
    codes = np.empty((len(X), n_blocks), dtype=np.int64)
    d2 = np.zeros(len(X), dtype=np.int64)
    for m in range(n_blocks):
        block = slice(m * bs, (m + 1) * bs)
        best, dist = _nearest(X[:, block], C[:, block])
        codes[:, m] = c_ids[best]
        d2 += dist
    return [",".join(map(str, row)) for row in codes], d2


def _encode_scan(
    corpus: DataFrame, id_col: str, vec_col: str, out_schema: str, codes_of
) -> DataFrame:
    """One narrow Arrow pass over the corpus: the finite rows of each
    batch go onto the grid, and ``codes_of(grid rows)`` returns the
    output columns beside the id. Non-finite rows are dropped (the
    module's FINITE contract)."""

    def encode(batches):
        for pdf in batches:
            if not len(pdf):
                continue
            V = np.array(list(pdf[vec_col]), dtype=np.float64)
            live = np.isfinite(V).all(axis=1)
            if live.any():
                ids = pdf[id_col].to_numpy(dtype=np.int64)[live]
                yield pd.DataFrame({id_col: ids, **codes_of(_grid(V[live]))})

    return corpus.select(id_col, vec_col).mapInPandas(encode, out_schema)


def pq_encode(
    corpus: DataFrame,
    codebook: DataFrame,
    *,
    n_blocks: int = 4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    centroid_id_col: str = "centroid_id",
) -> DataFrame:
    """Product-quantization encoding — the IVF-PQ compression step that
    makes billion-vector ANN affordable: each vector splits into
    ``n_blocks`` contiguous sub-vectors, and every sub-vector is
    replaced by the id of its nearest codebook entry (squared-L2 over
    the SAME sub-dimensions, ties → smallest centroid id). A 64-dim
    float vector becomes ``n_blocks`` small integers (+ one residual
    scalar here), a 64×+ compression that turns a 100 TB vector corpus
    into a memory-resident code table for asymmetric-distance scans.

    Exactness contract: both vectors and codebook entries are first
    quantized with the GLOBAL integer grid (``clamp(round(x·16),
    ±127)`` — one rounding rule, no per-vector scale), so every
    distance is an exact int64 sum of squared integer differences and
    the DuckDB oracle reproduces the argmin bit-for-bit. Non-finite
    corpus vectors are excluded (the module's FINITE contract);
    non-finite codebook entries never win (excluded driver-side).

    Execution shape mirrors :func:`~sales_data_etl_pipeline_spark.operators.similarity.kmeans_assign`:
    the codebook is collected once (K·dim — codebooks are small by
    definition, :func:`_collect_grid`) into an Arrow kernel
    (:func:`_encode_scan`); each batch scores all blocks against all
    centroids in vectorized integer numpy (:func:`_block_codes`). Zero
    shuffles — the encode is embarrassingly parallel, the 100 TB path.

    Output: (id, codes, d2_total) — ``codes`` the comma-joined
    per-block centroid ids (block order), ``d2_total`` the summed
    quantization error (exact bigint).
    """
    c_ids, C = _collect_grid(codebook, centroid_id_col, vec_col)
    out_schema = f"{id_col} long, codes string, d2_total long"
    if C is None:
        # empty (or all-non-finite) codebook: no code is definable —
        # return the schema-correct EMPTY result, matching the oracle,
        # whose finite-filtered codebook CTE yields zero rows (an empty
        # partition is routine at scale, not an error)
        return corpus.sparkSession.createDataFrame([], out_schema)
    _block_size(C.shape[1], n_blocks)  # raise here, not in the scan

    def codes_of(Q):
        codes, d2 = _block_codes(Q, C, c_ids, n_blocks)
        return {"codes": codes, "d2_total": d2}

    return _encode_scan(corpus, id_col, vec_col, out_schema, codes_of)


def _collect_grid(df, id_col: str, vec_col: str):
    """Collect a small vector table onto the shared integer grid
    (:func:`_grid`): (ids int64[], grid int64[n, dim]), finite rows
    only, sorted by id. Returns (None, None) when nothing survives."""
    rows = sorted(df.select(id_col, vec_col).collect(), key=lambda r: r[0])
    raw = [
        (int(r[0]), np.asarray(r[1], dtype=np.float64))
        for r in rows
        if r[1] is not None
    ]
    raw = [(i, v) for i, v in raw if np.isfinite(v).all()]
    if not raw:
        return None, None
    ids = np.array([i for i, _ in raw], dtype=np.int64)
    return ids, _grid(np.stack([v for _, v in raw]))


def residual_codewords(
    coarse,
    residual_codebook,
    *,
    vec_col: str = "embedding",
    centroid_id_col: str = "centroid_id",
):
    """Driver-side residual-codebook build (faiss IVF-PQ semantics,
    shared across lists): each sample vector is assigned to its nearest
    coarse centroid on the integer grid (exact int64 L2, ties →
    smallest id) and its INTEGER residual ``grid(v) − grid(c)`` becomes
    a codeword. Returns (coarse_ids, coarse_grid, code_ids,
    residual_grid) as numpy int64 arrays — all-small inputs by
    definition (codebooks), so the collect is K·dim."""
    c_ids, C = _collect_grid(coarse, centroid_id_col, vec_col)
    if C is None:
        return None, None, None, None
    r_ids, RG = _collect_grid(residual_codebook, centroid_id_col, vec_col)
    if RG is None:
        return c_ids, C, None, None
    if RG.shape[1] != C.shape[1]:
        raise ValueError(
            f"residual codebook dim {RG.shape[1]} != coarse dim {C.shape[1]}"
        )
    best, _ = _nearest(RG, C)
    return c_ids, C, r_ids, RG - C[best]


def pq_encode_residual(
    corpus,
    coarse,
    residual_codebook,
    *,
    n_blocks: int = 4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    centroid_id_col: str = "centroid_id",
):
    """Residual product-quantization encode — the faiss IVF-PQ layout:
    each vector is (1) coarse-assigned to its nearest centroid LIST on
    the shared integer grid, (2) reduced to its integer residual
    ``grid(v) − grid(c_list)``, and (3) PQ-encoded block-by-block
    against a residual codebook (:func:`residual_codewords` — itself
    integer residuals, so every distance is exact int64 and the oracle
    reproduces codes bit-for-bit). Residual encoding is what makes PQ
    codes sharp: residuals are centered near zero, so the same number
    of codewords covers them far more densely than raw vectors.

    Execution shape mirrors :func:`pq_encode`: both codebooks are
    collected once (K·dim each) into one Arrow kernel; per batch, ONE
    list assignment + M block argmins in vectorized integer numpy.
    Zero shuffles — embarrassingly parallel, the 100 TB path.

    Output: (id, list_id, codes, d2_total) — codes the comma-joined
    residual codeword ids (block order), d2_total the exact residual
    quantization error.
    """
    c_ids, C, r_ids, RC = residual_codewords(
        coarse,
        residual_codebook,
        vec_col=vec_col,
        centroid_id_col=centroid_id_col,
    )
    out_schema = f"{id_col} long, list_id long, codes string, d2_total long"
    if C is None or RC is None:
        # no coarse lists or no codewords: no code definable — the
        # schema-correct EMPTY result (matches the oracle's empty CTEs)
        return corpus.sparkSession.createDataFrame([], out_schema)
    _block_size(C.shape[1], n_blocks)  # raise here, not in the scan

    def codes_of(Q):
        lists, _ = _nearest(Q, C)
        codes, d2 = _block_codes(Q - C[lists], RC, r_ids, n_blocks)
        return {"list_id": c_ids[lists], "codes": codes, "d2_total": d2}

    return _encode_scan(corpus, id_col, vec_col, out_schema, codes_of)


def matryoshka_levels(
    df: DataFrame,
    dims: tuple[int, ...] = (16, 32),
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> DataFrame:
    """Matryoshka representation truncation (Kusupati et al.
    arXiv:2205.13147): slice each embedding to its first ``d`` dims
    and re-L2-normalize, for every requested nesting level — the
    adaptive-retrieval trick where one stored vector serves several
    cost tiers (coarse search at d=16, refine at full width).

    Pure narrow projection per level (a ``slice`` + the
    :func:`l2_normalize` emit contract — integer-serialized unit
    vectors at 1e-6, zero/non-finite prefixes → NULL, note a finite
    vector CAN have an all-zero prefix): no shuffle, no kernel,
    whole-stage codegen. Levels union map-side; output carries a
    ``dims`` column, (vec_id, dims) unique.
    """
    parts = []
    for d in dims:
        sliced = df.select(
            id_col, F.expr(f"slice({vec_col}, 1, {d})").alias(vec_col)
        )
        parts.append(
            l2_normalize(sliced, vec_col=vec_col, id_col=id_col).select(
                id_col, F.lit(d).alias("dims"), "norm_q6", "unit_q6"
            )
        )
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return out


def matryoshka_levels_sql(
    dims: tuple[int, ...] = (16, 32),
    rel: str = "embeddings",
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> str:
    """DuckDB twin of :func:`matryoshka_levels`."""
    selects = []
    for d in dims:
        inner = (
            f"(SELECT {id_col}, {vec_col}[1:{d}] AS {vec_col} FROM {rel})"
        )
        body = l2_normalize_sql(inner, vec_col=vec_col, id_col=id_col)
        selects.append(
            f"SELECT {id_col}, {d} AS dims, norm_q6, unit_q6 FROM ({body})"
        )
    return " UNION ALL ".join(selects)
