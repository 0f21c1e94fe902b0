"""Similarity search over an embedding column (extension layer).

Baseline: brute-force cosine top-k (exact). Scale paths: IVF — coarse
quantization into centroid buckets, probe the closest ``n_probe``
buckets only — hyperplane-LSH bands, packed sign words ranked by
Hamming distance, and PQ codes scanned through distance lookup tables.
The arithmetic is deterministic and cross-engine reproducible: the
Spark cosine is a sequential double fold (``aggregate(zip_with(...))``),
sign bits fold left-associated over dims, PQ distances are exact int64.

Vector contract (shared with ``dedup`` and the DuckDB oracles): a vector
is LIVE when every element is finite (:data:`FINITE_VEC`) and its L2
norm is > 0; a dead vector has no cosine, so it never ranks, bands or
verifies. Hyperplanes are the md5-derived ±1 matrix of
:func:`hyperplane_signs`.

Every operator is a composition of the same private steps, each written
once:

- :func:`_live` — the live-vector predicate; :func:`_finite` its
  finite half;
- :func:`_cosine` — the 6-dp rounded sequential-fold cosine Column over
  :func:`_dot` / :func:`_norm`;
- :func:`_collect` / :func:`_unit_rows` — a small table collected to
  the driver; the numpy dead-row normalize (non-finite rows zeroed,
  zero-norm rows dead);
- :func:`_sign_bits` — the left-associated hyperplane sign fold (it
  checks every vector's length against ``dim``), behind
  :func:`_band_signatures` and :func:`_sig_words`;
- :func:`_topk` / :func:`_neighbors` — the ``row_number`` top-k window
  and the (query_id, neighbor_id, score, rank) ranking on it;
- :data:`_PQ_GRID` / :func:`_on_grid` — the PQ integer grid, built from
  ``embeddings.PQ_SCALE`` / ``PQ_CLAMP``; :func:`_probe_lists` (IVF probe
  ranking on the grid), :func:`_code_rows`, :func:`_block_lut` (the
  per-block distance LUT) and :func:`_adc_topk`;
- :func:`_trunc_div` — DuckDB ``//`` integer division.

At 100 TB: the corpus side partitions by bucket (IVF list), queries
broadcast, and each bucket's scan is an independent narrow task — the
canonical distributed-ANN layout. Brute force stays useful as the
ground-truth oracle on samples.
"""

from __future__ import annotations

import hashlib
import sys

import numpy as np
import pandas as pd
from pyspark import cloudpickle
from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from sales_data_etl_pipeline_spark.operators import ckpt
from sales_data_etl_pipeline_spark.operators.embeddings import (
    PQ_CLAMP,
    PQ_SCALE,
    _block_size,
    pq_encode,
    pq_encode_residual,
    residual_codewords,
)
from sales_data_etl_pipeline_spark.session import shuffle_width

# The Arrow kernels call this module's numpy steps on the executors,
# whose Python workers need not have this package on their path (a
# plain session ships no py-files): ship the steps by value.
cloudpickle.register_pickle_by_value(sys.modules[__name__])

#: Spark SQL predicate: every element of vector column {v} is finite.
#: Needed because Spark orders NaN ABOVE all doubles, so ``norm > 0``
#: alone admits NaN vectors that DuckDB's NULL semantics reject.
FINITE_VEC = (
    "NOT exists({v}, x -> x IS NULL OR isnan(cast(x as double))"
    " OR abs(cast(x as double)) = cast('Infinity' as double))"
)

#: Integer PQ grid expression (Spark SQL): quantize a float vector onto
#: the pq_encode grid — clamp(round(x·PQ_SCALE), ±PQ_CLAMP), BIGINT.
_PQ_GRID = (
    "transform({v}, x -> least(greatest("
    f"cast(floor(cast(x as double) * {PQ_SCALE} + 0.5) as bigint),"
    f" -{PQ_CLAMP}L), {PQ_CLAMP}L))"
)

#: Exact int64 squared-L2 over one PQ block (1-based slice offsets).
_PQ_BLOCK_D2 = (
    "aggregate(zip_with(slice({a}, {off}, {bs}), slice({b}, {off}, {bs}),"
    " (x, y) -> (x - y) * (x - y)), 0L, (acc, x) -> acc + x)"
)

#: Exact int64 squared L2 between a grid vector and a centroid vector.
_GRID_D2 = (
    "aggregate(zip_with(_gv, _cv, (x, y) -> (x - y) * (x - y)),"
    " 0L, (acc, x) -> acc + x)"
)

#: Exact int64 dot product of two grid vectors.
_INT_DOT = "aggregate(zip_with({a}, {b}, (x, y) -> x * y), 0L, (acc, x) -> acc + x)"


def hyperplane_signs(planes: int, dim: int) -> list[list[float]]:
    """Deterministic ±1 random-hyperplane matrix (planes × dim).

    Entries come from md5 of "plane:dim" — reproducible anywhere
    (Python, Spark literal, DuckDB literal) with no RNG or seed state.
    """
    return [
        [
            1.0 if int(hashlib.md5(f"{b}:{d}".encode()).hexdigest()[:8], 16) % 2 else -1.0
            for d in range(dim)
        ]
        for b in range(planes)
    ]


def _dot(a: str, b: str) -> str:
    return (
        f"aggregate(zip_with(transform({a}, x -> cast(x as double)),"
        f" transform({b}, x -> cast(x as double)), (x, y) -> x * y),"
        " 0D, (acc, x) -> acc + x)"
    )


def _norm(v: str) -> str:
    return (
        f"sqrt(aggregate(transform({v}, x -> cast(x as double)),"
        " 0D, (acc, x) -> acc + x * x))"
    )


def _cosine(a: str, b: str) -> Column:
    """Cosine of vector columns ``a`` and ``b`` rounded to 6 dp: the
    sequential double fold DuckDB's ``list_aggregate`` reproduces."""
    return F.round(F.expr(_dot(a, b)) / (F.expr(_norm(a)) * F.expr(_norm(b))), 6)


def _finite(v: str) -> Column:
    return F.expr(FINITE_VEC.format(v=v))


def _live(v: str) -> Column:
    """Finite and nonzero-norm: the vectors that have a cosine (Spark
    compares NaN > 0 as TRUE, so the norm test alone would pass NaN)."""
    return _finite(v) & (F.expr(_norm(v)) > 0)


def _collect(df: DataFrame, id_col: str, vec_col: str, rows: list | None = None):
    """A small (id, vector) table on the driver, sorted by id: (ids
    int64[], vectors). ``rows`` skips the collect when given."""
    if rows is None:
        rows = df.select(id_col, vec_col).collect()
    rows = sorted(rows, key=lambda r: r[0])
    return np.array([r[0] for r in rows], dtype=np.int64), [r[1] for r in rows]


def _unit_rows(vectors) -> tuple[np.ndarray, np.ndarray]:
    """(unit rows, live mask) of a vector sequence. Non-finite rows are
    dead like zero-norm ones: a failed upstream embedding job must not
    poison ranks or crash a scan, so they become zero rows whose mask
    is False (module contract, mirrored by the oracles' isfinite)."""
    X = np.array(list(vectors), dtype=np.float64)
    X[~np.isfinite(X).all(axis=1)] = 0.0
    norm = np.linalg.norm(X, axis=1, keepdims=True)
    return np.divide(X, norm, out=np.zeros_like(X), where=norm > 0), (norm > 0).ravel()


def _topk(
    df: DataFrame, by: list[str], order: list[Column], k: int, rank: str = "rank"
) -> DataFrame:
    """The first ``k`` rows of each ``by`` group in ``order``, numbered
    1..k in column ``rank``."""
    w = Window.partitionBy(*by).orderBy(*order)
    return df.withColumn(rank, F.row_number().over(w)).filter(F.col(rank) <= k)


def _neighbors(
    scored: DataFrame,
    *,
    query: str,
    neighbor: str,
    score: str,
    ascending: bool,
    k: int,
    query_as: str | None = None,
) -> DataFrame:
    """(query_id, neighbor_id, score, rank): each query's ``k`` best
    neighbors by ``score``, ties → smallest neighbor id."""
    key = F.asc(score) if ascending else F.desc(score)
    q = F.col(query) if query_as is None else F.col(query).alias(query_as)
    return _topk(scored, [query], [key, F.asc(neighbor)], k).select(
        q, F.col(neighbor).alias("neighbor_id"), score, "rank"
    )


def cosine_topk(
    corpus: DataFrame,
    queries: DataFrame,
    *,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "query_id",
    implementation: str = "pandas",
) -> DataFrame:
    """Exact brute-force cosine top-k per query (self-matches excluded).

    Rank by rounded cosine (6 dp) descending with corpus-id tiebreak →
    deterministic.

    Two implementations, same results:

    - ``pandas`` (default): queries collected to a small matrix and
      closed over by a ``mapInPandas`` kernel → one numpy
      (batch × dim)·(dim × n_queries) matmul per Arrow batch. This is
      the scale path — each corpus partition streams through BLAS; the
      per-partition top-k then shrinks before the final merge.
    - ``expr``: pure-SQL sequential fold (higher-order functions are
      interpreted, ~10× slower) — kept as the engine-only reference
      implementation and for bit-exact cross-engine comparisons.

    Zero-norm (or empty) vectors have undefined cosine: BOTH
    implementations exclude them — as corpus rows they are never
    emitted, as queries they return no neighbors. (Without the explicit
    mask the two paths diverge: the kernel's ``> -inf`` filter silently
    drops NaN while the expr sort ranks NaN first.)
    """
    if implementation == "expr":
        q = queries.filter(F.expr(_norm(vec_col)) > 0).select(
            F.col(id_col).alias(query_id_col), F.col(vec_col).alias("_qvec")
        )
        scored = (
            corpus.filter(F.expr(_norm(vec_col)) > 0)
            .crossJoin(F.broadcast(q))
            .filter(F.col(id_col) != F.col(query_id_col))
            .withColumn("cosine", _cosine("_qvec", vec_col))
        )
    else:
        scored = _pandas_scored(
            corpus,
            queries,
            k=k,
            id_col=id_col,
            vec_col=vec_col,
            query_id_col=query_id_col,
        )
    return _neighbors(
        scored, query=query_id_col, neighbor=id_col, score="cosine", ascending=False, k=k
    )


def _pandas_scored(
    corpus: DataFrame,
    queries: DataFrame,
    *,
    k: int,
    id_col: str,
    vec_col: str,
    query_id_col: str,
) -> DataFrame:
    """BLAS scoring kernel with the per-partition top-k shrink: each
    ``mapInPandas`` task folds its Arrow batches into a running
    k-per-query candidate set — ordered by the SAME (rounded-cosine
    desc, corpus-id asc) key the final window ranks on, so the prune is
    lossless — and emits ONE frame of ≤ k·|queries| rows per partition.
    The global window therefore shuffles O(partitions · k · |queries|)
    rows, not |corpus| · |queries|. Self-matches and dead vectors
    (cosine undefined — see ``cosine_topk``) are masked to -inf inside
    the kernel so they can never displace a real candidate.

    The fold is fully vectorized: running candidates live in fixed
    (k × |queries|) matrices padded with -inf, and each batch is merged
    with ONE ``np.lexsort`` over (query-column, -score, corpus-id) —
    exactly the final window's ordering key, so the prune stays
    lossless — instead of a Python loop of per-query sorts."""
    q_ids, q_vecs = _collect(queries, id_col, vec_col)
    out_schema = f"{id_col} long, {query_id_col} long, cosine double"
    if not len(q_ids):
        # empty query table (an empty partition is routine at scale):
        # the (0,)-shaped query matrix breaks every axis-1 op below —
        # the correct result is simply no ranks
        return corpus.sparkSession.createDataFrame([], out_schema)
    Qn, q_live = _unit_rows(q_vecs)  # dead queries: no neighbors
    n_q = len(q_ids)

    def score(batches):
        run_s = np.full((k, n_q), -np.inf)
        run_i = np.full((k, n_q), np.iinfo(np.int64).max, dtype=np.int64)
        col = None
        for pdf in batches:
            if not len(pdf):
                continue
            ids = pdf[id_col].to_numpy(dtype=np.int64)
            Vn, v_live = _unit_rows(pdf[vec_col])
            # round BEFORE pruning: the window ranks on the rounded value
            S = np.round(Vn @ Qn.T, 6)  # (batch, n_queries)
            S[ids[:, None] == q_ids[None, :]] = -np.inf  # self-match
            S[~v_live, :] = -np.inf
            S[:, ~q_live] = -np.inf
            all_s = np.vstack([run_s, S])
            all_i = np.vstack([run_i, np.broadcast_to(ids[:, None], S.shape)])
            m = all_s.shape[0]
            if col is None or col.shape[0] != m:
                col = np.broadcast_to(np.arange(n_q), (m, n_q)).ravel()
            flat_s, flat_i = all_s.ravel(), all_i.ravel()
            order = np.lexsort((flat_i, -flat_s, col))
            top = order.reshape(n_q, m)[:, :k]  # per-column top-k
            run_s, run_i = flat_s[top].T, flat_i[top].T
        real = run_s > -np.inf  # (k, n_q)
        if real.any():
            out_q = np.broadcast_to(q_ids, (k, n_q))
            yield pd.DataFrame(
                {
                    id_col: run_i[real],
                    query_id_col: out_q[real],
                    "cosine": run_s[real],
                }
            )

    return corpus.select(id_col, vec_col).mapInPandas(score, out_schema)


def assign_ivf_buckets(
    corpus: DataFrame,
    centroids: DataFrame,
    *,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    centroid_id_col: str = "centroid_id",
    centroid_rows: list | None = None,
) -> DataFrame:
    """Assign every vector to its max-cosine centroid (ties at 6 dp →
    smallest centroid id).

    Centroids are collected to a small matrix and closed over by a
    ``mapInPandas`` kernel: one (batch × dim)·(dim × n_centroids) matmul
    + argmax per Arrow batch — one narrow pass over the corpus, no
    join, no shuffle. The corpus keeps its scan partitioning (at scale
    the parquet scan already yields one task per split; forcing a
    repartition here measured as pure overhead at every size tried).
    ``centroid_rows`` lets callers that already collected the centroid
    table skip the extra job.
    """
    c_ids, c_vecs = _collect(centroids, id_col, vec_col, centroid_rows)
    out_schema = (
        f"{id_col} long, {vec_col} array<float>, {centroid_id_col} long"
    )
    if not len(c_ids):
        # no centroids → no assignment is definable; empty result
        return corpus.sparkSession.createDataFrame([], out_schema)
    C = np.array(c_vecs, dtype=np.float64)
    Cn = C / np.linalg.norm(C, axis=1, keepdims=True)

    def assign(batches):
        for pdf in batches:
            # dead vectors score 0 vs every centroid → deterministic
            # assignment to the smallest centroid id (argmax first
            # index); they are dead at query time anyway
            Vn, _ = _unit_rows(pdf[vec_col])
            # round to 6 dp BEFORE argmax so tie-breaking (first index ==
            # smallest centroid id) matches the rank-on-rounded oracle
            S = np.round(Vn @ Cn.T, 6)
            yield pd.DataFrame(
                {
                    id_col: pdf[id_col],
                    vec_col: pdf[vec_col],
                    centroid_id_col: c_ids[np.argmax(S, axis=1)],
                }
            )

    return corpus.select(id_col, vec_col).mapInPandas(assign, out_schema)


def cosine_topk_ivf(
    corpus: DataFrame,
    queries: DataFrame,
    centroids: DataFrame,
    *,
    k: int = 5,
    n_probe: int = 3,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "query_id",
) -> DataFrame:
    """IVF approximate top-k: search only the ``n_probe`` buckets whose
    centroids are closest to the query.

    Fused plan: centroids and queries are tiny, driver-resident tables —
    collected ONCE each; probe ranking (6dp-rounded cosine, centroid-id
    tiebreak, self-centroid excluded) is a driver-side numpy step. The
    corpus is then scanned in a SINGLE narrow ``mapInPandas`` pass that
    assigns each vector's bucket, masks it against the broadcast
    bucket→queries probe map, and scores the surviving (vector, query)
    pairs with one batch matmul — no shuffle, no join; the only exchange
    left is the final top-k window over the (tiny) candidate set.

    Deterministic given deterministic centroids (callers pass a
    data-derived centroid set, e.g. the first N vectors; at scale:
    k-means|| via MLlib, then freeze the centroid table).
    """
    c_ids, c_vecs = _collect(centroids, id_col, vec_col)
    q_ids, q_vecs = _collect(queries, id_col, vec_col)
    if not len(c_ids) or not len(q_ids):
        # no centroids → no probe lists; no queries → no ranks (empty
        # partitions are routine at scale, not an error)
        return corpus.sparkSession.createDataFrame(
            [], f"{query_id_col} long, neighbor_id long, cosine double,"
            " rank int"
        )
    C = np.array(c_vecs, dtype=np.float64)
    Cn = C / np.linalg.norm(C, axis=1, keepdims=True)
    Qn, q_live = _unit_rows(q_vecs)
    S = np.round(Qn @ Cn.T, 6)
    # bucket id → boolean row over queries: does query j probe this bucket?
    # Dead queries probe nothing (cosine undefined, see cosine_topk).
    probe_mask = {int(cid): np.zeros(len(q_ids), dtype=bool) for cid in c_ids}
    for qi in np.flatnonzero(q_live):
        order = sorted(
            (-S[qi, ci], cid) for ci, cid in enumerate(c_ids) if cid != q_ids[qi]
        )[:n_probe]
        for _, cid in order:
            probe_mask[int(cid)][qi] = True
    out_schema = f"{query_id_col} long, {id_col} long, cosine double"

    def score(batches):
        for pdf in batches:
            ids = pdf[id_col].to_numpy(dtype=np.int64)
            Vn, v_live = _unit_rows(pdf[vec_col])
            # same rounded-argmax assignment convention as assign_ivf_buckets
            bucket = c_ids[np.argmax(np.round(Vn @ Cn.T, 6), axis=1)]
            mask = np.vstack([probe_mask[int(b)] for b in bucket])
            mask &= ids[:, None] != q_ids[None, :]
            mask &= v_live[:, None]  # dead corpus rows: never candidates
            vi, qi = np.nonzero(mask)
            if not len(vi):
                continue
            Sq = np.round(Vn @ Qn.T, 6)
            yield pd.DataFrame(
                {
                    query_id_col: q_ids[qi],
                    id_col: ids[vi],
                    "cosine": Sq[vi, qi],
                }
            )

    candidates = corpus.select(id_col, vec_col).mapInPandas(score, out_schema)
    return _neighbors(
        candidates, query=query_id_col, neighbor=id_col, score="cosine", ascending=False, k=k
    )


def train_ivf_centroids(
    corpus: DataFrame,
    *,
    k: int = 16,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    seed: int = 42,
    max_iter: int = 20,
) -> DataFrame:
    """Train IVF centroids with MLlib KMeans|| (the scale path for
    building the coarse quantizer — parallel k-means++ init, Lloyd
    iterations over the cluster).

    Returns (vec_id, embedding) shaped like a centroid table for
    ``cosine_topk_ivf`` (ids 0..k-1). Not oracle-checkable (float
    iteration order is engine-specific) — covered by quality tests.
    """
    from pyspark.ml.clustering import KMeans
    from pyspark.ml.functions import array_to_vector, vector_to_array

    featurized = corpus.select(
        F.col(id_col), array_to_vector(F.col(vec_col)).alias("features")
    )
    model = KMeans(k=k, seed=seed, maxIter=max_iter).fit(featurized)
    spark = corpus.sparkSession
    rows = [
        (i, [float(x) for x in c]) for i, c in enumerate(model.clusterCenters())
    ]
    return spark.createDataFrame(rows, f"{id_col} long, {vec_col} array<float>")


def _sign_bits(vectors, Rm: np.ndarray) -> np.ndarray:
    """(rows, planes) hyperplane sign bits: ``round(v·r, 6) >= 0``.

    The projection accumulates LEFT-ASSOCIATED over dimensions
    (vectorized across rows/planes, ordered across dims — IEEE addition
    is not associative, so a matmul would flip last-ulp signs), which is
    what keeps every bit equal to the DuckDB oracle's. A vector whose
    length is not the hyperplanes' ``dim`` raises ``ValueError``: a
    longer one would band on its first ``dim`` elements only.
    """
    dim = Rm.shape[1]
    bad = next((len(v) for v in vectors if len(v) != dim), None)
    if bad is not None:
        raise ValueError(f"vector length {bad} != hyperplane dim {dim}")
    V = np.array(list(vectors), dtype=np.float64)
    acc = np.zeros((len(V), Rm.shape[0]))
    for i in range(dim):
        acc += V[:, i, None] * Rm[None, :, i]
    return np.round(acc, 6) >= 0


def _band_signatures(
    df: DataFrame,
    R: list[list[float]],
    bands: int,
    *,
    out_id: str,
    vec_col: str,
) -> DataFrame:
    """(id, band, sig) hyperplane band signatures via a vectorized Arrow
    kernel over :func:`_sign_bits`.

    The expression form (one 64-term codegen'd sum per plane) exceeds
    janino's 64 KB method limit at 32 planes, so Spark silently falls
    back to interpreted evaluation — measured ~10× slower than this
    kernel.
    """
    Rm = np.asarray(R, dtype=np.float64)  # (planes, dim)
    rows_per = Rm.shape[0] // bands

    def sig(batches):
        for pdf in batches:
            if not len(pdf):
                continue
            bits = _sign_bits(pdf[vec_col], Rm)
            ids, bnd, sigs = [], [], []
            for b in range(bands):
                chunk = bits[:, b * rows_per : (b + 1) * rows_per]
                strs = [
                    "".join("1" if x else "0" for x in row) for row in chunk
                ]
                ids.extend(pdf[out_id])
                bnd.extend([b] * len(strs))
                sigs.extend(strs)
            yield pd.DataFrame({out_id: ids, "band": bnd, "sig": sigs})

    return df.select(out_id, vec_col).mapInPandas(
        sig, f"{out_id} long, band int, sig string"
    )


def cosine_topk_lsh(
    corpus: DataFrame,
    queries: DataFrame,
    *,
    k: int = 5,
    planes: int = 32,
    bands: int = 8,
    dim: int = 64,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "query_id",
) -> DataFrame:
    """LSH-bucketed approximate top-k — the third ANN strategy beside
    brute force and IVF: random-hyperplane sign bits split into bands;
    a corpus vector becomes a candidate for a query iff they agree on
    ALL bits of at least one band; candidates re-rank by exact cosine.

    Shape at 100 TB: band signatures are an equi-join key, so the
    corpus side joins the (tiny, broadcast) query signature table with
    NO shuffle and NO all-pairs scan — per-query work is proportional
    to its bucket sizes, the recall/cost dial being (planes, bands).
    Same deterministic md5-derived hyperplanes + fold/6dp-round sign
    convention as ``dedup.embedding_lsh_pairs``, so a DuckDB oracle
    reproduces every bit. May return fewer than ``k`` neighbors — the
    recall tradeoff is the point; brute force is the ground truth.
    """
    R = hyperplane_signs(planes, dim)
    c_live = corpus.filter(_live(vec_col))
    q_live = queries.filter(_live(vec_col)).select(
        F.col(id_col).alias(query_id_col), F.col(vec_col)
    )
    candidates = (
        _band_signatures(c_live, R, bands, out_id=id_col, vec_col=vec_col)
        .join(
            F.broadcast(
                _band_signatures(q_live, R, bands, out_id=query_id_col, vec_col=vec_col)
            ),
            ["band", "sig"],
        )
        .filter(F.col(id_col) != F.col(query_id_col))
        .select(
            F.col(query_id_col).alias("_qid"), F.col(id_col).alias("_cid")
        )
        .distinct()
    )
    scored = (
        candidates.join(
            c_live.alias("c"), F.col("_cid") == F.col(f"c.{id_col}")
        )
        .join(
            F.broadcast(q_live.alias("q")),
            F.col("_qid") == F.col(f"q.{query_id_col}"),
        )
        .withColumn("cosine", _cosine(f"c.{vec_col}", f"q.{vec_col}"))
    )
    return _neighbors(
        scored,
        query="_qid",
        neighbor="_cid",
        score="cosine",
        ascending=False,
        k=k,
        query_as=query_id_col,
    )


def _sig_words(
    df: DataFrame,
    R: list[list[float]],
    *,
    out_id: str,
    vec_col: str,
) -> DataFrame:
    """(id, word): hyperplane sign bits (:func:`_sign_bits`) packed into
    ONE int64 — bit i is plane i's sign. ``len(R)`` must be ≤ 60: the
    DuckDB twin builds the word as a sum of ``2^i`` BIGINT literals,
    which must stay clear of the sign bit.
    """
    Rm = np.asarray(R, dtype=np.float64)  # (planes, dim)
    weights = 1 << np.arange(Rm.shape[0], dtype=np.int64)

    def sig(batches):
        for pdf in batches:
            if not len(pdf):
                continue
            bits = _sign_bits(pdf[vec_col], Rm).astype(np.int64)
            yield pd.DataFrame(
                {
                    out_id: pdf[out_id].to_numpy(),
                    "word": (bits * weights[None, :]).sum(axis=1),
                }
            )

    return df.select(out_id, vec_col).mapInPandas(
        sig, f"{out_id} long, word long"
    )


def hamming_topk(
    corpus: DataFrame,
    queries: DataFrame,
    *,
    k: int = 5,
    planes: int = 60,
    bands: int = 4,
    dim: int = 64,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "query_id",
    exclude_self: bool = True,
) -> DataFrame:
    """Binary-quantized ANN: each vector becomes a ``planes``-bit
    hyperplane-sign word, and neighbors rank by Hamming distance — the
    32×-compression retrieval tier (a 64-dim float vector becomes one
    int64) that binary-quantization vector stores ship as their cheap
    first pass.

    Candidate generation is pigeonhole banding on the WORD ITSELF:
    band b is bit-slice ``(word >> b·w) & (2^w − 1)`` (w = planes ÷
    bands), pure JVM bit arithmetic — no per-band signature strings,
    no second kernel pass. Two words within Hamming distance
    ``bands − 1`` MUST agree on at least one full slice (pigeonhole),
    so close neighbors are guaranteed candidates; farther ones appear
    only if they happen to share a slice — the recall dial is
    (planes, bands), brute force is the ground truth twin.

    Shape at 100 TB: the corpus side computes words in one Arrow
    kernel pass and joins the (tiny, broadcast) query band table with
    NO shuffle and NO all-pairs scan; per-query work is proportional
    to its band-bucket sizes. Distances are ``bit_count(xor)`` on two
    int64s — exact integers, oracle-reproducible bit-for-bit.

    Ranking: smallest Hamming first, ties → smallest corpus id.
    Output: (query_id, neighbor_id, hamming, rank), rank ≤ k. May
    return fewer than k neighbors (banding recall). Zero-norm and
    non-finite vectors are dead on both sides (FINITE contract — the
    sign of a zero projection would be convention, not geometry).

    ``exclude_self=True`` (default) drops candidates whose corpus id
    EQUALS the query id — correct when queries are drawn from the
    corpus id space (the self-match is a degenerate distance-0 hit).
    When queries carry an INDEPENDENT id namespace, a legitimate
    neighbor could collide with a query id by accident: pass
    ``exclude_self=False`` there (ADVICE r10).
    """
    if planes % bands or planes > 60:
        raise ValueError("planes must be a multiple of bands and ≤ 60")
    bits_per = planes // bands
    mask = (1 << bits_per) - 1
    R = hyperplane_signs(planes, dim)
    c_words = _sig_words(
        corpus.filter(_live(vec_col)), R, out_id=id_col, vec_col=vec_col
    )
    q_words = _sig_words(
        queries.filter(_live(vec_col)).select(
            F.col(id_col).alias(query_id_col), F.col(vec_col)
        ),
        R,
        out_id=query_id_col,
        vec_col=vec_col,
    )

    def banded(df: DataFrame, idc: str, word_out: str) -> DataFrame:
        slices = ", ".join(
            f"{b}, shiftright(word, {bits_per * b}) & {mask}"
            for b in range(bands)
        )
        return df.selectExpr(
            idc,
            f"word AS {word_out}",
            f"stack({bands}, {slices}) AS (band, bkey)",
        )

    cand = banded(c_words, id_col, "_cw").join(
        F.broadcast(banded(q_words, query_id_col, "_qw")),
        ["band", "bkey"],
    )
    if exclude_self:
        cand = cand.filter(F.col(id_col) != F.col(query_id_col))
    cand = cand.select(query_id_col, id_col, "_qw", "_cw").distinct()
    scored = cand.withColumn(
        "hamming", F.bit_count(F.col("_qw").bitwiseXOR(F.col("_cw")))
    )
    return _neighbors(
        scored, query=query_id_col, neighbor=id_col, score="hamming", ascending=True, k=k
    )


def _on_grid(
    df: DataFrame, id_col: str, vec_col: str, out_id: str, out_vec: str
) -> DataFrame:
    """(out_id, out_vec): the finite vectors of ``df`` on the PQ grid."""
    return df.filter(_finite(vec_col)).select(
        F.col(id_col).alias(out_id), F.expr(_PQ_GRID.format(v=vec_col)).alias(out_vec)
    )


def _probe_lists(
    qg: DataFrame, cg: DataFrame, *, query_id_col: str, dim: int, n_probe: int
) -> DataFrame:
    """IVF probe ranking on the grid: each grid query (``_qv``) keeps its
    ``n_probe`` nearest coarse lists (``list_id``, ``_cv``) by exact
    full-vector int64 L2, ties → smallest list id."""
    d2 = F.expr(_PQ_BLOCK_D2.format(a="_qv", b="_cv", off=1, bs=dim))
    return _topk(
        qg.crossJoin(F.broadcast(cg)).withColumn("_d2", d2),
        [query_id_col],
        [F.asc("_d2"), F.asc("list_id")],
        n_probe,
        "_rn",
    )


def _code_rows(codes: DataFrame, id_col: str, *carry: str) -> DataFrame:
    """(_vid, *carry, m, code): one row per PQ block of each encoded
    vector."""
    return codes.select(
        F.col(id_col).alias("_vid"),
        *carry,
        F.posexplode(F.split("codes", ",")).alias("m", "_c"),
    ).select("_vid", *carry, "m", F.col("_c").cast("long").alias("code"))


def _block_lut(
    pairs: DataFrame, cols: list[str], *, a: str, b: str, n_blocks: int, bs: int
) -> DataFrame:
    """Per-block distance lookup table: every (query, codeword) row of
    ``pairs`` explodes into one row per block ``m`` carrying the exact
    int64 block distance ``d2p`` between grid arrays ``a`` and ``b``.
    ``cols`` names the output columns in order, ``m`` and ``d2p``
    included."""
    bd = F.explode(
        F.array(
            *[
                F.struct(
                    F.lit(m).alias("m"),
                    F.expr(
                        _PQ_BLOCK_D2.format(a=a, b=b, off=m * bs + 1, bs=bs)
                    ).alias("d2p"),
                )
                for m in range(n_blocks)
            ]
        )
    ).alias("bd")
    made = ("m", "d2p")
    return pairs.select(*[c for c in cols if c not in made], bd).select(
        *[F.col(f"bd.{c}").alias(c) if c in made else c for c in cols]
    )


def _adc_topk(joined: DataFrame, query_id_col: str, k: int) -> DataFrame:
    """Sum each (query, vector)'s block distances into ``d2_adc`` and
    rank: smallest first, ties → smallest corpus id."""
    scored = joined.groupBy(query_id_col, "_vid").agg(F.sum("d2p").alias("d2_adc"))
    return _neighbors(
        scored, query=query_id_col, neighbor="_vid", score="d2_adc", ascending=True, k=k
    )


def ivfpq_residual_topk(
    corpus: DataFrame,
    coarse: DataFrame,
    residual_codebook: DataFrame,
    queries: DataFrame,
    *,
    k: int = 5,
    n_blocks: int = 4,
    n_probe: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "query_id",
    centroid_id_col: str = "centroid_id",
) -> DataFrame:
    """IVF-PQ top-k with RESIDUAL encoding — full faiss semantics: the
    corpus is stored as (list_id, residual codes) via
    :func:`~sales_data_etl_pipeline_spark.operators.embeddings.pq_encode_residual`;
    each query probes its ``n_probe`` nearest coarse lists, builds one
    distance LUT PER PROBED LIST against the shared residual codebook
    (the residual is list-dependent: ``qr = grid(q) − grid(c_list)``),
    and ADC-scans only the probed lists' code rows. Everything stays
    on the shared integer grid, so every distance is exact int64 and a
    SQL oracle reproduces ranks bit-for-bit.

    vs :func:`pq_adc_topk` + the plain IVF-PQ composition: raw-vector
    PQ quantizes the full embedding range with K codewords; residual
    PQ centers each list's vectors first, so codes spend their entire
    budget on the (much tighter) residual distribution — sharper
    distances at identical storage, the reason faiss defaults to it.

    Shape at 100 TB: the corpus is touched only through its code table
    (narrow, partitioned by list_id); the LUT is |Q|·n_probe·K_res·M
    rows (bounded — codebooks are small by definition) and rides an
    equi-join on (query, list, block, code); the per-(query, vector)
    sum is map-side combinable. Output: (query_id, neighbor_id,
    d2_adc, rank), ties → smallest corpus id.
    """
    c_ids, C, r_ids, RC = residual_codewords(
        coarse,
        residual_codebook,
        vec_col=vec_col,
        centroid_id_col=centroid_id_col,
    )
    spark = corpus.sparkSession
    out_schema = (
        f"{query_id_col} long, neighbor_id long, d2_adc long, rank int"
    )
    if C is None or RC is None:
        return spark.createDataFrame([], out_schema)
    dim = C.shape[1]
    bs = _block_size(dim, n_blocks)
    codes = pq_encode_residual(
        corpus,
        coarse,
        residual_codebook,
        n_blocks=n_blocks,
        id_col=id_col,
        vec_col=vec_col,
        centroid_id_col=centroid_id_col,
    )
    # K coarse-grid rows + K_res integer codewords as tiny DataFrames
    cg = spark.createDataFrame(
        [(int(i), [int(x) for x in row]) for i, row in zip(c_ids, C)],
        "list_id long, _cv array<bigint>",
    )
    rc = spark.createDataFrame(
        [(int(i), [int(x) for x in row]) for i, row in zip(r_ids, RC)],
        "code long, _rv array<bigint>",
    )
    # probe the n_probe nearest lists, and carry the list-dependent
    # integer query residual forward
    probes = _probe_lists(
        _on_grid(queries, id_col, vec_col, query_id_col, "_qv"),
        cg,
        query_id_col=query_id_col,
        dim=dim,
        n_probe=n_probe,
    ).select(
        query_id_col,
        "list_id",
        F.expr("zip_with(_qv, _cv, (x, y) -> x - y)").alias("_qr"),
    )
    lut = _block_lut(
        probes.crossJoin(F.broadcast(rc)),
        [query_id_col, "list_id", "m", "code", "d2p"],
        a="_qr",
        b="_rv",
        n_blocks=n_blocks,
        bs=bs,
    )
    # IVF restriction: a code row is scanned only by queries probing
    # its list — the join on list_id IS the probe; no broadcast hint on
    # the LUT join (AQE decides; see pq_adc_topk's sizing note)
    return _adc_topk(
        _code_rows(codes, id_col, "list_id").join(lut, ["list_id", "m", "code"]),
        query_id_col,
        k,
    )


def cosine_range_join(
    left: DataFrame,
    right: DataFrame,
    *,
    threshold: float = 0.8,
    planes: int = 32,
    bands: int = 4,
    dim: int = 64,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Cross-corpus cosine-threshold RANGE JOIN between two embedding
    TABLES — the entity-resolution shape (link records of corpus A to
    their near-matches in corpus B; the fuzzy-key generalization of the
    reference's exact-key enrichment join, ``et_vendas.py:363-365``).

    Neither side is assumed small: both tables band through the same
    deterministic hyperplane kernel (:func:`_band_signatures`), and
    candidates come from a plain shuffle EQUI-join on (band, sig) —
    co-partitioned by the band key, never corpus×corpus. Candidates are
    then verified with the exact sequential-fold cosine and filtered at
    ``threshold``. This differs from ``cosine_topk_lsh`` (one side tiny
    → broadcast, top-k per query) and from ``dedup.embedding_lsh_pairs``
    (ONE corpus, a<b): here both sides scale independently and EVERY
    qualifying cross pair is emitted, unranked.

    At 100 TB×100 TB: work is bucket-volume-bound — each (band, sig)
    bucket joins independently, the recall/cost dial is (planes,
    bands), and a skewed bucket (e.g. near-zero vectors hashing
    together) splits under AQE skew-join like any other equi-join.

    Same md5-derived ±1 hyperplanes + left-associated fold + 6dp-round
    sign convention as the whole module, so a DuckDB oracle reproduces
    every bit. Zero-norm / non-finite vectors are dead on BOTH sides
    (cosine undefined — the module contract). Output: (left_id,
    right_id, cosine) with cosine rounded to 6 dp.
    """
    l_live = left.filter(_live(vec_col)).select(
        F.col(id_col).alias("left_id"), F.col(vec_col)
    )
    r_live = right.filter(_live(vec_col)).select(
        F.col(id_col).alias("right_id"), F.col(vec_col)
    )
    R = hyperplane_signs(planes, dim)
    l_sig = _band_signatures(l_live, R, bands, out_id="left_id", vec_col=vec_col)
    r_sig = _band_signatures(r_live, R, bands, out_id="right_id", vec_col=vec_col)
    # NO broadcast hint: both corpora may be huge — this is a plain
    # shuffle equi-join on (band, sig); AQE broadcasts if one side
    # happens to be small
    candidates = (
        l_sig.join(r_sig, ["band", "sig"])
        .select("left_id", "right_id")
        .distinct()
    )
    return (
        candidates.join(l_live.alias("l"), "left_id")
        # pin the verify stage's width: the exact-cosine fold below is
        # compute-dense on byte-light rows, and AQE's 64 MB advisory
        # coalescing folded it onto ONE task at gate scale (measured:
        # 1.9 s of knn_graph's 3.0 s on a single core). An explicit
        # count (REPARTITION_BY_NUM) is AQE-coalesce-proof, and because
        # it hash-partitions on the SECOND join's key the join reuses
        # the exchange — no extra shuffle, just a pinned width.
        .repartition(shuffle_width(left), F.col("right_id"))
        .join(r_live.alias("r"), "right_id")
        .withColumn("cosine", _cosine(f"l.{vec_col}", f"r.{vec_col}"))
        .filter(F.col("cosine") >= threshold)
        .select("left_id", "right_id", "cosine")
    )


def cosine_range_topk(
    left: DataFrame,
    right: DataFrame,
    *,
    k: int = 5,
    threshold: float = 0.8,
    planes: int = 32,
    bands: int = 4,
    dim: int = 64,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    salt_buckets: int = 16,
) -> DataFrame:
    """Top-k-per-left variant of :func:`cosine_range_join` — bounded
    output for hub vectors (r9 runway item): a left record linking to
    thousands of qualifying right matches emits only its ``k`` best,
    so downstream joins and sinks see ≤ |left|·k rows no matter how
    hot a hub is.

    Candidates and the exact-cosine verify are exactly
    :func:`cosine_range_join` (banded hyperplane equi-join on (band,
    sig), threshold filter, 6dp-rounded cosine). Ranking is the salted
    two-phase top-k of :func:`_topk_per_left` (same exactness argument
    as ``corpus.domain_cap``).

    Order: cosine DESC, right_id ASC (deterministic ties). Output:
    (left_id, right_id, cosine, rank), rank 1..k.
    """
    pairs = cosine_range_join(
        left,
        right,
        threshold=threshold,
        planes=planes,
        bands=bands,
        dim=dim,
        id_col=id_col,
        vec_col=vec_col,
    )
    return _topk_per_left(pairs, k=k, salt_buckets=salt_buckets)


def _topk_per_left(
    pairs: DataFrame, *, k: int, salt_buckets: int
) -> DataFrame:
    """Salted two-phase top-k over (left_id, right_id, cosine) pairs:
    phase 1 ranks within (left_id, salt) keeping ≤ k — parallel even
    for a one-hub result — phase 2 re-ranks the ≤ salt_buckets·k
    survivors per left. Exact (every global top-k row is in its salt
    group's top-k); reducer width bounded by |matches(left)|/salt_buckets
    then salt_buckets·k, where a single window would funnel every hub
    match through one reducer."""
    order = [F.desc("cosine"), F.asc("right_id")]
    salted = pairs.withColumn(
        "_salt", F.pmod(F.xxhash64("right_id"), F.lit(salt_buckets))
    )
    phase1 = _topk(salted, ["left_id", "_salt"], order, k, "_r1").drop("_r1", "_salt")
    return _topk(phase1, ["left_id"], order, k).select(
        "left_id",
        "right_id",
        "cosine",
        F.col("rank").cast("long").alias("rank"),
    )


def knn_graph_mutual(
    corpus: DataFrame,
    *,
    k: int = 5,
    threshold: float = 0.0,
    planes: int = 32,
    bands: int = 4,
    dim: int = 64,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    salt_buckets: int = 16,
) -> DataFrame:
    """Mutual-kNN graph edges over ONE embedding corpus — the offline
    graph-construction primitive behind graph-ANN indexes and
    graph-based dedup/clustering: an undirected edge (a, b) exists iff
    b is in a's k nearest banded neighbors AND a is in b's.

    Directed kNN lists come from the single-corpus form of
    :func:`cosine_range_topk` (banded hyperplane candidates on a
    (band, sig) equi-join — never corpus², self-pairs excluded before
    ranking, exact cosine ≥ ``threshold``); mutuality is one
    self-equi-join of the directed edge list on the reversed key. The
    mutual filter is the standard symmetrization that drops hub-to-
    satellite edges a hub's own top-k never reciprocates.

    Output: (id_a, id_b, cosine, rank_ab, rank_ba) with id_a < id_b —
    rank_ab = b's rank in a's list, rank_ba = a's in b's. At 100 TB
    the directed list is ≤ |corpus|·k rows, so the mutual join is
    output-bound and equi-keyed; candidate generation inherits the
    range join's bucket-volume bound and AQE skew handling.
    """
    live = corpus.select(id_col, vec_col)
    directed = _topk_per_left(
        cosine_range_join(
            live,
            live,
            threshold=threshold,
            planes=planes,
            bands=bands,
            dim=dim,
            id_col=id_col,
            vec_col=vec_col,
        ).filter(F.col("left_id") != F.col("right_id")),
        k=k,
        salt_buckets=salt_buckets,
    )
    fwd = directed.select(
        F.col("left_id").alias("id_a"),
        F.col("right_id").alias("id_b"),
        "cosine",
        F.col("rank").alias("rank_ab"),
    ).filter(F.col("id_a") < F.col("id_b"))
    rev = directed.select(
        F.col("right_id").alias("id_a"),
        F.col("left_id").alias("id_b"),
        F.col("rank").alias("rank_ba"),
    ).filter(F.col("id_a") < F.col("id_b"))
    return fwd.join(rev, ["id_a", "id_b"]).select(
        "id_a", "id_b", "cosine", "rank_ab", "rank_ba"
    )


def kmeans_assign(
    corpus: DataFrame,
    centroids: DataFrame,
    *,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    centroid_id_col: str = "centroid_id",
) -> DataFrame:
    """One k-means assignment step by cosine: each corpus vector goes to
    its nearest centroid (max rounded cosine, ties → smallest centroid
    id) — the Lloyd's-iteration / IVF-list-build primitive, factored
    out so clustering composes from gated pieces the way
    ``cosine_topk_ivf`` already consumes its centroid table.

    Same execution shape as :func:`_pandas_scored`: the centroid matrix
    is collected once (K·dim — list-build inputs are small by
    definition) and broadcast into an Arrow kernel; each batch scores
    against all centroids in ONE BLAS matmul and emits (vec_id,
    centroid_id, cosine_q6) — cosine pre-rounded to 6dp and quantized
    to an exact integer so any downstream aggregate sums bigints,
    order-free across engines. Dead corpus vectors are excluded
    (cosine undefined — the fuzz-pinned module contract); dead
    centroids can never win (scored -inf).

    Per-row work only — no shuffle at all in the assignment itself; at
    100 TB this is the embarrassingly parallel half of Lloyd's, and the
    re-centering half is a plain keyed mean the caller composes.
    """
    c_ids, c_vecs = _collect(centroids, centroid_id_col, vec_col)
    out_schema = f"{id_col} long, {centroid_id_col} long, cosine_q6 long"
    if not len(c_ids):
        # no centroids → no assignment (empty partition, not an error)
        return corpus.sparkSession.createDataFrame([], out_schema)
    Cn, c_live = _unit_rows(c_vecs)

    def assign(batches):
        for pdf in batches:
            if not len(pdf):
                continue
            ids = pdf[id_col].to_numpy(dtype=np.int64)
            Vn, live = _unit_rows(pdf[vec_col])
            if not live.any():
                continue
            S = np.round(Vn[live] @ Cn.T, 6)
            S[:, ~c_live] = -np.inf
            # argmax over columns sorted by centroid id ascending: the
            # first max IS the smallest-id tiebreak
            best = S.argmax(axis=1)
            best_s = S[np.arange(len(best)), best]
            # if EVERY centroid is dead, best_s is -inf and the row has
            # no valid assignment — emit nothing (mirrors the dead-query
            # handling in _pandas_scored; the oracle's dead-centroid
            # filter produces no rows for this degenerate input either)
            ok = np.isfinite(best_s)
            if not ok.any():
                continue
            yield pd.DataFrame(
                {
                    id_col: ids[live][ok],
                    centroid_id_col: c_ids[best[ok]],
                    "cosine_q6": np.floor(
                        best_s[ok] * 1_000_000 + 0.5
                    ).astype(np.int64),
                }
            )

    return corpus.select(id_col, vec_col).mapInPandas(assign, out_schema)


def pq_adc_topk(
    corpus: DataFrame,
    codebook: DataFrame,
    queries: DataFrame,
    *,
    k: int = 5,
    n_blocks: int = 4,
    dim: int | None = None,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "query_id",
    centroid_id_col: str = "centroid_id",
    candidates: DataFrame | None = None,
) -> DataFrame:
    """Asymmetric-distance (ADC) top-k over PQ codes — the scan half of
    IVF-PQ, the layout that makes 100 TB ANN affordable: the corpus is
    touched only through its ``n_blocks`` small integer codes (from
    :func:`~sales_data_etl_pipeline_spark.operators.embeddings.pq_encode`),
    never its raw vectors. Per query, a distance LOOKUP TABLE
    ``LUT[m][c] = ‖q_m − c_m‖²`` is built against the codebook (|q|·K·M
    rows — tiny, broadcast), and each corpus vector's approximate
    distance is the sum of M table lookups:
    ``d2_adc(q, v) = Σ_m LUT[m][code_m(v)]``.

    Everything runs on the shared integer grid (``clamp(round(x·16),
    ±127)``) so every distance is exact int64 and the oracle reproduces
    ranks bit-for-bit. Fully JVM-side: grid quantization and block
    distances are array expressions, the LUT rides one broadcast hash
    join keyed on (block, code), and the per-(query, vector) sum is a
    map-side-combinable aggregate. At cluster scale the same plan
    composes with IVF: restrict ``corpus`` to the probed lists first
    (the codes table is partitioned by list id), and the scan cost per
    query drops to the probed fraction.

    Ranking: smallest d2_adc first, ties → smallest corpus id. Output:
    (query_id, neighbor_id, d2_adc, rank), rank ≤ k. Non-finite
    queries are excluded (FINITE contract); the corpus side inherits
    pq_encode's exclusion.

    ``candidates`` (optional, columns (query_id, id)): restrict each
    query's scan to ITS candidate set — this is the IVF probe path:
    pass the (query, vector) pairs from the probed coarse lists and
    the ADC scan touches only that fraction of the code table (the
    full IVF-PQ layout; see the ivf-pq gate for the composition).
    """
    # Derive the true dimension FROM the codebook (one tiny action — a
    # codebook is small by definition; pq_encode collects it outright).
    # Trusting a caller-supplied dim is silently wrong: slice() past the
    # array end yields EMPTY blocks whose distance sums to 0, while
    # pq_encode blocks on the real dim — mismatched LUTs, wrong ranks,
    # no error. A supplied dim is now only a cross-check.
    span = (
        codebook.filter(_finite(vec_col))
        .agg(
            F.min(F.size(vec_col)).alias("lo"),
            F.max(F.size(vec_col)).alias("hi"),
        )
        .first()
    )
    if span["lo"] is None:
        # Empty / all-non-finite codebook: no code is definable, so the
        # result is empty for ANY dim. Return it DIRECTLY instead of
        # composing the full plan — the composed plan only stayed
        # error-free because AQE's empty-relation propagation eliminated
        # the join before the query-side raise_error projection ran;
        # with AQE disabled a real 64-dim query row would hit the
        # wrong-dim raise_error branch spuriously (r9 ADVICE).
        from pyspark.sql import types as T

        out_schema = T.StructType(
            [
                T.StructField(
                    query_id_col, queries.schema[id_col].dataType, True
                ),
                T.StructField(
                    "neighbor_id", corpus.schema[id_col].dataType, True
                ),
                T.StructField("d2_adc", T.LongType(), True),
                T.StructField("rank", T.IntegerType(), True),
            ]
        )
        return corpus.sparkSession.createDataFrame([], out_schema)
    if span["lo"] != span["hi"]:
        raise ValueError(
            f"pq_adc_topk: ragged codebook dims {span['lo']}..{span['hi']}"
        )
    if dim is not None and dim != span["lo"]:
        raise ValueError(
            f"pq_adc_topk: dim={dim} but codebook vectors are "
            f"{span['lo']}-dimensional"
        )
    dim = int(span["lo"])
    bs = _block_size(dim, n_blocks)
    codes = pq_encode(
        corpus,
        codebook,
        n_blocks=n_blocks,
        id_col=id_col,
        vec_col=vec_col,
        centroid_id_col=centroid_id_col,
    )
    q_grid = queries.filter(_finite(vec_col)).select(
        F.col(id_col).alias(query_id_col),
        # a wrong-dim query would score every corpus vector at 0 via
        # empty slices — error loudly instead (executor-side guard)
        F.when(
            F.size(vec_col) == F.lit(dim),
            F.expr(_PQ_GRID.format(v=vec_col)),
        )
        .otherwise(
            F.raise_error(
                F.concat(
                    F.lit("pq_adc_topk: query vector dim "),
                    F.size(vec_col).cast("string"),
                    F.lit(f" != codebook dim {dim}"),
                )
            )
        )
        .alias("_qv"),
    )
    lut = _block_lut(
        q_grid.crossJoin(F.broadcast(_on_grid(codebook, centroid_id_col, vec_col, "code", "_cv"))),
        [query_id_col, "code", "m", "d2p"],
        a="_qv",
        b="_cv",
        n_blocks=n_blocks,
        bs=bs,
    )
    # NO broadcast hint on the LUT join: the LUT is |Q|·K·M rows —
    # bounded in deployment (K≈256 codewords, batched queries) where
    # AQE will pick broadcast on its own, but a FORCED broadcast fails
    # outright when a fixture or caller scales |Q|·K (measured: the
    # 100× soak's 540M-row LUT). Un-hinted, the plan degrades to a
    # shuffle hash join on the (block, code) key.
    code_rows = _code_rows(codes, id_col)
    if candidates is not None:
        cand = candidates.select(query_id_col, F.col(id_col).alias("_vid"))
        joined = code_rows.join(cand, "_vid").join(lut, [query_id_col, "m", "code"])
    else:
        joined = code_rows.join(lut, ["m", "code"])
    return _adc_topk(joined, query_id_col, k)


def kmeans_lloyd_int(
    corpus: DataFrame,
    *,
    k: int = 8,
    iterations: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Exact-integer Lloyd k-means TRAINING on the shared grid — the
    codebook-producing half the PQ/IVF family was missing
    (:func:`kmeans_assign` / ``pq_encode`` consume centroid tables;
    this derives them): vectors quantize to the module's int grid
    (``clamp(round(x·16), ±127)``), assignment is exact int64 squared
    L2 (ties → smallest centroid id), and re-centering is per-dim
    ``trunc(sum / count)`` — every value integer end-to-end, so an
    unrolled SQL oracle reproduces the final codebook bit-for-bit
    (truncating division, NOT floor: DuckDB ``//`` truncates toward
    zero on integers while Python ``//`` floors — pinned by test).

    Deterministic seed: the ``k`` grid vectors with smallest id.
    Dead centroids (no members after an assignment) KEEP their previous
    coordinates (faiss keep-empty semantics — deterministic, no
    re-init RNG). Fixed ``iterations`` (training budget, like
    ``pagerank``); non-finite vectors are excluded by the module's
    FINITE contract.

    Scale shape: assignment is a broadcast of K·dim ints against the
    corpus scan (embarrassingly parallel, no corpus shuffle); the
    update is one (centroid, dim) hash aggregate whose result — K·dim
    rows — is collected driver-side per iteration, the same
    codebook-bounded collect contract as ``pq_encode``. Output:
    (centroid_id, dim, val) exploded rows — array-free so the driver
    hash compares scalars.
    """
    spark = corpus.sparkSession
    g = _grid_vectors(corpus, id_col=id_col, vec_col=vec_col)
    cents = _lloyd_train_grid(spark, g, k=k, iterations=iterations)
    if not cents:
        return spark.createDataFrame(
            [], "centroid_id long, dim long, val long"
        )
    out = [
        (cid, d, v)
        for cid, vec in sorted(cents.items())
        for d, v in enumerate(vec)
    ]
    return spark.createDataFrame(
        out, "centroid_id long, dim long, val long"
    )


def _grid_vectors(
    corpus: DataFrame, *, id_col: str, vec_col: str
) -> DataFrame:
    """(_vid, _gv): finite vectors quantized onto the module int grid,
    lineage-cut because every Lloyd iteration (and the final
    assignment) rescans them."""
    return ckpt.checkpoint(
        _on_grid(corpus, id_col, vec_col, "_vid", "_gv"),
        eager=False,  # reused every iteration
    )


def _assign_grid(cents: dict[int, list[int]], g: DataFrame) -> DataFrame:
    """Nearest-centroid assignment, exact int64 L2, ties → smallest
    centroid id: broadcast of K·dim ints against the grid scan —
    embarrassingly parallel, no corpus shuffle. Returns
    (_vid, _gv, _cid)."""
    spark = g.sparkSession
    cdf = spark.createDataFrame(
        [(cid, v) for cid, v in sorted(cents.items())],
        "_cid long, _cv array<bigint>",
    )
    return (
        g.crossJoin(F.broadcast(cdf))
        .select(
            "_vid",
            "_gv",
            F.struct(F.expr(_GRID_D2).alias("_d2"), F.col("_cid")).alias(
                "_s"
            ),
        )
        .groupBy("_vid", "_gv")
        .agg(F.min("_s").alias("_m"))
        .select("_vid", "_gv", F.col("_m._cid").alias("_cid"))
    )


def _lloyd_train_grid(
    spark, g: DataFrame, *, k: int, iterations: int
) -> dict[int, list[int]]:
    """The Lloyd loop behind :func:`kmeans_lloyd_int` (see its
    docstring for the full semantics contract), factored out so
    :func:`semantic_dedup` trains the same codebook. Returns the final
    ``{centroid_id: grid_vector}`` map — K·dim ints, the
    codebook-bounded driver-side state contract — or ``{}`` on an
    empty/all-non-finite corpus."""
    seed_rows = g.orderBy("_vid").limit(k).collect()
    if not seed_rows:
        return {}
    cents: dict[int, list[int]] = {
        i: list(r["_gv"]) for i, r in enumerate(seed_rows)
    }
    for _ in range(iterations):
        sums = (
            _assign_grid(cents, g)
            .select("_cid", F.posexplode("_gv").alias("dim", "val"))
            .groupBy("_cid", "dim")
            .agg(F.sum("val").alias("s"), F.count(F.lit(1)).alias("n"))
            .collect()  # K·dim rows — codebook-bounded by contract
        )
        new_cents: dict[int, list[int]] = {}
        for r in sums:
            new_cents.setdefault(int(r["_cid"]), [0] * len(cents[0]))[
                int(r["dim"])
            ] = _trunc_div(int(r["s"]), int(r["n"]))
        for cid, v in cents.items():  # dead centroids keep coordinates
            new_cents.setdefault(cid, v)
        cents = new_cents
    return cents


def semantic_dedup(
    corpus: DataFrame,
    *,
    k: int = 8,
    iterations: int = 1,
    tau_num: int = 19,
    tau_den: int = 20,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """SemDeDup (Abbas et al. 2023, arXiv:2303.09540): cluster the
    corpus embeddings with k-means, then drop near-duplicates WITHIN
    each cluster by pairwise cosine — the clustering confines the
    quadratic pair test to cluster-sized blocks, which is the entire
    point of the method at 100 TB (k grows with the corpus so cluster
    width stays bounded; the cluster join is a plain equi-join on
    ``centroid_id``).

    Exact-integer end-to-end so a SQL oracle reproduces it
    bit-for-bit: training/assignment reuse the :func:`kmeans_lloyd_int`
    grid kernel, and the cosine threshold test ``cos(a,b) ≥
    tau_num/tau_den`` is evaluated WITHOUT sqrt or division as ``dot >
    0 AND tau_den²·dot² ≥ tau_num²·|a|²·|b|²`` over int64 grid values
    (|dot| ≤ 64·127² so every product fits int64). Drop rule is the
    deterministic greedy-by-id variant: vector v is dropped iff SOME
    smaller-id vector in the same cluster passes the threshold test
    against it (v's keeper may itself be dropped by an even smaller
    id — greedy, not connected-components; pinned by test). Zero-norm
    grid vectors (all elements quantize to 0) are never similar to
    anything — cosine undefined, the module-wide contract.

    Output: one row per finite corpus vector — (vec_id, centroid_id,
    kept) — the full disposition, so downstream filters compose either
    way.
    """
    spark = corpus.sparkSession
    out_schema = f"{id_col} long, centroid_id long, kept boolean"
    g = _grid_vectors(corpus, id_col=id_col, vec_col=vec_col)
    cents = _lloyd_train_grid(spark, g, k=k, iterations=iterations)
    if not cents:
        return spark.createDataFrame([], out_schema)
    assigned = ckpt.checkpoint(
        _assign_grid(cents, g)
        .withColumn(
            "_n2",
            F.expr(
                "aggregate(transform(_gv, x -> x * x), 0L,"
                " (acc, x) -> acc + x)"
            ),
        )
        # consumed 3× below (a, b, out)
    )
    a = assigned.select(
        F.col("_vid").alias("_aid"),
        F.col("_gv").alias("_agv"),
        "_cid",
        F.col("_n2").alias("_a2"),
    )
    b = assigned.select(
        F.col("_vid").alias("_bid"),
        F.col("_gv").alias("_bgv"),
        "_cid",
        F.col("_n2").alias("_b2"),
    )
    dropped = (
        a.join(b, "_cid")
        .filter(F.col("_aid") < F.col("_bid"))
        .withColumn("_dot", F.expr(_INT_DOT.format(a="_agv", b="_bgv")))
        .filter(
            (F.col("_a2") > 0)
            & (F.col("_b2") > 0)
            & (F.col("_dot") > 0)
            & (
                F.lit(tau_den * tau_den) * F.col("_dot") * F.col("_dot")
                >= F.lit(tau_num * tau_num) * F.col("_a2") * F.col("_b2")
            )
        )
        .select(F.col("_bid").alias("_vid"))
        .distinct()
    )
    return assigned.join(
        dropped.withColumn("_dropped", F.lit(True)), "_vid", "left"
    ).select(
        F.col("_vid").alias(id_col),
        F.col("_cid").alias("centroid_id"),
        F.col("_dropped").isNull().alias("kept"),
    )


def ann_recall(
    truth: DataFrame,
    approx: DataFrame,
    *,
    query_id_col: str = "query_id",
    neighbor_col: str = "neighbor_id",
) -> DataFrame:
    """Per-query recall of an approximate top-k result against exact
    ground truth — the evaluation half every ANN deployment needs
    (faiss's recall@k): for each query, |approx ∩ truth| / |truth| in
    exact ppm. Gives the (probes, planes, bands) tuning dial a
    measured value instead of a vibe.

    Both inputs are top-k result tables — n_queries·k rows by
    construction, so the (query, neighbor) equi-join is bounded by the
    SMALLER evaluation set regardless of corpus size; this never
    touches the corpus itself. Queries present in ``truth`` but absent
    from ``approx`` score 0 (left join); queries absent from truth
    (zero-norm: no defined neighbors) are absent from the report —
    recall over an empty truth set is undefined, mirroring the
    module-wide zero-norm contract.
    """
    t = truth.select(query_id_col, neighbor_col)
    a = approx.select(query_id_col, neighbor_col).withColumn(
        "_hit", F.lit(1).cast("long")
    )
    return (
        t.join(a, [query_id_col, neighbor_col], "left")
        .groupBy(query_id_col)
        .agg(
            F.count(F.lit(1)).alias("n_truth"),
            F.coalesce(F.sum("_hit"), F.lit(0)).alias("n_hits"),
        )
        .select(
            query_id_col,
            "n_truth",
            "n_hits",
            F.expr("(n_hits * 1000000L) div n_truth").alias("recall_ppm"),
        )
    )


def _trunc_div(a: int, b: int) -> int:
    """Integer division truncating toward zero — DuckDB ``//``
    semantics (Python ``//`` floors, which differs on negatives)."""
    if b == 0:
        return 0
    q = abs(a) // abs(b)
    return q if (a >= 0) == (b > 0) else -q


def pca_power_int(
    corpus: DataFrame,
    *,
    iterations: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Exact-integer power iteration for the corpus' top principal
    direction — distributed linear algebra as two aggregations (the
    MLlib ``RowMatrix``/``computePrincipalComponents`` shape, von
    Mises–Rayleigh power method): per round, ``u = X·v`` is a per-row
    dot against the broadcast dim-vector (embarrassingly parallel,
    zero shuffle) and ``w = Xᵀ·u`` is one posexplode +
    map-side-combinable (dim, Σ x·u) hash aggregate — the corpus never
    shuffles on anything wider than the dim index, and driver state is
    ONE dim-length int vector per round (the codebook-bounded collect
    contract shared with ``kmeans_lloyd_int``).

    Exact-integer contract (bit-reproducible, unrolled-SQL-oracle-
    checkable): vectors on the module grid (``clamp(round(x·16),
    ±127)``), v₀ = all-ones, and each new v rescales to the ±127 grid
    by ``trunc_div(w·127, max|w|)`` — truncation toward zero, DuckDB
    ``//`` semantics. The all-zero degenerate corpus (max|w| = 0) maps
    to the all-zero vector. Mean-centering is deliberately NOT applied
    (this is the dominant direction of X, faiss-PCA-without-centering;
    compose with a centering pass if covariance PCA is wanted).

    int64 bounds: |u| ≤ dim·127² ≈ 2²⁰ at dim 64; |w| ≤ N·127·|u| —
    inside int64 up to N ≈ 7·10¹³ rows.

    Output: (dim, val) exploded rows, the final grid vector.
    """
    spark = corpus.sparkSession
    g = _grid_vectors(corpus, id_col=id_col, vec_col=vec_col)
    first = g.select(F.size("_gv").alias("_d")).first()
    if first is None:
        return spark.createDataFrame([], "dim long, val long")
    dim = int(first["_d"])
    v = [1] * dim
    for _ in range(iterations):
        vlit = F.array([F.lit(int(x)) for x in v])
        dotted = (
            g.withColumn("_v", vlit)
            .select(F.expr(_INT_DOT.format(a="_gv", b="_v")).alias("_u"), "_gv")
        )
        w_rows = (
            dotted.select("_u", F.posexplode("_gv").alias("_j", "_x"))
            .groupBy("_j")
            .agg(F.sum(F.col("_x") * F.col("_u")).alias("_w"))
            .collect()
        )
        w = [0] * dim
        for r in w_rows:
            w[r["_j"]] = int(r["_w"])
        m = max(abs(x) for x in w) if w else 0
        v = [_trunc_div(x * 127, m) for x in w]
    return spark.createDataFrame(
        list(enumerate(v)), "dim long, val long"
    )


def hamming_rerank_topk(
    corpus: DataFrame,
    queries: DataFrame,
    *,
    k: int = 5,
    shortlist: int = 20,
    planes: int = 60,
    bands: int = 4,
    dim: int = 64,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "query_id",
    exclude_self: bool = True,
) -> DataFrame:
    """Two-tier retrieval — the production binary-quantization serving
    shape: tier 1 shortlists ``shortlist`` candidates per query by
    packed-word Hamming distance (:func:`hamming_topk` — int64 xor/
    bit_count over 32×-compressed signatures, banded candidates, no
    all-pairs scan), tier 2 re-ranks ONLY the shortlist by exact
    cosine and keeps ``k``. The expensive float work touches
    ``|queries| · shortlist`` vectors no matter the corpus size — the
    cost model that makes billion-vector binary indexes usable.

    Cosine uses the module's 6dp-round convention; final order
    (cosine DESC, id ASC). Output: (query_id, neighbor_id, cosine,
    rank ≤ k). ``exclude_self`` passes through to the tier-1
    shortlist (see :func:`hamming_topk` — disable it when query ids
    are an independent namespace).
    """
    short = hamming_topk(
        corpus,
        queries,
        k=shortlist,
        planes=planes,
        bands=bands,
        dim=dim,
        id_col=id_col,
        vec_col=vec_col,
        query_id_col=query_id_col,
        exclude_self=exclude_self,
    ).select(query_id_col, F.col("neighbor_id").alias("_cid"))
    q_side = queries.select(
        F.col(id_col).alias(query_id_col), F.col(vec_col)
    )
    scored = (
        short.join(
            corpus.alias("c"), F.col("_cid") == F.col(f"c.{id_col}")
        )
        .join(
            F.broadcast(q_side.alias("q")),
            query_id_col,
        )
        .withColumn("cosine", _cosine(f"c.{vec_col}", f"q.{vec_col}"))
    )
    return _neighbors(
        scored, query=query_id_col, neighbor="_cid", score="cosine", ascending=False, k=k
    )
