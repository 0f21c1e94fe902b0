"""Deduplication operators: exact, n-gram Jaccard, MinHash+LSH, SimHash,
embedding-cosine near-dup (extension layer — training-data pipeline ops).

Cross-engine determinism convention: shingle/token ids are derived from
``md5`` — both Spark and DuckDB produce the identical hex digest, so
``sid = int(hex[:15]) mod P`` is bit-identical across engines with NO
shared hash implementation, no corpus dictionary, no sort, and no join.
This is also the real 100 TB path: id assignment is embarrassingly
parallel (a projection), where the earlier dense-rank dictionary forced
a global single-partition window.

Scale shapes:

- Exact dedup: hash-aggregate on md5(text) — one shuffle on the digest.
- MinHash+LSH: per-doc signature (narrow) → explode to (band, sig) →
  self-join per band bucket. Candidate generation touches only docs that
  collide in a band — this is the subquadratic scale path.
- n-gram Jaccard (exact): candidate pairs via shared-shingle join —
  quadratic in hot shingles; kept as the verification/oracle primitive
  and for small corpora. LSH is the scale path.
- SimHash: 64→32-bit fingerprints; pairwise hamming here (small corpus),
  multi-index banding at scale.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import Column, DataFrame, Observation, Window
from pyspark.sql import functions as F

from sales_data_etl_pipeline_spark import catalog
from sales_data_etl_pipeline_spark.operators import ckpt
from sales_data_etl_pipeline_spark.operators.similarity import (
    _band_signatures as _hyperplane_bands,
    _cosine,
    _live,
    hyperplane_signs,
)
from sales_data_etl_pipeline_spark.operators.text import TOKENIZE
from sales_data_etl_pipeline_spark.session import shuffle_width

#: MinHash mixer constants: h_k(sid) = ((2k+1)·sid + (3k+7)) mod P.
#: P = 2³¹−1 (Mersenne prime): sid < P keeps (2k+1)·sid ≪ 2⁶³ (no ANSI
#: overflow) and makes hash collisions between distinct shingles
#: negligible (n²/2P even at millions of shingles per corpus).
MINHASH_P = 2_147_483_647

#: Rounds between the lineage cuts of the fixed-iteration graph loops
#: (:func:`pagerank`, :func:`label_propagation`).
CKPT_EVERY = 8


def q6(col: Column) -> Column:
    """Cross-engine-stable 6dp rounding: floor(x·10⁶ + 0.5)/10⁶.

    ``F.round`` is BigDecimal HALF_UP on the shortest decimal repr while
    DuckDB ``ROUND`` rounds the binary value — a quotient whose decimal
    repr ends in a 7th-place 5 (e.g. 1/640 = 0.0015625) diverges between
    them. The floor composite is pure double arithmetic, bit-identical
    in both engines; oracles use the same ``floor(x*1e6 + 0.5)/1e6``.
    """
    return F.floor(col * 1_000_000 + F.lit(0.5)) / 1_000_000


def hash_id_expr(col: str, mod: int) -> str:
    """Spark SQL expr: deterministic id in [0, mod) from md5(col).

    First 15 hex chars (60 bits, always fits a signed bigint) → integer.
    Identical in DuckDB via :func:`hash_id_sql` — md5 is md5 everywhere.
    """
    return (
        f"pmod(cast(conv(substring(md5({col}), 1, 15), 16, 10) as bigint),"
        f" {mod}L)"
    )


def hash_id_sql(col: str, mod: int) -> str:
    """DuckDB twin of :func:`hash_id_expr` (same value, same type)."""
    return f"(CAST('0x' || substr(md5({col}), 1, 15) AS BIGINT) % {mod})"


def _shingle_expr(toks: str, n: int) -> str:
    """n-gram shingles via a zip of n shifted slices — one big allocation
    per doc instead of one small slice per position (~30% faster than the
    per-position form in the interpreted higher-order evaluator)."""
    zips = ", ".join(
        f"slice({toks}, {i + 1}, greatest(size({toks}) - {n - 1}, 0))" for i in range(n)
    )
    concat = ", ' ', ".join(f"s['{i}']" for i in range(n))
    return (
        f"array_distinct(transform(arrays_zip({zips}), s -> concat({concat})))"
    )


def shingles(text_col: str = "text", n: int = 3) -> Column:
    """Distinct word n-gram shingle strings for one document."""
    toks = TOKENIZE.format(col=text_col)
    return F.expr(_shingle_expr(toks, n))


def fan_out(df: DataFrame, *cols: str) -> DataFrame:
    """Hash-distribute ``df`` on ``cols`` ahead of a compute-bound,
    shuffle-free kernel — the scan-parallelism fix for inputs that
    arrive as a handful of parquet splits (far fewer than the cores a
    kernel like md5+fold winnowing or the banded Levenshtein DP wants).

    Two properties the hard-coded ``repartition(defaultParallelism,
    key)`` it replaces lacked: the fan-out width is the session's
    ``spark.sql.shuffle.partitions`` (one tunable knob per deployment),
    and the shuffle is SKIPPED when the input already carries at least
    that many partitions (a wide scan at cluster scale needs no extra
    fan-out; forcing one would re-shuffle the full raw-text bytes for
    nothing). Streaming inputs always take the repartition: their
    partition count is per-micro-batch and unknowable at plan time,
    and the single-file-burst trap is exactly the case to guard.

    The count is passed EXPLICITLY (``REPARTITION_BY_NUM``), never the
    count-free ``repartition(cols)`` form: AQE coalesces the count-free
    exchange by BYTE size (64 MB advisory target), and these kernels
    are compute-bound on a ~20×+ expansion of their input bytes —
    byte-sizing is exactly the wrong heuristic. Measured when a
    count-free draft shipped: AQE folded the 6 MB winnowing fan-out
    back to ONE partition and the gate went 2.38 → 8.46 s (levenshtein
    0.89 → 4.54 s, triangles 1.93 → 5.57 s) — the very one-core trap
    the repartition exists to break. Caught by the re-measure-before-
    close rule; the explicit count restores the r11 numbers.

    The width probe (``df.rdd.getNumPartitions()``) converts the plan
    to an RDD on the Python side — deliberate and acceptable: it is
    PLAN-TIME analyzer work only (no job runs), happens once per
    operator CONSTRUCTION (never per row or per batch), and the answer
    depends on the exact input plan, so caching it on the Python
    DataFrame object would trade a nil measured cost for a staleness
    hazard when callers rebuild plans over changed inputs.
    """
    target = shuffle_width(df)
    if not df.isStreaming and df.rdd.getNumPartitions() >= target:
        return df
    return df.repartition(target, *[F.col(c) for c in cols])


def exact_dedup(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Exact dedup: keep the smallest doc_id per identical text (md5 key).

    groupBy on the 128-bit digest, not the text: the shuffle carries 32
    bytes + id per row regardless of document size.
    """
    return (
        df.withColumn("_h", F.md5(F.col(text_col)))
        .groupBy("_h")
        .agg(F.min("doc_id").alias("doc_id"), F.count(F.lit(1)).alias("n_copies"))
        .drop("_h")
    )


def shingle_sets(df: DataFrame, text_col: str = "text", n: int = 3) -> DataFrame:
    """Exploded distinct (doc_id, shingle) pairs.

    Tokenizes ONCE into a column before shingling — inlining the regex
    split inside the transform lambda re-splits per shingle position
    (measured ~10× slower). Fans out by doc_id first (:func:`fan_out`):
    document parquet files arrive in a handful of input splits, far
    fewer than the cores available for this compute-bound explode.
    """
    return (
        fan_out(df, "doc_id")
        .select("doc_id", F.expr(TOKENIZE.format(col=text_col)).alias("_toks"))
        .select(
            "doc_id",
            F.explode(F.expr(_shingle_expr("_toks", n))).alias("sh"),
        )
    )


def _shingle_ids(sh: DataFrame, keys: tuple[str, ...] = ("doc_id",)) -> DataFrame:
    """(*keys, sh, sid): md5-derived shingle id in [0, MINHASH_P).

    A pure projection — no dictionary, no sort, no shuffle. Identical
    ids in DuckDB (:func:`hash_id_sql`), so oracles stay bit-exact.
    """
    return sh.select(*keys, "sh", F.expr(hash_id_expr("sh", MINHASH_P)).alias("sid"))


def _mixer(k: int, sid: str) -> str:
    """Spark SQL for the k-th MinHash mixer over the bigint ``sid``:
    h_k(sid) = ((2k+1)·sid + (3k+7)) mod P — the one definition the
    batch aggregate and the streaming row-wise kernel share."""
    return f"pmod(({2 * k + 1}) * {sid} + ({3 * k + 7}), {MINHASH_P})"


def _minhash_per_doc(
    ids: DataFrame,
    num_hashes: int,
    keys: tuple[str, ...] = ("doc_id",),
    verify: str = "join",
) -> DataFrame:
    """(*keys, sid) rows → one row per doc: _mh0.._mh{K-1} and the
    distinct-shingle count ``sz`` in ONE groupBy — no (doc, k) explode:
    the shuffle carries |docs| rows of K longs instead of |shingles|·K
    rows. ``verify="sets"`` also carries the shingle list ``_shset``
    for :func:`_intersect`."""
    if verify not in ("sets", "join"):
        raise ValueError(f"verify must be 'sets' or 'join', got {verify!r}")
    aggs = [
        F.min(F.expr(_mixer(k, "sid"))).alias(f"_mh{k}") for k in range(num_hashes)
    ]
    aggs.append(F.count(F.lit(1)).alias("sz"))
    if verify == "sets":
        aggs.append(F.collect_list("sh").alias("_shset"))
    return ids.groupBy(*keys).agg(*aggs)


def _lsh_bands(
    num_hashes: int,
    bands: int,
    mh: Callable[[int], Column] = lambda k: F.col(f"_mh{k}"),
) -> Column:
    """A doc's LSH bucket keys as ``explode(array(struct(band, sig)))``:
    the K min-hashes ``mh(k)`` split into ``bands`` contiguous bands of
    K/bands rows, a band's signature its rows comma-joined. Docs
    agreeing on ALL rows of any band become candidates; with K=16, b=4
    the candidate probability is 1-(1-j^4)^4 — steep around j≈0.5.

    Built before any job runs, so a bad split raises up front: a band
    of zero rows would give every doc the signature '' (all pairs
    become candidates), and a remainder would silently drop hashes.
    """
    if bands < 1 or num_hashes < bands or num_hashes % bands:
        raise ValueError(
            f"bands must be >= 1 and divide num_hashes={num_hashes}, got {bands}"
        )
    rows = num_hashes // bands
    return F.explode(
        F.array(
            *[
                F.struct(
                    F.lit(b).alias("band"),
                    F.concat_ws(
                        ",", *[mh(b * rows + r) for r in range(rows)]
                    ).alias("sig"),
                )
                for b in range(bands)
            ]
        )
    )


def _band_signatures(
    df: DataFrame, lsh_bands: Column, keep: tuple[str, ...] = ("doc_id",)
) -> DataFrame:
    """(*keep, band, sig) rows of :func:`_lsh_bands` — one banding for
    every batch and streaming operator, so bucket keys are
    byte-identical across them."""
    return df.select(*keep, lsh_bands.alias("bs")).select(
        *keep, F.col("bs.band").alias("band"), F.col("bs.sig").alias("sig")
    )


def _self_candidates(band_sig: DataFrame) -> DataFrame:
    """Distinct (id_a < id_b) pairs sharing a (band, sig) bucket."""
    a, b = band_sig.alias("a"), band_sig.alias("b")
    return (
        a.join(
            b,
            (F.col("a.band") == F.col("b.band")) & (F.col("a.sig") == F.col("b.sig")),
        )
        .filter(F.col("a.doc_id") < F.col("b.doc_id"))
        .select(F.col("a.doc_id").alias("id_a"), F.col("b.doc_id").alias("id_b"))
        .distinct()
    )


def _cross_candidates(base_bs: DataFrame, inc_bs: DataFrame) -> DataFrame:
    """Distinct (base_id, doc_id) pairs sharing a bucket: strictly
    base-bands ⋈ incoming-bands, so incoming never self-joins and base
    never re-pairs with itself — per-batch cost is O(|incoming| +
    matched candidates) regardless of corpus size."""
    return (
        base_bs.select(F.col("doc_id").alias("base_id"), "band", "sig")
        .join(inc_bs, ["band", "sig"])
        .select("base_id", "doc_id")
        .distinct()
    )


def _keyed(df: DataFrame, key: str, **cols: str) -> DataFrame:
    """``df`` re-keyed for one side of a pair join: doc_id as ``key``,
    each column ``cols[name]`` renamed to ``name``. doc_id is not
    aliased to itself: the optimizer keeps such an alias in some plans."""
    doc = F.col("doc_id")
    return df.select(
        doc if key == "doc_id" else doc.alias(key),
        *[F.col(c).alias(name) for name, c in cols.items()],
    )


def _with_sizes(
    pairs: DataFrame, a: str, sizes_a: DataFrame, b: str, sizes_b: DataFrame
) -> DataFrame:
    """Attach each side's shingle count (``sz`` → sz_a, sz_b).

    NO broadcast hint: the sizes tables hold one row PER DOCUMENT — AQE
    broadcasts them while small, but at the 10⁹-doc design point a
    forced broadcast of a multi-GB table fails outright, while the
    un-hinted plan degrades gracefully to a shuffle join on the id key.
    """
    return pairs.join(_keyed(sizes_a, a, sz_a="sz"), a).join(
        _keyed(sizes_b, b, sz_b="sz"), b
    )


def _intersect(
    candidates: DataFrame,
    verify: str,
    side_a: tuple[str, DataFrame, DataFrame],
    side_b: tuple[str, DataFrame, DataFrame],
) -> DataFrame:
    """Exact |A∩B| of candidate pairs: (key_a, key_b, sz_a, sz_b,
    inter). Each side is (key, per-doc table, shingle table). Both
    modes give identical output:

    - ``"sets"`` — ``array_intersect`` on the shingle lists the per-doc
      aggregate carried (:func:`_minhash_per_doc`). No second shuffle
      of the shingle table, but row width is O(doc shingle count):
      right when documents are bounded.
    - ``"join"`` — no ``collect_list`` anywhere; only the candidate
      docs' shingles are joined back and counted. Bounded row width
      regardless of document size — the 100 TB setting when single docs
      can hold millions of shingles.
    """
    (a, pd_a, sh_a), (b, pd_b, sh_b) = side_a, side_b
    if verify == "sets":
        return (
            candidates.join(_keyed(pd_a, a, sz_a="sz", _set_a="_shset"), a)
            .join(_keyed(pd_b, b, sz_b="sz", _set_b="_shset"), b)
            .withColumn("inter", F.size(F.array_intersect("_set_a", "_set_b")))
        )
    inter = (
        candidates.join(_keyed(sh_a, a, _sh="sh"), a)
        .join(_keyed(sh_b, b, _sh="sh"), [b, "_sh"])
        .groupBy(a, b)
        .agg(F.count(F.lit(1)).alias("inter"))
    )
    return _with_sizes(inter, a, pd_a, b, pd_b)


def _exact_pairs(sh: DataFrame) -> DataFrame:
    """(id_a < id_b, inter, sz_a, sz_b) for every pair sharing ≥1
    shingle: |A∩B| from the shared-shingle self-join, sizes from
    per-doc counts — quadratic in hot shingles."""
    sizes = sh.groupBy("doc_id").agg(F.count(F.lit(1)).alias("sz"))
    a, b = sh.alias("a"), sh.alias("b")
    inter = (
        a.join(b, F.col("a.sh") == F.col("b.sh"))
        .filter(F.col("a.doc_id") < F.col("b.doc_id"))
        .groupBy(F.col("a.doc_id").alias("id_a"), F.col("b.doc_id").alias("id_b"))
        .agg(F.count(F.lit(1)).alias("inter"))
    )
    return _with_sizes(inter, "id_a", sizes, "id_b", sizes)


def _over(df: DataFrame, threshold: float, name: str) -> DataFrame:
    """Keep rows whose raw ``_ratio`` ≥ threshold and emit it 6dp-rounded
    as ``name`` — the oracle's convention: a raw ratio in [threshold −
    5e-7, threshold) must NOT be admitted by rounding."""
    return df.filter(F.col("_ratio") >= threshold).withColumn(
        name, q6(F.col("_ratio"))
    )


def _jaccard(pairs: DataFrame, threshold: float) -> DataFrame:
    """Thresholded ``jaccard`` = inter / (sz_a + sz_b − inter)."""
    return _over(
        pairs.withColumn(
            "_ratio",
            F.col("inter") / (F.col("sz_a") + F.col("sz_b") - F.col("inter")),
        ),
        threshold,
        "jaccard",
    )


def _directed_containment(pairs: DataFrame, threshold: float) -> DataFrame:
    """Both directed ratios of each (id_a, id_b, inter, sz_a, sz_b) row —
    the intersection is symmetric, so it is counted once per unordered
    pair — thresholded to (doc_id, host_id, containment)."""

    def hit(doc: str, host: str, sz: str) -> Column:
        return F.struct(
            F.col(doc).alias("doc_id"),
            F.col(host).alias("host_id"),
            (F.col("inter") / F.col(sz)).alias("_ratio"),
        )

    both = F.array(hit("id_a", "id_b", "sz_a"), hit("id_b", "id_a", "sz_b"))
    directed = pairs.select(F.explode(both).alias("d")).select(
        "d.doc_id", "d.host_id", "d._ratio"
    )
    return _over(directed, threshold, "containment").select(
        "doc_id", "host_id", "containment"
    )


def _best_per_doc(matches: DataFrame, score: str) -> DataFrame:
    """Each incoming doc's best base match: highest rounded ``score``,
    smallest base id on ties → (doc_id, base_id, score)."""
    w = Window.partitionBy("doc_id").orderBy(F.desc(score), F.asc("base_id"))
    return (
        matches.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") == 1)
        .select("doc_id", "base_id", score)
    )


def ngram_jaccard_pairs(
    df: DataFrame, *, n: int = 3, threshold: float = 0.6, text_col: str = "text"
) -> DataFrame:
    """Exact n-gram Jaccard near-dup pairs (a < b, jaccard ≥ threshold).

    Candidates = pairs sharing ≥1 shingle; |A∩B| from the join, sizes
    from per-doc counts, jaccard = inter / (|A|+|B|−inter).
    """
    pairs = _exact_pairs(shingle_sets(df, text_col, n))
    return _jaccard(pairs, threshold).select("id_a", "id_b", "jaccard")


def minhash_lsh_pairs(
    df: DataFrame,
    *,
    num_hashes: int = 16,
    bands: int = 4,
    n: int = 3,
    threshold: float = 0.5,
    text_col: str = "text",
    verify: str = "sets",
    max_shingle_df: float | None = None,
) -> DataFrame:
    """MinHash+LSH near-dup pairs: band → bucket-join candidates → exact
    Jaccard verification (a < b, jaccard ≥ threshold).

    Banding (:func:`_lsh_bands`): K hashes split into ``bands`` bands of
    K/bands rows; ``bands`` must divide ``num_hashes``. ``verify`` picks
    the exact-|A∩B| strategy, ``"sets"`` or ``"join"`` (identical
    output; :func:`_intersect`).

    ``max_shingle_df`` (stop-shingle cap, standard near-dup practice):
    drop shingles appearing in more than that FRACTION of documents
    before signatures, banding, and verification. A pathological hot
    shingle (boilerplate header, templated sentence) pulls its docs'
    min-hashes toward the same values, concentrating candidates in a
    few (band, sig) buckets — the quadratic-in-hot-shingles tail. The
    hot set is tiny by construction (≤ avg-shingles-per-doc / f
    shingles can exceed document frequency f), so the removal is a
    broadcast anti-join: the corpus-side shingle table never shuffles
    for it. ``None`` (default) keeps the historical exact semantics.
    """
    lsh_bands = _lsh_bands(num_hashes, bands)
    # ONE groupBy(doc_id) computes everything per-doc downstream work
    # needs: the K min-hashes, the distinct-shingle count, and (sets)
    # the shingle set itself. The exploded shingle table is shuffled
    # once; banding, the candidate self-join, and verification all run
    # on the |docs|-row result. The checkpoint materializes the per-doc
    # table once for its four consumers (band self-join ×2, verify ×2).
    sh = shingle_sets(df, text_col, n)
    if max_shingle_df is not None:
        sh = _drop_hot_shingles(sh, max_shingle_df, site="minhash_lsh:shingle_df")
    per_doc = ckpt.checkpoint(
        _minhash_per_doc(_shingle_ids(sh), num_hashes, verify=verify)
    )
    candidates = _self_candidates(_band_signatures(per_doc, lsh_bands))
    pairs = _intersect(
        candidates, verify, ("id_a", per_doc, sh), ("id_b", per_doc, sh)
    )
    return _jaccard(pairs, threshold).select("id_a", "id_b", "jaccard")


def simhash_fingerprints(df: DataFrame, text_col: str = "text") -> DataFrame:
    """32-bit SimHash per doc from md5-derived token hashes.

    Token hash h = md5-id mod 2³² (uniform already — no extra mixing);
    fingerprint bit j is the sign of Σ(2·bit_j(h) − 1) over the doc's
    distinct tokens.

    Computed in ONE narrow Arrow pass: tokenize → distinct → md5 → ±1
    bit accumulation all happen per doc inside the kernel, so there is
    NO token explode and NO shuffle at all (the earlier expression form
    shuffled |tokens| rows through a 32-column aggregate — measured ~2×
    slower end-to-end on the banded pair plan). Integer-only
    arithmetic, so results are bit-identical to the DuckDB oracle;
    Python tokenization (``re.split`` on ``[^a-z0-9]+`` after
    ``lower()``) matches the JVM TOKENIZE convention exactly on ASCII
    corpora (verified corpus-wide).
    """
    import hashlib
    import re

    import numpy as np
    import pandas as pd

    tok_re = re.compile(r"[^a-z0-9]+")
    shifts = np.arange(32, dtype=np.int64)

    def fp(batches):
        for pdf in batches:
            ids, sigs = [], []
            for doc_id, text in zip(pdf["doc_id"], pdf[text_col]):
                toks = {t for t in tok_re.split((text or "").lower()) if t}
                if not toks:
                    # parity with the explode form: token-less docs have
                    # no fingerprint row (explode of an empty array)
                    continue
                hs = np.array(
                    [
                        int(hashlib.md5(t.encode()).hexdigest()[:15], 16)
                        % 4294967296
                        for t in toks
                    ],
                    dtype=np.int64,
                )
                acc = (2 * ((hs[:, None] >> shifts) & 1) - 1).sum(axis=0)
                ids.append(doc_id)
                sigs.append(int(((acc > 0).astype(np.int64) << shifts).sum()))
            yield pd.DataFrame({"doc_id": ids, "simhash": sigs})

    # fan out ahead of the kernel (same rationale as winnowing/shingle
    # scans): documents arrive as a handful of parquet splits, and the
    # per-token Python md5 fold is compute-bound on its input bytes —
    # without it the kernel runs as wide as the scan (2 tasks at the
    # sf0.1 gate shape) regardless of available cores. At the gate
    # scale the end-to-end effect is a measured WASH (interleaved
    # JIT-warm A/B r13: 1.47 s vs 1.53 s — local Python-worker spawn
    # cost masks the width win), but at the intermediate scales the
    # trap targets (one ~1 GB file = 8 splits, 32 cores, warm workers)
    # kernel CPU dominates and width wins, as winnowing measured; a
    # wide scan at cluster scale skips the shuffle (fan_out contract).
    return fan_out(df.select("doc_id", text_col), "doc_id").mapInPandas(
        fp, "doc_id long, simhash long"
    )


def simhash_pairs(
    df: DataFrame, *, max_hamming: int = 6, text_col: str = "text"
) -> DataFrame:
    """Near-dup pairs by SimHash hamming distance ≤ ``max_hamming``.

    All-pairs theta-join — kept ONLY as the verification oracle for
    :func:`simhash_pairs_banded` (the scale path), which returns the
    identical pair set through an equi-join.
    """
    fp = simhash_fingerprints(df, text_col)
    a, b = fp.alias("a"), fp.alias("b")
    return (
        a.join(b, F.col("a.doc_id") < F.col("b.doc_id"))
        .withColumn(
            "hamming", F.bit_count(F.col("a.simhash").bitwiseXOR(F.col("b.simhash")))
        )
        .filter(F.col("hamming") <= max_hamming)
        .select(
            F.col("a.doc_id").alias("id_a"),
            F.col("b.doc_id").alias("id_b"),
            "hamming",
        )
    )


def simhash_pairs_banded(
    df: DataFrame, *, max_hamming: int = 6, text_col: str = "text"
) -> DataFrame:
    """Exact SimHash near-dup pairs via multi-index block banding.

    Pigeonhole: split the 32-bit fingerprint into ``max_hamming + 1``
    contiguous blocks — a pair within the hamming budget differs in at
    most ``max_hamming`` bit positions, so at least one block matches
    EXACTLY. Index every doc under its (block_idx, block_value) keys and
    equi-join on them: candidates are only docs sharing a block, then
    ``bit_count`` verifies the full distance. Same output as the
    all-pairs form (:func:`simhash_pairs`), but the shuffle is a hash
    join on short keys instead of an O(n²) theta-join — the plan that
    survives a 100× scale-up. Output: (id_a, id_b, hamming), a < b.

    Measured (local[32]): at 50k docs / 64M output pairs banded runs
    2.3× faster than all-pairs (12.2s vs 27.6s) and the gap widens
    quadratically with n. Below ~5k docs all-pairs wins on fixed stage
    overhead (0.9s vs 1.7s at the sf0.01 gate shape) — on a corpus
    where near-dups are >40% of ALL pairs the output itself is Θ(n²),
    so no candidate scheme can beat the single-stage nested loop there.
    """
    # Pin the fingerprint table: four plan branches below (distinct
    # signatures, two membership sides, the hamming-0 self-join) would
    # each recompute the explode×32 + double groupBy otherwise.
    fp = ckpt.checkpoint(simhash_fingerprints(df, text_col))
    # Hot-bucket guard (VERDICT r2): near-dup clusters put MANY docs with
    # the IDENTICAL fingerprint into the same (blk, val) buckets, and the
    # doc-level equi-join re-quadratices inside them. Band over DISTINCT
    # fingerprints instead — pigeonhole holds at the signature level — so
    # a bucket holds one row per distinct signature no matter how many
    # docs share it. Doc pairs are then recovered by (a) expanding each
    # qualifying signature pair through two membership joins and (b) a
    # per-signature self-join for the hamming-0 pairs; both are sized by
    # the OUTPUT pair set, never by an intermediate candidate blow-up.
    m = max_hamming + 1
    base, rem = divmod(32, m)
    widths = [base + 1 if i < rem else base for i in range(m)]
    starts = [sum(widths[:i]) for i in range(m)]
    blocks = F.array(
        *[
            F.struct(
                F.lit(i).alias("blk"),
                F.expr(
                    f"shiftright(simhash, {starts[i]}) & {(1 << widths[i]) - 1}"
                ).alias("val"),
            )
            for i in range(m)
        ]
    )
    sigs = fp.select("simhash").distinct()
    # Width note (r13 adjudication, refined r14): AQE coalesces the
    # (blk, val) self-join exchange to 2 tasks at gate scale (~44 kB of
    # shuffle; 168 kB at sf0.1). Interleaved JIT-warm A/Bs measured an
    # explicit deployment-width pin a WASH twice — r13: 1.37-1.62 s vs
    # 1.43-1.67 s; r14 (16k-advisory proxy, 5 alternations): 2.09-2.46
    # vs 1.88-2.39 s. The r13 note blamed first-run codegen for the
    # audit flag; r14 showed the stage crosses the 800 ms heuristic on
    # WARM runs too, so the flag is real but the pin is not a win: the
    # per-row work (first-match predicate + bit_count) is
    # byte-proportional, exactly where AQE's advisory sizing is right.
    # No pin; the audit carries this stage in its adjudicated map with
    # a 1 MB shuffle-read ceiling (tools/width_audit.py).
    ex = sigs.select("simhash", F.explode(blocks).alias("b")).select(
        "simhash", "b.blk", "b.val"
    )
    a, b = ex.alias("a"), ex.alias("b")

    def blkval(col: str, i: int) -> str:
        return f"(shiftright({col}, {starts[i]}) & {(1 << widths[i]) - 1})"

    # first-matching-block filter: a pair sharing k blocks would surface
    # k times from the equi-join — instead of a dedup shuffle over the
    # pair set, keep a candidate only at its FIRST matching block (all
    # earlier blocks must differ). Pure codegen predicate, no exchange.
    first_match = "CASE blk " + " ".join(
        f"WHEN {i} THEN "
        + (
            " AND ".join(
                f"{blkval('sh_a', j)} != {blkval('sh_b', j)}" for j in range(i)
            )
            or "true"
        )
        for i in range(m)
    ) + " END"
    sig_pairs = (
        a.join(b, ["blk", "val"])
        .filter(F.col("a.simhash") < F.col("b.simhash"))
        .select(
            F.col("a.simhash").alias("sh_a"),
            F.col("b.simhash").alias("sh_b"),
            "blk",
        )
        .filter(F.expr(first_match))
        .withColumn(
            "hamming", F.bit_count(F.col("sh_a").bitwiseXOR(F.col("sh_b")))
        )
        .filter(F.col("hamming") <= max_hamming)
        .select("sh_a", "sh_b", "hamming")
    )
    # Fold the hamming-0 (identical-fingerprint) pairs into the same
    # membership expansion by seeding (s, s, 0) rows at the SIGNATURE
    # level — one union of a tiny sig table instead of a second
    # doc-level self-join stage over fp.
    self_sigs = sigs.select(
        F.col("simhash").alias("sh_a"),
        F.col("simhash").alias("sh_b"),
        F.lit(0).cast("integer").alias("hamming"),
    )
    ma = fp.select(F.col("simhash").alias("sh_a"), F.col("doc_id").alias("_da"))
    mb = fp.select(F.col("simhash").alias("sh_b"), F.col("doc_id").alias("_db"))
    return (
        sig_pairs.unionByName(self_sigs)
        .join(ma, "sh_a")
        .join(mb, "sh_b")
        # distinct signatures imply distinct docs; within one signature
        # keep each unordered doc pair once
        .filter((F.col("sh_a") != F.col("sh_b")) | (F.col("_da") < F.col("_db")))
        .select(
            F.least("_da", "_db").alias("id_a"),
            F.greatest("_da", "_db").alias("id_b"),
            "hamming",
        )
    )


def embedding_near_dup_pairs(
    emb: DataFrame,
    *,
    threshold: float = 0.99,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Embedding-cosine near-dup pairs (a < b, cosine ≥ threshold).

    Cosine via a sequential double fold (deterministic order → identical
    IEEE result across engines). Brute-force pairwise; the scale path is
    the IVF/LSH bucketing in ``operators.similarity``. Dead (zero-norm
    or non-finite) vectors never pair: the ``similarity`` vector
    contract, mirrored by the oracles' isfinite().
    """
    emb = emb.filter(_live(vec_col))
    a, b = emb.alias("a"), emb.alias("b")
    return (
        a.join(b, F.col(f"a.{id_col}") < F.col(f"b.{id_col}"))
        .withColumn("cosine", _cosine(f"a.{vec_col}", f"b.{vec_col}"))
        .filter(F.col("cosine") >= threshold)
        .select(
            F.col(f"a.{id_col}").alias("id_a"),
            F.col(f"b.{id_col}").alias("id_b"),
            "cosine",
        )
    )


def embedding_lsh_pairs(
    emb: DataFrame,
    *,
    planes: int = 32,
    bands: int = 4,
    dim: int = 64,
    threshold: float = 0.8,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Random-hyperplane (cosine) LSH near-dup pairs — the subquadratic
    scale path for :func:`embedding_near_dup_pairs`.

    Sign bit b = sign(v · r_b) for ±1 hyperplanes r_b; bits split into
    ``bands`` bands, vectors agreeing on ALL bits of any band become
    candidates (P[bit match] = 1 − θ/π, so banding is steep in cosine
    exactly as minhash banding is in jaccard). Candidates are verified
    with the exact cosine. Band signatures come from the
    ``similarity._band_signatures`` kernel (left-associated dim fold +
    round-to-6dp sign, so DuckDB reproduces every sign bit); dead
    vectors never band or verify (the ``similarity`` vector contract).
    """
    emb = emb.filter(_live(vec_col))
    band_sig = _hyperplane_bands(
        emb, hyperplane_signs(planes, dim), bands, out_id=id_col, vec_col=vec_col
    )
    a, b = band_sig.alias("a"), band_sig.alias("b")
    candidates = (
        a.join(
            b,
            (F.col("a.band") == F.col("b.band")) & (F.col("a.sig") == F.col("b.sig")),
        )
        .filter(F.col(f"a.{id_col}") < F.col(f"b.{id_col}"))
        .select(
            F.col(f"a.{id_col}").alias("id_a"), F.col(f"b.{id_col}").alias("id_b")
        )
        .distinct()
    )
    ea, eb = emb.alias("a"), emb.alias("b")
    return (
        candidates.join(ea, F.col("id_a") == F.col(f"a.{id_col}"))
        # pin the verify stage's width (the similarity.cosine_range_join
        # convention): the exact-cosine fold is compute-dense on
        # byte-light rows and AQE's byte-sized coalescing folded it onto
        # one task (width_audit flagged a 1-task, ~1 s stage here). The
        # explicit count is AQE-proof and the second join reuses the
        # exchange — pinned width, no extra shuffle.
        .repartition(shuffle_width(emb), F.col("id_b"))
        .join(eb, F.col("id_b") == F.col(f"b.{id_col}"))
        .withColumn("cosine", _cosine(f"a.{vec_col}", f"b.{vec_col}"))
        .filter(F.col("cosine") >= threshold)
        .select("id_a", "id_b", "cosine")
    )


@ckpt.scope()
def connected_components(
    pairs: DataFrame,
    *,
    id_a: str = "id_a",
    id_b: str = "id_b",
    max_iterations: int = 20,
) -> DataFrame:
    """Connected components over near-dup pairs: (doc_id, component)
    where component = min doc_id reachable through the pair graph.

    Iterative min-label propagation (large-star/small-star style): each
    round every node adopts the smallest label among itself and its
    neighbours, so labels cross ONE edge per round — convergence is
    O(graph diameter) rounds (tiny for typical dedup graphs, whose dup
    clusters are near-cliques). Self-loops folded into the edge table
    make each round ONE join + ONE aggregation referencing the prior
    labels exactly once, so rounds chain linearly and run TWO per
    scheduled action; convergence rides along as an ``observe()``
    metric (the changed count, recovered type-agnostically from the
    self-loop row, which carries each node's old label through the
    join), never a separate action. This is the
    pairs→clusters step real dedup needs: survivors are one doc per
    component, not pair-wise greedy drops.

    If the graph has NOT converged after ``max_iterations`` rounds
    (a chain of near-dups longer than the budget), this RAISES rather
    than silently returning split components — a wrong-but-plausible
    clustering is worse than an error the caller can retry with a
    bigger budget.
    """
    if max_iterations < 0:
        # a negative budget would skip every round and return labels
        # still reading the edge checkpoint this operator's scope
        # releases — fail loudly at entry
        raise ValueError(
            f"max_iterations must be >= 0, got {max_iterations}"
        )
    sym = pairs.select(
        F.col(id_a).alias("src"), F.col(id_b).alias("dst")
    ).unionByName(
        pairs.select(F.col(id_b).alias("src"), F.col(id_a).alias("dst"))
    )
    # SELF-LOOPS folded into the edge table (r17): with (v, v) present,
    # a round's update is min(component over neighbours ∪ self) — ONE
    # join + ONE aggregation, and the previous labels are referenced
    # exactly ONCE per round. The r16 form referenced them twice
    # (neighbour-min join + update left-join with least/coalesce —
    # identical arithmetic: least(self, min-neighbours) = min over
    # self ∪ neighbours), which forced a materialization round trip
    # EVERY round; single-reference rounds chain linearly, so TWO
    # rounds run per checkpoint action (the r16-verdict stride-2,
    # sound only because nothing is double-referenced). The distinct's
    # exchange width is left to AQE — localCheckpoint loses
    # outputPartitioning under AQE (r16), so pinning hash(dst) here
    # cannot save the per-round join exchange anyway (probed r17:
    # repartition(width, "dst")+dropDuplicates raised tasks 119→209
    # for identical semantics). EAGER: the pair-job's stages consume
    # this table concurrently, and lazy first-materialization from
    # concurrent stages deadlocks ABBA on the RDDCheckpointData lock
    # (r16, pagerank's twin).
    edges = ckpt.checkpoint(
        sym.unionByName(
            sym.select(F.col("src").alias("src"), F.col("src").alias("dst"))
        )
        .distinct()
    )
    labels = (
        edges.select(F.col("src").alias("node"))
        .distinct()
        .withColumn("component", F.col("node"))
    )
    # Convergence metric: the SELF-LOOP row (src, src) joins each
    # node's OWN current label, so the round's aggregation can compute
    # both the new label (min over all joined rows) and the OLD one
    # (the value carried by the dst = src row) in one pass — the
    # changed count then rides an ``observe()`` on the same aggregate,
    # with no second reference to the old labels (what forced the r16
    # materialization round trip) and no assumption about the id TYPE
    # (an earlier r17 draft summed numeric labels, which threw
    # CAST_INVALID_INPUT on string doc ids — caught by
    # test_ckpt/test_fuzz_oracle). new ≤ old always (the min includes
    # self), so ``new < old`` is exactly "changed"; the coalesce makes
    # the empty graph observe 0 instead of NULL.
    def step(lbl: DataFrame, obs: Observation) -> DataFrame:
        return (
            edges.join(lbl, edges.dst == lbl.node)
            .groupBy("src")
            .agg(
                F.min("component").alias("component"),
                F.min(
                    F.when(F.col("dst") == F.col("src"), F.col("component"))
                ).alias("_old"),
            )
            .observe(
                obs,
                F.coalesce(
                    F.sum(
                        (F.col("component") < F.col("_old")).cast("long")
                    ),
                    F.lit(0),
                ).alias("changed"),
            )
            .select(F.col("src").alias("node"), "component")
        )

    # max_iterations propagation rounds PLUS one confirmation round: a
    # graph whose diameter is exactly max_iterations converges ON the
    # final budgeted round, so raising on that round would reject a
    # correct result (r9 ADVICE). Rounds run in PAIRS per action.
    # When round i converges mid-pair, round i+1 recomputes the
    # identical fixed point (monotone ⇒ harmless, at most one spare
    # round — the r16-verdict trade). A round BEYOND the budget may
    # never rescue an unconverged run: its changed-count is not
    # consulted, preserving the r16 raise semantics exactly.
    budget = max_iterations + 1
    prev_ckpt: DataFrame | None = None
    rounds = 0
    converged = False
    # an all-empty pair plan can run ZERO tasks (AQE collapses empty
    # relations), so the metrics accumulator never fires and the
    # observation row is absent: check the materialized edge blocks
    # once here and treat an empty graph as converged on round one
    empty = not edges.take(1)

    def _changed(obs: Observation) -> int:
        return 0 if empty else obs.get["changed"]

    while not converged and rounds < budget:
        obs_a, obs_b = Observation(), Observation()
        # ONE action runs both rounds
        updated = ckpt.checkpoint(step(step(labels, obs_a), obs_b))
        # prior labels' blocks were consumed by the pair job above —
        # release at supersession (ckpt module doc: residue ~2 rounds)
        ckpt.release(prev_ckpt)
        prev_ckpt = labels = updated
        if _changed(obs_a) == 0:
            converged = True  # round rounds+1 confirmed the fixed point
        elif rounds + 2 <= budget and _changed(obs_b) == 0:
            converged = True  # round rounds+2, still within budget
        rounds += 2
    if not converged:
        raise RuntimeError(
            f"connected_components did not converge in {max_iterations} "
            "iterations plus the confirmation round (labels still "
            "changing): the pair graph's diameter exceeds the budget "
            "— retry with a larger max_iterations (propagation crosses one "
            "edge per round)"
        )
    ckpt.keep(labels)  # the scope frees edges and every earlier round
    return labels.select(F.col("node").alias("doc_id"), "component")


def select_cluster_representatives(
    clusters: DataFrame,
    scores: DataFrame,
    *,
    id_col: str = "doc_id",
    component_col: str = "component",
    score_col: str = "score",
) -> DataFrame:
    """Pick one representative per near-dup cluster: the member with the
    highest ``score_col`` (ties → smallest id) — the keep-best step that
    turns components into the survivor list (keep-first is a special
    case with a constant score).

    ``min(struct(-score, id))`` per component: a plain hash aggregate
    with map-side partial reduction — one shuffle carrying one struct
    per (partition, component), no window/sort. Returns
    (component, id, score) for the surviving member.
    """
    joined = clusters.join(scores, id_col)
    best = (
        joined.groupBy(component_col)
        .agg(
            F.min(
                F.struct(
                    (-F.col(score_col)).alias("_neg"),
                    F.col(id_col).alias("_id"),
                )
            ).alias("_best")
        )
        .select(
            component_col,
            F.col("_best._id").alias(id_col),
            (-F.col("_best._neg")).alias(score_col),
        )
    )
    return best


def minhash_lsh_incremental(
    base: DataFrame,
    incoming: DataFrame,
    *,
    num_hashes: int = 16,
    bands: int = 4,
    n: int = 3,
    threshold: float = 0.5,
    text_col: str = "text",
    verify: str = "sets",
) -> DataFrame:
    """Incremental MinHash-LSH dedup: match INCOMING docs against an
    existing BASE corpus — the daily-ingest shape of a 100 TB pipeline.

    The candidate join is strictly base-bands ⋈ incoming-bands on
    (band, signature) (:func:`_cross_candidates`). At cluster scale the
    base side's per-doc signature table is the artifact a previous run
    persisted (:func:`save_minhash_base`); recomputing it here keeps
    the operator self-contained while the join shape stays identical.
    ``verify`` is :func:`minhash_lsh_pairs`'s (:func:`_intersect`).

    Returns one row per matched incoming doc: (doc_id, base_id,
    jaccard) — its BEST base match (highest rounded jaccard, smallest
    base id on ties). Unmatched incoming docs are absent (the caller
    anti-joins to get the admit set).
    """
    lsh_bands = _lsh_bands(num_hashes, bands)
    sh_base = shingle_sets(base, text_col, n)
    sh_inc = shingle_sets(incoming, text_col, n)
    # ONE per-doc aggregation over base ∪ incoming: both sides' shingle
    # streams share a single groupBy exchange and a single eager
    # checkpoint. The grouping key includes the side tag: base and
    # incoming are distinct corpora whose doc_ids may collide.
    tagged = sh_base.withColumn("_is_base", F.lit(True)).unionByName(
        sh_inc.withColumn("_is_base", F.lit(False))
    )
    keys = ("doc_id", "_is_base")
    pd_all = ckpt.checkpoint(
        _minhash_per_doc(_shingle_ids(tagged, keys), num_hashes, keys, verify)
        # EAGER: consumed by both band builds and both verify sides —
        # concurrent stages of one action (the r16 ABBA rule)
    )
    base_pd = pd_all.filter(F.col("_is_base")).drop("_is_base")
    inc_pd = pd_all.filter(~F.col("_is_base")).drop("_is_base")
    candidates = _cross_candidates(
        _band_signatures(base_pd, lsh_bands), _band_signatures(inc_pd, lsh_bands)
    )
    pairs = _intersect(
        candidates, verify, ("base_id", base_pd, sh_base), ("doc_id", inc_pd, sh_inc)
    )
    return _best_per_doc(_jaccard(pairs, threshold), "jaccard")


def save_minhash_base(
    base: DataFrame,
    table_prefix: str,
    *,
    num_hashes: int = 16,
    bands: int = 4,
    n: int = 3,
    text_col: str = "text",
    buckets: int = 32,
) -> None:
    """Persist the base-corpus MinHash artifacts that
    :func:`minhash_lsh_incremental` otherwise re-derives on EVERY
    ingest batch — the daily-pipeline amortization step: shingling,
    hashing, and min-aggregating the (huge, unchanging) base corpus is
    paid once per base version, and each batch pays only for itself.

    Three tables under ``table_prefix``:

    - ``{prefix}_shingles`` (doc_id, sh, sid), BUCKETED by doc_id —
      the join-verify intersect reads it pre-partitioned on the key it
      joins on, no base-side shuffle per batch;
    - ``{prefix}_per_doc`` (doc_id, _mh0.._mhK, sz) — the narrow
      signature table (no shingle sets: the artifact path is the
      bounded-memory ``verify='join'`` production mode);
    - ``{prefix}_band_sig`` (doc_id, band, sig), BUCKETED by sig —
      the candidate join's base side arrives hash-distributed on a
      subset of its join key, so only the (small) incoming side moves.

    Bucketed writes require the table catalog (``saveAsTable``); at
    cluster scale these are exactly the bucketed warehouse tables a
    production pipeline owns.
    """
    from sales_data_etl_pipeline_spark.sources.parquet import overwrite_table

    lsh_bands = _lsh_bands(num_hashes, bands)
    overwrite_table(
        _shingle_ids(shingle_sets(base, text_col, n)),
        f"{table_prefix}_shingles",
        bucket_by=(buckets, "doc_id"),
    )
    spark = base.sparkSession
    per_doc = _minhash_per_doc(spark.table(f"{table_prefix}_shingles"), num_hashes)
    overwrite_table(per_doc, f"{table_prefix}_per_doc")
    band_sig = _band_signatures(spark.table(f"{table_prefix}_per_doc"), lsh_bands)
    overwrite_table(
        band_sig, f"{table_prefix}_band_sig", bucket_by=(buckets, "sig")
    )
    props = ", ".join(
        f"'{k}' = '{v}'" for k, v in _base_params(num_hashes, bands, n).items()
    )
    spark.sql(f"ALTER TABLE {table_prefix}_band_sig SET TBLPROPERTIES ({props})")


def _base_params(num_hashes: int, bands: int, n: int) -> dict[str, str]:
    """The parameters a saved MinHash base is built with, as the table
    properties :func:`save_minhash_base` records on ``{prefix}_band_sig``."""
    return {
        "minhash.num_hashes": str(num_hashes),
        "minhash.bands": str(bands),
        "minhash.n": str(n),
    }


def minhash_lsh_incremental_prepared(
    spark: "SparkSession",
    table_prefix: str,
    incoming: DataFrame,
    *,
    num_hashes: int = 16,
    bands: int = 4,
    n: int = 3,
    threshold: float = 0.5,
    text_col: str = "text",
) -> DataFrame:
    """Incremental MinHash-LSH against a PREPARED base
    (:func:`save_minhash_base`) — the amortized daily-ingest form: the
    base corpus is touched only through its persisted shingle /
    signature tables, so per-batch cost is O(|incoming| + candidates)
    in COMPUTE as well as in join shape (the self-contained
    :func:`minhash_lsh_incremental` re-shingles and re-aggregates the
    whole base every call — measured 3.6× the carried-sets mode at the
    ~sf10 soak; this path removes that recompute entirely).

    Verification is the bounded-memory ``verify='join'`` form
    (:func:`_intersect`), and the base shingle table arrives bucketed
    by doc_id so the intersect join never shuffles it. Output contract
    is identical to :func:`minhash_lsh_incremental`: (doc_id, base_id,
    jaccard), best base match per incoming doc.

    The base must have been saved with this call's ``num_hashes``,
    ``bands`` and ``n`` (band keys built otherwise never meet):
    ``ValueError`` before any job runs when its recorded parameters
    differ or are missing.
    """
    lsh_bands = _lsh_bands(num_hashes, bands)
    saved = {
        r["key"]: r["value"]
        for r in spark.sql(f"SHOW TBLPROPERTIES {table_prefix}_band_sig").collect()
    }
    want = _base_params(num_hashes, bands, n)
    got = {k: saved.get(k) for k in want}
    if got != want:
        raise ValueError(
            f"MinHash base {table_prefix!r} was saved with {got}, not {want}:"
            " rebuild it with save_minhash_base"
        )
    base_pd = spark.table(f"{table_prefix}_per_doc")
    sh_base = spark.table(f"{table_prefix}_shingles")
    sh_inc = shingle_sets(incoming, text_col, n)
    inc_pd = ckpt.checkpoint(_minhash_per_doc(_shingle_ids(sh_inc), num_hashes))
    candidates = _cross_candidates(
        spark.table(f"{table_prefix}_band_sig"), _band_signatures(inc_pd, lsh_bands)
    )
    pairs = _intersect(
        candidates, "join", ("base_id", base_pd, sh_base), ("doc_id", inc_pd, sh_inc)
    )
    return _best_per_doc(_jaccard(pairs, threshold), "jaccard")


def _drop_hot_shingles(
    sh: DataFrame, max_shingle_df: float, site: str = "shingle_df"
) -> DataFrame:
    """Stop-shingle cap: remove shingles whose document frequency
    exceeds ``max_shingle_df`` (a FRACTION of documents) — standard
    near-dup practice; a boilerplate shingle otherwise concentrates
    candidates in a few buckets (the quadratic-in-hot-shingles tail).
    The hot set is tiny by construction (≤ avg-shingles-per-doc / f
    shingles can exceed document frequency f), so the removal is a
    broadcast anti-join: the corpus-side shingle table never shuffles.

    How much the cap excluded is registered per ``site`` as a
    ``catalog.observe_cap_drops`` summary over this same frequency
    aggregate (r13 §7.14 #4: the 100× soak showed these caps silently
    excluding 100 % of groups on an all-duplicates corpus) — lazy,
    computed only when ``catalog.cap_drop_metrics(site)`` is asked.
    """
    n_docs = sh.agg(F.count_distinct("doc_id").alias("_nd"))
    freq = (
        sh.groupBy("sh")
        .agg(F.count(F.lit(1)).alias("_df"))
        .crossJoin(F.broadcast(n_docs))
    )
    is_hot = F.col("_df") > F.col("_nd") * F.lit(max_shingle_df)
    hot = (
        catalog.observe_cap_drops(freq, site, is_hot, F.col("_df"))
        .filter(is_hot)
        .select("sh")
    )
    return sh.join(F.broadcast(hot), "sh", "left_anti")


def containment_pairs(
    df: DataFrame,
    *,
    n: int = 3,
    threshold: float = 0.6,
    text_col: str = "text",
    max_shingle_df: float | None = None,
) -> DataFrame:
    """Asymmetric n-gram CONTAINMENT pairs: |A∩B| / |A| ≥ threshold —
    the quote/excerpt detector. Jaccard misses a short doc embedded in
    a long one (the union term swamps it); containment is the standard
    fix (Broder's resemblance vs containment distinction).

    One row per DIRECTED hit: (doc_id, host_id, containment) = doc_id's
    shingles are ≥ threshold contained in host_id's. Both directions of
    a pair are emitted independently (a near-exact dup scores ~1 both
    ways; a quote scores high only doc→host).

    Plan shape: identical to :func:`ngram_jaccard_pairs` — shared-
    shingle equi-join candidates, ONE intersection count per unordered
    pair, then both directed ratios derived from that single row
    (:func:`_directed_containment`). Candidate volume is bounded by
    shared shingles; ``max_shingle_df`` (:func:`_drop_hot_shingles`)
    caps the hot-shingle tail exactly as in MinHash, and for unbounded
    corpora :func:`minhash_containment_pairs` is the banded drop-in.
    """
    # materialize the exploded shingle table once for its three
    # consumers (self-join build+probe sides, per-doc sizes): the
    # tokenize→shingle explode is the compute-heavy stage and would
    # otherwise run 3×. At cluster scale this is a stage-boundary
    # write to reliable storage (same move as minhash_lsh_pairs).
    sh = shingle_sets(df, text_col, n)
    if max_shingle_df is not None:
        sh = _drop_hot_shingles(sh, max_shingle_df, site="containment:shingle_df")
    return _directed_containment(_exact_pairs(ckpt.checkpoint(sh)), threshold)


def minhash_containment_pairs(
    df: DataFrame,
    *,
    num_hashes: int = 16,
    bands: int = 4,
    n: int = 3,
    threshold: float = 0.6,
    text_col: str = "text",
    max_shingle_df: float | None = None,
) -> DataFrame:
    """Banded-LSH CONTAINMENT pairs — the unbounded-corpus variant of
    :func:`containment_pairs`, mirroring the jaccard→minhash pair
    exactly: MinHash signatures band into (band, sig) buckets, the
    bucket equi-join yields candidates, and the exact directed
    containment |A∩B|/|A| is re-checked on candidates only.

    Same output schema as the exact primitive ((doc_id, host_id,
    containment), both directions emitted independently); every emitted
    pair IS in the exact primitive's output (the re-check is exact —
    banding only limits WHICH pairs are examined). Recall follows the
    banding S-curve in JACCARD: a contained-but-tiny excerpt has low
    jaccard and can be missed — that is the documented trade; where
    excerpt recall matters, raise ``bands`` (more, narrower bands) or
    run the exact primitive with a stop-shingle cap. Verification is
    the bounded-memory ``verify='join'`` form (:func:`_intersect`).
    """
    lsh_bands = _lsh_bands(num_hashes, bands)
    sh = shingle_sets(df, text_col, n)
    if max_shingle_df is not None:
        sh = _drop_hot_shingles(sh, max_shingle_df, site="minhash_containment:shingle_df")
    # one materialization for the signature aggregate + the two
    # candidate-side intersection joins (same move as containment_pairs)
    sh = ckpt.checkpoint(sh)
    per_doc = _minhash_per_doc(_shingle_ids(sh), num_hashes)
    candidates = _self_candidates(_band_signatures(per_doc, lsh_bands))
    pairs = _intersect(
        candidates, "join", ("id_a", per_doc, sh), ("id_b", per_doc, sh)
    )
    return _directed_containment(pairs, threshold)


def containment_incremental(
    base: DataFrame,
    incoming: DataFrame,
    *,
    n: int = 3,
    threshold: float = 0.6,
    text_col: str = "text",
    max_shingle_df: float | None = None,
) -> DataFrame:
    """Incremental CONTAINMENT: match INCOMING docs against an existing
    BASE corpus and report, per incoming doc, its best containing host
    — |inc ∩ base| / |inc| ≥ threshold means the new document is mostly
    a quote/excerpt of an existing one, the admission case the
    jaccard-incremental filter PASSES because the union swamps the
    ratio (an excerpt's jaccard vs a long host is tiny, so MinHash
    banding would also never candidate it — banding collision
    probability follows JACCARD, which is exactly what is low here).

    Candidates therefore come from the shared-shingle equi-join
    restricted to base × incoming — the right incremental shape: the
    incoming batch is the SMALL side (a day's ingest vs the corpus), so
    the join is one keyed hash join whose probe side is tiny, and at
    100 TB the ``max_shingle_df`` stop-cap (applied to the base side,
    :func:`_drop_hot_shingles`) bounds the hot-shingle fanout exactly
    as in the pairwise operators. Verification is candidate-join
    counting (no collect_list). Winner per incoming doc: highest
    rounded containment, smallest base id. Output: (doc_id, base_id,
    containment); unmatched docs are absent (the caller anti-joins for
    the admit set).
    """
    sh_base = shingle_sets(base, text_col, n)
    if max_shingle_df is not None:
        sh_base = _drop_hot_shingles(sh_base, max_shingle_df, site="containment_incremental:shingle_df")
    sh_inc = ckpt.checkpoint(shingle_sets(incoming, text_col, n))
    sizes_inc = sh_inc.groupBy("doc_id").agg(F.count(F.lit(1)).alias("sz_inc"))
    inter = (
        sh_base.select(F.col("doc_id").alias("base_id"), "sh")
        .join(sh_inc, "sh")
        .groupBy("base_id", "doc_id")
        .agg(F.count(F.lit(1)).alias("inter"))
    )
    matches = inter.join(sizes_inc, "doc_id").withColumn(
        "_ratio", F.col("inter") / F.col("sz_inc")
    )
    return _best_per_doc(_over(matches, threshold, "containment"), "containment")


@ckpt.scope()
def pagerank(
    pairs: DataFrame,
    *,
    iterations: int = 3,
    id_a: str = "id_a",
    id_b: str = "id_b",
) -> DataFrame:
    """Fixed-iteration PageRank over an undirected pair graph (e.g. the
    near-dup candidate graph: a high-rank document is a hub quoted/
    copied by many others — a centrality signal for representative
    selection beyond plain max-score).

    EXACT INTEGER arithmetic end-to-end so a SQL oracle reproduces every
    rank bit-for-bit: ranks live in ppb (parts-per-billion, int64),
    damping 0.85 is the integer pair (85, 100), and every division is
    integer division applied in a pinned order —

        r₀(v)    = 10⁹ / N
        share(u) = r(u) / deg(u)                (per-edge, int div)
        r'(v)    = 150_000_000 / N  +  (85 · Σ share) / 100

    Each iteration is ONE shuffle — the share sum's groupBy(dst) —
    against the edge table, which is hash-partitioned on ``src`` once
    at build (repartition + in-partition dedup, one exchange total):
    the per-iteration share join arrives co-partitioned on ``src``,
    and the rank-update join's base is the STATIC (node, deg, N) table
    — partitioned on ``node`` ≡ the incoming sums' ``dst`` hash — so
    neither join moves the graph again. ``iterations`` is fixed (the
    analytics use-case wants a centrality SCORE, not convergence
    detection — for components / convergence,
    ``connected_components`` already exists with its observe()-driven
    loop). No adjacency lists, no collect. Output: (doc_id, rank_ppb)
    for every node in the graph.

    Because the update joins the STATIC base (not the previous ranks),
    each round references the prior ranks exactly ONCE (the share
    pass), so the plan grows linearly, not exponentially — the
    per-round eager checkpoint the doubled-reference form needed
    (r15 and earlier) is replaced by a :data:`CKPT_EVERY` CADENCE cut
    (plan depth and un-releasable block residue both bounded by the
    cadence; a 30-round production run cuts every 8 rounds instead of
    paying a materialization round trip per round — at the sf0.1 gate
    this took the operator from 31 scheduled jobs to ~8).
    """
    width = shuffle_width(pairs)
    edges = ckpt.checkpoint(
        pairs.select(F.col(id_a).alias("src"), F.col(id_b).alias("dst"))
        .unionByName(
            pairs.select(F.col(id_b).alias("src"), F.col(id_a).alias("dst"))
        )
        # hash(src) co-locates equal (src, dst) rows, so the dedup
        # aggregate reuses this ONE exchange (ClusteredDistribution on
        # a key subset) and every later src-keyed join reads the
        # checkpoint pre-partitioned. EAGER on purpose: this table is
        # read by MULTIPLE concurrent AQE stages of the unrolled loop
        # (share join + broadcast builds), and first-materialization
        # of a LAZY local checkpoint from two concurrent stages
        # deadlocks ABBA on Spark's global RDDCheckpointData lock vs
        # the RDD monitor (hit live at r16: broadcast-exchange thread
        # in doCheckpoint vs dag-scheduler in getCacheLocs) — any
        # checkpoint with concurrent consumers must be materialized
        # before the action that shares it.
        .repartition(width, "src")
        .dropDuplicates()
    )
    deg = edges.groupBy("src").agg(F.count(F.lit(1)).alias("deg"))
    n_nodes = deg.agg(F.count(F.lit(1)).alias("_n"))
    base = ckpt.checkpoint(
        deg.select(F.col("src").alias("node"), "deg")
        .crossJoin(F.broadcast(n_nodes))
        # static (node, deg, _n) table; eager for the same
        # concurrent-consumer reason as edges
    )
    ranks = base.select(
        "node", "deg", F.expr("1000000000L div _n").alias("rank_ppb")
    )
    cadence: DataFrame | None = None
    for i in range(1, iterations + 1):
        shares = ranks.select(
            F.col("node").alias("src"),
            F.expr("rank_ppb div deg").alias("_share"),
        )
        incoming = (
            edges.join(shares, "src")
            .groupBy("dst")
            .agg(F.sum("_share").alias("_in"))
        )
        ranks = base.join(
            incoming, base.node == incoming.dst, "left"
        ).select(
            "node",
            "deg",
            F.expr(
                "150000000L div _n + (85L * coalesce(_in, 0L)) div 100L"
            ).alias("rank_ppb"),
        )
        if i % CKPT_EVERY == 0 and i < iterations:
            ranks = ckpt.checkpoint(ranks)
            ckpt.release(cadence)
            cadence = ranks
    # materialize the final ranks once and keep only them — the scope
    # frees the loop's working tables (edges, base, the last cadence
    # cut), iterations=0 included: the returned frame reads only its
    # own blocks.
    ranks = ckpt.checkpoint(ranks)
    ckpt.keep(ranks)
    return ranks.select(F.col("node").alias("doc_id"), "rank_ppb")


def winnow_fingerprints(
    df: DataFrame,
    *,
    kgram: int = 8,
    window: int = 4,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Winnowing document fingerprints (Schleimer/Wilkerson/Aiken,
    SIGMOD 2003 — the MOSS scheme): hash every ``kgram``-char window
    of the text, slide a ``window``-wide frame over the hash sequence,
    and select the minimum hash per frame (ties → the RIGHTMOST
    minimal position, the paper's determinstic variant). The selected
    (position, hash) set is the fingerprint: any shared substring of
    length ≥ ``window + kgram - 1`` between two documents is
    guaranteed to share at least one selected fingerprint — the
    positional near-dup primitive :func:`winnow_pairs` builds on.

    Hashes are md5-derived 60-bit ints (``hash_id_expr`` convention —
    bit-identical in DuckDB, collisions only weaken recall never the
    oracle match). Docs shorter than ``kgram`` have no k-grams and
    emit nothing; docs with fewer than ``window`` k-grams emit the
    single min of all their hashes (the truncated final frame).

    Scale shape: the hash sequence and every frame min are PER-ROW
    array kernels (``transform`` + ``least`` over O(1) element
    lookups) — no per-doc window sort, no shuffle of the k-gram hash
    stream (a window formulation ships n_chars hash rows, ~20× the
    raw text bytes; here only the raw docs move). The docs are
    fanned out by id first (:func:`fan_out`): document parquet arrives
    in a handful of input splits, far fewer than the cores this
    compute-bound kernel wants, and WITHOUT it the entire md5+fold
    pipeline runs inside the scan stage on those few cores (measured
    0.35s → 4s on the single-split sf0.1 gate file). Small-input
    trade-off, adjudicated r11: ISOLATED at sf0.1 the fan-out took the
    fingerprint gate 4.5 → 1.1s, while IN-SUITE (warm single-split
    gate file, one core already saturated by nothing else) the same
    exchange moved it 0.35 → 0.65s — at gate scale the exchange costs
    more than the one-core scan it parallelizes, and the trade inverts
    at any real fan-in. Both numbers are recorded so the in-suite
    delta is not re-litigated; the convention is sized for the 100 TB
    shape, not the 6 MB gate file.
    The exploded frame mins repeat up to ``window``× consecutively and
    collapse MAP-SIDE in the final distinct, so only ~n/window unique
    selections reach that shuffle. ``array_distinct`` over the struct
    selections is deliberately ABSENT: its non-primitive path is
    quadratic pairwise equality and alone cost 2× wall (9.2s → 4.7s
    measured); per-frame ``slice`` allocation cost the rest
    (4.4s → 3.96s with ``least`` over ``element_at``). Per-row memory
    is one n_kgram struct array, bounded by the doc length contract;
    each k-gram is md5-hashed exactly once. Output: (id, fp_pos,
    fp_hash) distinct rows.
    """
    df = fan_out(df, id_col)
    npos = f"(length({text_col}) - {kgram - 1})"
    hs = (
        f"transform(sequence(1, {npos}), p -> struct("
        f"cast(conv(substring(md5(substring({text_col}, p, {kgram})),"
        f" 1, 15), 16, 10) as bigint) as h, -p as np))"
    )
    # full frames [p-window+1, p] for p in [window, npos]; a doc with
    # fewer than `window` k-grams contributes the single min of all its
    # hashes (the truncated final frame). min over struct(h, -pos) is
    # min-hash with ties to the RIGHTMOST position — the paper's rule.
    frame_terms = ", ".join(
        f"element_at(_hs, p - {i})" for i in range(window)
    )
    sels = (
        f"case when size(_hs) >= {window} then "
        f"transform(sequence({window}, size(_hs)), "
        f"p -> least({frame_terms})) "
        f"else array(array_min(_hs)) end"
    )
    return (
        df.filter(F.length(text_col) >= kgram)
        .select(F.col(id_col), F.expr(hs).alias("_hs"))
        .select(id_col, F.explode(F.expr(sels)).alias("_s"))
        .select(
            id_col,
            (-F.col("_s.np")).alias("fp_pos"),
            F.col("_s.h").alias("fp_hash"),
        )
        .distinct()
    )


def _winnow_fp_hashes(
    df: DataFrame,
    *,
    kgram: int = 8,
    window: int = 4,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Distinct (id, fp_hash) winnowing selections WITHOUT positions —
    the :func:`winnow_pairs` feed. The selected hash VALUE per frame is
    position-independent (the rightmost-min tie rule only picks which
    position carries an equal hash), so pairing can skip the struct
    tie-break machinery entirely: the frame mins run over a PRIMITIVE
    bigint array (``least`` over O(1) lookups, no struct compare, no
    struct allocation) and the (id, pos, hash)→(id, hash) re-distinct
    shuffle that ``winnow_fingerprints().select(id, fp_hash)
    .distinct()`` would pay is gone — one distinct total, fed map-side
    collapsed. Same md5-derived 60-bit hashes as the positional form,
    same :func:`fan_out` split of the few-input-split scan.
    """
    df = fan_out(df, id_col)
    npos = f"(length({text_col}) - {kgram - 1})"
    hs = (
        f"transform(sequence(1, {npos}), p -> "
        f"cast(conv(substring(md5(substring({text_col}, p, {kgram})),"
        f" 1, 15), 16, 10) as bigint))"
    )
    frame_terms = ", ".join(
        f"element_at(_hs, p - {i})" for i in range(window)
    )
    sels = (
        f"case when size(_hs) >= {window} then "
        f"transform(sequence({window}, size(_hs)), "
        f"p -> least({frame_terms})) "
        f"else array(array_min(_hs)) end"
    )
    return (
        df.filter(F.length(text_col) >= kgram)
        .select(F.col(id_col), F.expr(hs).alias("_hs"))
        .select(id_col, F.explode(F.expr(sels)).alias("fp_hash"))
        .distinct()
    )


def winnow_pairs(
    df: DataFrame,
    *,
    kgram: int = 8,
    window: int = 4,
    max_df: int = 20,
    min_shared: int = 8,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """MOSS-style near-dup/plagiarism pairs from winnowing
    fingerprints: two docs match on every fingerprint HASH they share
    (positions deliberately ignored — moved text still matches, the
    scheme's point); emit pairs sharing ≥ ``min_shared`` fingerprints
    with the exact fingerprint-set Jaccard in ppm.

    ``max_df`` drops fingerprints occurring in more than that many
    docs BEFORE pairing (MOSS's "ignore common code" pass): boilerplate
    grams would otherwise pair everything with everything. That cap is
    also the scale bound — each surviving fingerprint contributes at
    most C(max_df, 2) pairs, so the fp-value equi-join has bounded
    reducer width by construction (same two-sided discipline as
    ``_drop_hot_shingles``). ``min_shared`` keeps the OUTPUT
    true-dup-bound: at the default 2 the natural-language mid-frequency
    8-grams that survive the df cap pair ~5% of random doc pairs
    (measured: 13k pairs / 525 docs at shared≥2 vs 54 at shared≥8 on
    the gate fixture), so the floor defaults to 8. Jaccard is exact integer arithmetic:
    ``(shared·10⁶) div (|A| + |B| − shared)`` over the capped
    fingerprint universe — both engines truncate identically on
    non-negative ints.
    """
    fpd = _winnow_fp_hashes(
        df, kgram=kgram, window=window, id_col=id_col, text_col=text_col
    )
    # the kept set feeds the join; the registered cap-drop summary
    # shares this frequency aggregate's plan (computed on demand only)
    df_ok = (
        catalog.observe_cap_drops(
            fpd.groupBy("fp_hash").agg(F.count(F.lit(1)).alias("_df")),
            "winnowing:max_df",
            F.col("_df") > max_df,
            F.col("_df"),
        )
        .filter(F.col("_df") <= max_df)
        .select("fp_hash")
    )
    # consumed 3× (sizes + both join sides); exchange reuse does NOT
    # cover all three references in the full pairing plan (r16 probe:
    # dropping this cut re-ran the md5 kernel — task count 73 → 135 —
    # for zero wall gain), so the cut stays
    capped = ckpt.checkpoint(fpd.join(df_ok, "fp_hash"))
    sizes = capped.groupBy(id_col).agg(F.count(F.lit(1)).alias("nfp"))
    a = capped.select(F.col(id_col).alias("doc_a"), "fp_hash")
    b = capped.select(F.col(id_col).alias("doc_b"), "fp_hash")
    pairs = (
        a.join(b, "fp_hash")
        .filter(F.col("doc_a") < F.col("doc_b"))
        .groupBy("doc_a", "doc_b")
        .agg(F.count(F.lit(1)).alias("shared"))
        .filter(F.col("shared") >= min_shared)
    )
    return (
        pairs.join(
            sizes.select(F.col(id_col).alias("doc_a"), F.col("nfp").alias("nfp_a")),
            "doc_a",
        )
        .join(
            sizes.select(F.col(id_col).alias("doc_b"), F.col("nfp").alias("nfp_b")),
            "doc_b",
        )
        .select(
            "doc_a",
            "doc_b",
            "shared",
            "nfp_a",
            "nfp_b",
            F.expr(
                "(shared * 1000000L) div (nfp_a + nfp_b - shared)"
            ).alias("jaccard_ppm"),
        )
    )


@ckpt.scope()
def label_propagation(
    pairs: DataFrame,
    *,
    iterations: int = 2,
    id_a: str = "id_a",
    id_b: str = "id_b",
) -> DataFrame:
    """Synchronous label-propagation communities (Raghavan et al. 2007,
    arXiv:0709.2938) over an undirected pair list — the cheap
    community detector between :func:`connected_components` (too
    coarse: any path merges) and modularity methods (not
    oracle-checkable): every node starts as its own label and
    repeatedly adopts its neighbors' MAJORITY label.

    Deterministic contract (the published algorithm breaks ties
    randomly; an engine needs bit-stable runs): synchronous updates,
    fixed ``iterations`` (a budget, like ``pagerank`` — LPA oscillates
    on bipartite structures, so a convergence loop would be wrong),
    ties → smallest label via one ``min(struct(-count, label))``
    aggregate. Nodes appear by having ≥1 edge; isolated nodes have no
    neighbors and no row.

    Scale shape: per iteration ONE join of the edge list against the
    label table (both keyed shuffles) + one (node, label) count with
    map-side combine + one per-node min — reducer width bounded by
    degree, same as pagerank's share pass; labels localCheckpoint on
    the :data:`CKPT_EVERY` cadence (the pagerank lineage discipline —
    plan depth and block residue bounded by the cadence, no per-round
    materialization round trip).
    """
    fwd = pairs.select(F.col(id_a).alias("src"), F.col(id_b).alias("dst"))
    rev = pairs.select(F.col(id_b).alias("src"), F.col(id_a).alias("dst"))
    # EAGER: the unrolled loop's edge-side join stages are mutually
    # independent, so AQE materializes them CONCURRENTLY — and
    # concurrent first-materialization of a lazy local checkpoint
    # deadlocks ABBA on the global RDDCheckpointData lock vs the RDD
    # monitor (hit live at r16 in pagerank's twin of this table)
    edges = ckpt.checkpoint(fwd.union(rev).distinct())
    labels = (
        edges.select("src").distinct()
        .select(F.col("src").alias("node"), F.col("src").alias("label"))
    )
    # each round references the prior labels exactly ONCE (the
    # neighbor join), so the plan grows linearly and the former
    # per-round eager checkpoint (a full materialization round trip
    # per iteration) is replaced by a CKPT_EVERY cadence cut —
    # the whole fixed-iteration unroll runs as ONE action whose
    # independent stages AQE materializes concurrently (r16; the
    # pagerank discipline)
    cadence: DataFrame | None = None
    for i in range(1, iterations + 1):
        nb = edges.join(
            labels, edges["dst"] == labels["node"]
        ).select("src", "label")
        labels = (
            nb.groupBy("src", "label")
            .agg(F.count(F.lit(1)).alias("_n"))
            .groupBy("src")
            .agg(
                F.min(
                    F.struct((-F.col("_n")).alias("_nn"), F.col("label"))
                ).alias("_m")
            )
            .select(F.col("src").alias("node"), F.col("_m.label").alias("label"))
        )
        if i % CKPT_EVERY == 0 and i < iterations:
            labels = ckpt.checkpoint(labels)
            ckpt.release(cadence)
            cadence = labels
    # materialize the final labels once and keep only them; the scope
    # frees the loop tables, iterations=0 included (pagerank's twin)
    labels = ckpt.checkpoint(labels)
    ckpt.keep(labels)
    return labels.select(F.col("node").alias("doc_id"), "label")


def levenshtein_pairs(
    df: DataFrame,
    *,
    prefix_len: int = 16,
    max_dist: int = 40,
    cap: int = 600,
    max_block: int = 50,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Edit-distance near-dup pairs via prefix blocking — the record-
    linkage "blocking + expensive verify" shape (Christen, Data
    Matching 2012): candidates share an exact ``prefix_len``-char
    prefix (md5 block key, so the shuffle carries 32 bytes, never the
    text) and pass the length lower bound ``|len_a − len_b| ≤
    max_dist`` (an edit needs ≥ one op per length unit); only then is
    the Levenshtein DP paid, per candidate pair — BANDED at
    ``max_dist`` via the built-in threshold form (Spark ≥ 3.5
    ``levenshtein(l, r, threshold)``), so the JVM kernel fills a
    ``2·max_dist+1``-wide diagonal band and early-outs with −1 the
    moment the distance provably exceeds the threshold: O(cap·max_dist)
    per pair instead of O(cap²), with bit-identical accepted distances
    (the −1 rejects are exactly the rows the old ``≤ max_dist`` filter
    dropped after a full DP).

    Semantics contract: distance is measured on the first ``cap``
    chars of each doc (bounds the DP at 100 TB where docs are
    unbounded; at the test corpus' 48–553 chars the cap is inert) and
    similarity_ppm = (maxlen − dist)·10⁶ div maxlen over the CAPPED
    lengths — one trunc-div convention shared with the oracle. Docs
    shorter than 1 char are excluded (undefined similarity).

    Scale shape: the block join is an equi-join on the 128-bit prefix
    digest; blocks with more than ``max_block`` members are dropped
    whole BEFORE pairing (boilerplate/template prefixes pair
    quadratically — the same bounded-reducer cap as winnow_pairs'
    max_df), so reducer width is ≤ C(max_block, 2) per block. The
    verify is row-local compute after the join — embarrassingly
    parallel, no further shuffle.
    """
    t = df.filter(F.length(F.col(text_col)) >= 1).select(
        F.col(id_col).alias("_id"),
        F.md5(F.substring(F.col(text_col), 1, prefix_len)).alias("_blk"),
        F.substring(F.col(text_col), 1, cap).alias("_t"),
        F.length(F.substring(F.col(text_col), 1, cap)).alias("_len"),
    )
    ok = (
        catalog.observe_cap_drops(
            t.groupBy("_blk").agg(F.count(F.lit(1)).alias("_n")),
            "levenshtein:max_block",
            F.col("_n") > max_block,
            F.col("_n"),
        )
        .filter(F.col("_n") <= max_block)
        .select("_blk")
    )
    t = t.join(ok, "_blk")
    # Distribute the DP: the probe side of the block self-join otherwise
    # inherits the SCAN's partitioning (one partition per input file —
    # the winnowing lesson), and Catalyst pushes the levenshtein
    # predicate into the join condition, so the banded DP for every
    # length-plausible candidate pair ran on one core (measured 4.3 s
    # for 1060 pairs at sf0.1; 0.9 s after). Hash-partitioning on the
    # block key is also the 100 TB shape: blocks co-locate, no full-
    # corpus broadcast.
    t = fan_out(t, "_blk")
    a = t.select(
        F.col("_blk"),
        F.col("_id").alias("doc_a"),
        F.col("_t").alias("_ta"),
        F.col("_len").alias("len_a"),
    )
    b = t.select(
        F.col("_blk"),
        F.col("_id").alias("doc_b"),
        F.col("_t").alias("_tb"),
        F.col("_len").alias("len_b"),
    )
    return (
        a.join(b, "_blk")
        .filter(F.col("doc_a") < F.col("doc_b"))
        .filter(
            F.abs(F.col("len_a") - F.col("len_b")) <= max_dist
        )
        .withColumn(
            "lev_dist", F.levenshtein(F.col("_ta"), F.col("_tb"), max_dist)
        )
        # threshold form returns −1 above max_dist — the reject branch
        # (a plain ``<= max_dist`` would KEEP the −1 rows)
        .filter(F.col("lev_dist") >= 0)
        .select(
            "doc_a",
            "doc_b",
            "lev_dist",
            "len_a",
            "len_b",
            F.expr(
                "(greatest(len_a, len_b) - lev_dist) * 1000000L"
                " div greatest(len_a, len_b)"
            ).alias("sim_ppm"),
        )
    )


def triangle_counts(
    pairs: DataFrame,
    *,
    id_a: str = "id_a",
    id_b: str = "id_b",
) -> DataFrame:
    """Per-node triangle counts over an undirected pair list — the
    clustering-structure probe on the near-dup graph (a node in many
    triangles sits in a dense dup family; a bridge node in none).

    Degree-ordered orientation (Cohen 2009 MapReduce triangle
    counting; Suri & Vassilvitskii WWW'11): orient every edge from the
    (degree, id)-smaller endpoint to the larger, so each triangle is
    emitted exactly once at its smallest-degree apex, and wedge
    generation at a node is bounded by its OUT-degree — ≤ O(√|E|)
    after orientation even on power-law graphs, vs the unbounded
    in+out degree² of the naive a<b<c form. The wedge set (b, c) then
    equi-joins the symmetric edge list once to close triangles: two
    shuffles total (wedge build + close), both on node-id keys, never
    a cartesian.

    Nodes with ≥1 edge but no triangle get an explicit 0 row (the
    consumer's denominator); isolated nodes are absent (no edges, no
    clustering signal).
    """
    fwd = pairs.select(F.col(id_a).alias("u"), F.col(id_b).alias("v"))
    edges = ckpt.checkpoint(
        fwd.union(
            pairs.select(F.col(id_b).alias("u"), F.col(id_a).alias("v"))
        )
        .distinct()
        # consumed by degree agg + orientation + wedge close + the
        # node roster (4×): Catalyst prunes each reference
        # differently, so the distinct's exchange never canonicalizes
        # equal across them and exchange reuse does NOT fire (r16
        # probe: dropping this cut inlined the upstream pair build 4×
        # — 192 scan nodes, 249 tasks). EAGER, not lazy: the four
        # consumer stages are mutually independent, and concurrent
        # first-materialization of a lazy local checkpoint deadlocks
        # ABBA on the global RDDCheckpointData lock vs the RDD
        # monitor (hit live at r16 in pagerank's twin table). The
        # `oriented` table below stays UN-checkpointed — its two
        # wedge references recompute one cheap narrow join over these
        # materialized blocks, which beats a second serialized
        # materialization round trip (15 → ~11 scheduled jobs).
    )
    deg = edges.groupBy("u").agg(F.count(F.lit(1)).alias("deg"))
    ranked = edges.join(deg, "u").join(
        deg.select(F.col("u").alias("v"), F.col("deg").alias("deg_v")), "v"
    )
    oriented = ranked.filter(
        (F.col("deg") < F.col("deg_v"))
        | ((F.col("deg") == F.col("deg_v")) & (F.col("u") < F.col("v")))
    ).select("u", "v")
    w1 = oriented.select(F.col("u").alias("apex"), F.col("v").alias("b"))
    w2 = oriented.select(F.col("u").alias("apex"), F.col("v").alias("c"))
    wedges = w1.join(w2, "apex").filter(F.col("b") < F.col("c"))
    # close against the SYMMETRIC edge set on (b, c) — a two-key
    # equi-join (the oriented b→c/c→b direction is unknown at the
    # apex; an OR over both directions would degrade to a nested-loop
    # join, the symmetric table keeps it hash-joinable)
    closer = edges.select(F.col("u").alias("b"), F.col("v").alias("c"))
    tri = wedges.join(closer, ["b", "c"]).select("apex", "b", "c")
    per_node = (
        tri.select(F.explode(F.array("apex", "b", "c")).alias("node"))
        .groupBy("node")
        .agg(F.count(F.lit(1)).alias("n_triangles"))
    )
    nodes = edges.select(F.col("u").alias("node")).distinct()
    return nodes.join(per_node, "node", "left").select(
        "node", F.coalesce("n_triangles", F.lit(0)).alias("n_triangles")
    )


@ckpt.scope()
def kcore_decompose(
    pairs: DataFrame,
    *,
    k: int = 2,
    id_a: str = "id_a",
    id_b: str = "id_b",
    max_iterations: int = 6,
) -> DataFrame:
    """k-core of the undirected pair graph: the maximal subgraph in
    which every surviving node keeps degree ≥ k — the density filter
    that separates genuine dup FAMILIES (cliquey cores) from incidental
    pairwise matches and chains (Seidman 1983; used as a graph-quality
    gate the same way triangle counts are, but with a global fixed
    point instead of a local census).

    Iterative DELTA peeling (r17; the Matula–Beck sequential peel
    turned synchronous): the carried state is (node, core_degree) —
    degree among still-alive nodes. Each round drops the rows whose
    stored degree is < k and DECREMENTS the survivors by their edge
    count into exactly that just-peeled set, rather than recomputing
    degrees over the full alive-restricted edge list (the r16 shape:
    two alive-joins + a count over ALL live edges, every round). The
    per-round aggregation therefore runs over the edges incident to
    the peeled layer only — after round one a thin cascade layer, not
    the whole graph (guide §2.3: shuffle the delta, not the corpus) —
    and the peeled side is small enough that AQE broadcast-converts
    its join at runtime, leaving one narrow pass over the edge table
    per round. Peel sets are identical round-for-round to the
    recompute form: survivors' decremented degree equals their degree
    among remaining alive nodes by induction. The survivor count rides
    the round's own materializing job as an ``observe()`` metric,
    never a second action; the alive set shrinks monotonically, so
    count-equality between rounds IS set-equality — the fixed point.
    Convergence needs at most as many rounds as the longest peel
    cascade (tiny on near-dup graphs, whose cores are near-cliques);
    like :func:`connected_components`, an unconverged budget RAISES
    instead of returning a wrong-but-plausible core, and the budget
    gets one confirmation round so a cascade exactly ``max_iterations``
    deep is accepted (r9 ADVICE discipline).

    Returns (doc_id, core_degree): the k-core members with their
    degree INSIDE the core (≥ k by construction). Nodes peeled away —
    including every node of a graph with no k-core — are absent.
    """
    edges = ckpt.checkpoint(
        pairs.select(F.col(id_a).alias("u"), F.col(id_b).alias("v"))
        .unionByName(
            pairs.select(F.col(id_b).alias("u"), F.col(id_a).alias("v"))
        )
        .distinct(),
        # consumed once per round (the decrement join) across every
        # round — without the cut each round re-derives the pair
        # lineage (at minhash-LSH cost) from scratch. LAZY is safe
        # here (unlike the pagerank/cc loop tables): its FIRST
        # materialization happens inside the single-threaded initial
        # core-table checkpoint job below, so no concurrent stage can
        # race the RDDCheckpointData lock; every later reader sees
        # already-materialized blocks.
        eager=False,
    )
    obs0 = Observation()
    core = ckpt.checkpoint(
        edges.groupBy("u")
        .agg(F.count(F.lit(1)).alias("core_degree"))
        .observe(obs0, F.count(F.lit(1)).alias("n"))
        # eager: materializes edges (serially, see above) and the
        # initial degree table in ONE job that also carries the
        # initial alive count — the r16 shape paid a separate
        # alive.count() action for it
    )
    prev = obs0.get["n"]
    for _ in range(max_iterations + 1):
        peeled = core.filter(F.col("core_degree") < k)
        dec = (
            edges.join(peeled.select(F.col("u").alias("v")), "v")
            .groupBy("u")
            .agg(F.count(F.lit(1)).alias("_dec"))
        )
        obs = Observation()
        survivors = ckpt.checkpoint(
            core.filter(F.col("core_degree") >= k)
            .join(dec, "u", "left")
            .select(
                "u",
                (
                    F.col("core_degree") - F.coalesce("_dec", F.lit(0))
                ).alias("core_degree"),
            )
            .observe(obs, F.count(F.lit(1)).alias("n"))
            # cut lineage + run observed job
        )
        n = obs.get["n"]
        # the prior round's core blocks were consumed by the eager
        # checkpoint job above; release at supersession so an N-round
        # peel holds ~2 rounds of blocks, not N (ckpt module doc —
        # the r11 graph_kcore [2.53, 12.06] GC-straggler band)
        ckpt.release(core)
        core = survivors
        if n == prev:
            ckpt.keep(survivors)  # the scope frees edges
            return survivors.select(F.col("u").alias("doc_id"), "core_degree")
        prev = n
    raise RuntimeError(
        f"kcore_decompose did not converge in {max_iterations} peeling "
        "rounds plus the confirmation round: the peel cascade is deeper "
        "than the budget — retry with a larger max_iterations (each round "
        "peels one cascade layer)"
    )


def link_prediction_jaccard(
    pairs: DataFrame,
    *,
    id_a: str = "id_a",
    id_b: str = "id_b",
    max_degree: int = 50,
    min_common: int = 1,
) -> DataFrame:
    """Jaccard-coefficient link prediction (Liben-Nowell & Kleinberg
    2003) over the near-dup graph: score NON-adjacent node pairs by
    neighborhood overlap ``|N(a)∩N(b)| / |N(a)∪N(b)|`` — the "these
    two docs share most of their near-dup family, the missing edge is
    probably a miss" signal that audits banding recall (LSH misses
    become high-scoring non-edges).

    Shape: common-neighbor pairs come from ONE wedge self-join at each
    shared neighbor (the triangle_counts build), so a candidate exists
    iff ≥ 1 common neighbor — never node × node. Wedge fanout at a hub
    is degree², so nodes with degree > ``max_degree`` are dropped from
    the WEDGE-CENTER role only (the winnow max_df bounded-reducer
    discipline: a boilerplate-hub's wedges are noise for this signal,
    and every reducer stays ≤ C(max_degree, 2)); they still count in
    the degree denominators of pairs found through other centers.
    Existing edges leave via one anti-join on the symmetric edge list.

    Output: (id_a < id_b, common, jaccard_ppm) with ``common ≥
    min_common``; jaccard_ppm = common·10⁶ trunc-div (deg_a + deg_b −
    common), exact integers.
    """
    edges = ckpt.checkpoint(
        pairs.select(F.col(id_a).alias("u"), F.col(id_b).alias("v"))
        .unionByName(
            pairs.select(F.col(id_b).alias("u"), F.col(id_a).alias("v"))
        )
        .distinct()
        # consumed by degrees, wedge build, and the non-edge anti-join
        # — mutually independent stages of ONE action, so EAGER (lazy
        # first-materialization from concurrent stages deadlocks ABBA
        # on the RDDCheckpointData lock; r16, hit live in pagerank)
    )
    deg = catalog.observe_cap_drops(
        edges.groupBy("u").agg(F.count(F.lit(1)).alias("deg")),
        "link_prediction:max_degree",
        F.col("deg") > max_degree,
        F.col("deg"),
    )
    centers_ok = deg.filter(F.col("deg") <= max_degree).select("u")
    wedge_src = edges.join(centers_ok, "u")
    w1 = wedge_src.select(F.col("u").alias("c"), F.col("v").alias("a"))
    w2 = wedge_src.select(F.col("u").alias("c"), F.col("v").alias("b"))
    common = (
        w1.join(w2, "c")
        .filter(F.col("a") < F.col("b"))
        .groupBy("a", "b")
        .agg(F.count(F.lit(1)).alias("common"))
        .filter(F.col("common") >= min_common)
    )
    non_edges = common.join(
        edges.select(F.col("u").alias("a"), F.col("v").alias("b")),
        ["a", "b"],
        "left_anti",
    )
    scored = (
        non_edges.join(deg.select(F.col("u").alias("a"), F.col("deg").alias("deg_a")), "a")
        .join(deg.select(F.col("u").alias("b"), F.col("deg").alias("deg_b")), "b")
        .select(
            F.col("a").alias(id_a),
            F.col("b").alias(id_b),
            "common",
            F.expr(
                "common * 1000000L div (deg_a + deg_b - common)"
            ).alias("jaccard_ppm"),
        )
    )
    return scored


def link_prediction_adamic_adar(
    pairs: DataFrame,
    *,
    id_a: str = "id_a",
    id_b: str = "id_b",
    max_degree: int = 50,
    min_common: int = 1,
) -> DataFrame:
    """Adamic–Adar link prediction (Adamic & Adar 2003) — the
    common-neighbor score that DOWN-weights promiscuous neighbors:
    ``AA(a, b) = Σ_{z ∈ N(a)∩N(b)} 1 / log2(deg z)``, so two docs
    connected only through a boilerplate hub score near zero while a
    pair sharing a tight family member scores high — usually the
    better banding-recall audit than raw Jaccard on skewed graphs.

    Same wedge shape and bounded-reducer discipline as
    :func:`link_prediction_jaccard` (wedge centers capped at
    ``max_degree``; degree-1 nodes produce no wedges so log2(1)=0
    never divides). Determinism: each center's ``1/log2(deg)`` is
    quantized to an integer (``floor(x·10⁶ + 0.5)``, the
    unigram_logprob discipline) BEFORE the per-pair sum, so scores
    are exact integer arithmetic in both engines.

    Output: (id_a < id_b, common, aa_q6) over NON-edges with
    ``common ≥ min_common``.
    """
    edges = ckpt.checkpoint(
        pairs.select(F.col(id_a).alias("u"), F.col(id_b).alias("v"))
        .unionByName(
            pairs.select(F.col(id_b).alias("u"), F.col(id_a).alias("v"))
        )
        .distinct()
        # EAGER: same concurrent-consumer exposure as the jaccard twin
    )
    deg = catalog.observe_cap_drops(
        edges.groupBy("u").agg(F.count(F.lit(1)).alias("deg")),
        "link_prediction_aa:max_degree",
        F.col("deg") > max_degree,  # degree-1 exclusion is by design,
        F.col("deg"),               # only the HUB cap is counted
    )
    centers = deg.filter(
        (F.col("deg") >= 2) & (F.col("deg") <= max_degree)
    ).select(
        "u",
        F.expr(
            "cast(floor(1.0 / log2(cast(deg as double)) * 1000000 + 0.5)"
            " as bigint)"
        ).alias("_w"),
    )
    wedge_src = edges.join(centers, "u")
    w1 = wedge_src.select(F.col("u").alias("c"), "_w", F.col("v").alias("a"))
    w2 = wedge_src.select(F.col("u").alias("c"), F.col("v").alias("b"))
    common = (
        w1.join(w2, "c")
        .filter(F.col("a") < F.col("b"))
        .groupBy("a", "b")
        .agg(
            F.count(F.lit(1)).alias("common"),
            F.sum("_w").alias("aa_q6"),
        )
        .filter(F.col("common") >= min_common)
    )
    non_edges = common.join(
        edges.select(F.col("u").alias("a"), F.col("v").alias("b")),
        ["a", "b"],
        "left_anti",
    )
    return non_edges.select(
        F.col("a").alias(id_a), F.col("b").alias(id_b), "common", "aa_q6"
    )
