"""Round-9 operator tests: convergence guard, PQ dim derivation,
pagerank lineage bound, plus the round's new operators."""

from __future__ import annotations

import pytest
from pyspark.sql import Row
from pyspark.sql import functions as F

from sales_data_etl_pipeline_spark.operators import dedup


def _chain_pairs(spark, n):
    return spark.createDataFrame(
        [Row(id_a=i, id_b=i + 1) for i in range(n - 1)]
    )


def test_connected_components_raises_on_diameter_over_budget(spark):
    """A 25-node chain has diameter 24 > the default 20-round budget:
    min-label propagation crosses ONE edge per round, so silently
    returning would split the component — the guard must raise."""
    pairs = _chain_pairs(spark, 25)
    with pytest.raises(RuntimeError, match="did not converge"):
        dedup.connected_components(pairs)


def test_connected_components_deep_chain_with_budget(spark):
    """The same chain converges (to one component rooted at 0) once the
    budget covers the diameter."""
    pairs = _chain_pairs(spark, 25)
    got = dedup.connected_components(pairs, max_iterations=30).collect()
    assert len(got) == 25
    assert {r.component for r in got} == {0}


def test_pq_adc_derives_dim_from_codebook(spark):
    """dim is no longer trusted from the caller: omitted → derived from
    the codebook; wrong → ValueError instead of silently-zero block
    distances from out-of-range slices."""
    from sales_data_etl_pipeline_spark.operators import similarity as sim

    rows = [
        Row(vec_id=i, embedding=[float(i)] * 4 + [float(-i)] * 4)
        for i in range(1, 6)
    ]
    corpus = spark.createDataFrame(rows)
    codebook = corpus.select(
        F.col("vec_id").alias("centroid_id"), "embedding"
    )
    # derived dim (8) — identical ranks to the explicit-dim call
    got = sim.pq_adc_topk(
        corpus, codebook, corpus.filter(F.col("vec_id") == 3),
        k=1, n_blocks=2,
    ).collect()
    assert got[0].neighbor_id == 3 and got[0].d2_adc == 0
    # wrong explicit dim: loud, not wrong
    with pytest.raises(ValueError, match="codebook vectors are 8-dim"):
        sim.pq_adc_topk(
            corpus, codebook, corpus.limit(1), k=1, n_blocks=2, dim=16
        )


def test_pq_adc_rejects_wrong_dim_queries(spark):
    """A query vector whose dim differs from the codebook's must error
    at execution (it would otherwise rank everything at distance 0)."""
    from sales_data_etl_pipeline_spark.operators import similarity as sim

    corpus = spark.createDataFrame(
        [Row(vec_id=i, embedding=[float(i)] * 8) for i in range(1, 4)]
    )
    codebook = corpus.select(
        F.col("vec_id").alias("centroid_id"), "embedding"
    )
    bad_queries = spark.createDataFrame(
        [Row(vec_id=99, embedding=[1.0] * 6)]
    )
    with pytest.raises(Exception, match="query vector dim"):
        sim.pq_adc_topk(
            corpus, codebook, bad_queries, k=1, n_blocks=2
        ).collect()


def _range_fixture(spark):
    """Two tiny corpora with planted cross-corpus near-matches."""
    import math

    def vec(seed, bump=0.0):
        return [
            float(math.sin(seed * 13 + d) + (bump if d == 0 else 0.0))
            for d in range(8)
        ]

    left = spark.createDataFrame(
        [Row(vec_id=i, embedding=vec(i)) for i in range(10)]
    )
    right = spark.createDataFrame(
        # 100+i: a near-copy of left i (planted match); 200+i: unrelated
        [Row(vec_id=100 + i, embedding=vec(i, bump=0.01)) for i in range(10)]
        + [Row(vec_id=200 + i, embedding=vec(50 + i)) for i in range(10)]
    )
    return left, right


def test_cosine_range_join_subset_and_recall_vs_brute(spark):
    """Precision is exact by construction (candidates re-verified), so
    the banded result must be a SUBSET of brute force; the planted
    near-identical pairs (cosine→1) must ALL be found (a near-copy
    agrees on every sign bit, so banding cannot miss it)."""
    from sales_data_etl_pipeline_spark.operators import similarity as sim

    left, right = _range_fixture(spark)
    got = {
        (r.left_id, r.right_id)
        for r in sim.cosine_range_join(
            left, right, threshold=0.8, dim=8
        ).collect()
    }
    # brute force over the 10×20 cross product
    l = left.select(
        F.col("vec_id").alias("left_id"), F.col("embedding").alias("lv")
    )
    r = right.select(
        F.col("vec_id").alias("right_id"), F.col("embedding").alias("rv")
    )
    dot = (
        "aggregate(zip_with(transform(lv, x -> cast(x as double)),"
        " transform(rv, x -> cast(x as double)), (x, y) -> x * y),"
        " 0D, (acc, x) -> acc + x)"
    )
    nrm = (
        "sqrt(aggregate(transform({v}, x -> cast(x as double)),"
        " 0D, (acc, x) -> acc + x * x))"
    )
    brute = {
        (row.left_id, row.right_id)
        for row in l.crossJoin(r)
        .withColumn(
            "cosine",
            F.round(
                F.expr(dot)
                / (F.expr(nrm.format(v="lv")) * F.expr(nrm.format(v="rv"))),
                6,
            ),
        )
        .filter(F.col("cosine") >= 0.8)
        .collect()
    }
    assert got <= brute
    planted = {(i, 100 + i) for i in range(10)} & brute
    assert planted <= got and len(planted) == 10


def test_cosine_range_join_plan_is_equi_join(spark):
    """Both corpora may be huge: candidates must come from a (band, sig)
    equi-join, never a corpus×corpus cartesian."""
    from sales_data_etl_pipeline_spark.operators import similarity as sim

    left, right = _range_fixture(spark)
    plan = (
        sim.cosine_range_join(left, right, threshold=0.8, dim=8)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_cosine_range_join_excludes_dead_vectors(spark):
    """Zero-norm and non-finite vectors are dead on both sides."""
    from sales_data_etl_pipeline_spark.operators import similarity as sim

    left = spark.createDataFrame(
        [
            Row(vec_id=1, embedding=[1.0] * 8),
            Row(vec_id=2, embedding=[0.0] * 8),
            Row(vec_id=3, embedding=[float("nan")] * 8),
        ]
    )
    right = spark.createDataFrame(
        [
            Row(vec_id=10, embedding=[1.0] * 8),
            Row(vec_id=11, embedding=[float("inf")] + [1.0] * 7),
        ]
    )
    got = sim.cosine_range_join(left, right, threshold=0.5, dim=8).collect()
    assert {(r.left_id, r.right_id) for r in got} == {(1, 10)}
    assert got[0].cosine == 1.0


def test_markov_transitions_exact_ppm(spark):
    """Hand-checkable stream: u1 does a→b→a→b, u2 does a→c.
    Transitions: a→b ×2, b→a ×1, a→c ×1 → row a: b=666666ppm,
    c=333333ppm (integer division truncates); row b: a=1000000ppm."""
    import datetime as dt

    from sales_data_etl_pipeline_spark.operators import temporal

    t0 = dt.datetime(2024, 1, 1)
    rows = [
        Row(event_id=i, user_id=u, event_type=e,
            ts=t0 + dt.timedelta(minutes=i))
        for i, (u, e) in enumerate(
            [(1, "a"), (1, "b"), (1, "a"), (1, "b"), (2, "a"), (2, "c")]
        )
    ]
    got = {
        (r.from_type, r.to_type): (r.n_transitions, r.prob_ppm)
        for r in temporal.markov_transitions(
            spark.createDataFrame(rows)
        ).collect()
    }
    assert got == {
        ("a", "b"): (2, 666666),
        ("a", "c"): (1, 333333),
        ("b", "a"): (1, 1000000),
    }


def test_curriculum_order_buckets_and_determinism(spark):
    """Positions are a permutation 1..N, bucket is non-decreasing along
    the position order (curriculum: best bucket first), and the whole
    ordering is reproducible run-to-run (md5, no RNG)."""
    from sales_data_etl_pipeline_spark.operators import corpus as corpus_ops

    docs = spark.createDataFrame(
        [
            Row(
                doc_id=i,
                text=("good clean sentence with the words. " * (1 + i % 7))[
                    : 40 + 13 * i % 200
                ],
            )
            for i in range(40)
        ]
    )
    a = corpus_ops.curriculum_order(docs).orderBy("position").collect()
    b = corpus_ops.curriculum_order(docs).orderBy("position").collect()
    assert [r.doc_id for r in a] == [r.doc_id for r in b]
    assert [r.position for r in a] == list(range(1, 41))
    buckets = [r.bucket for r in a]
    assert buckets == sorted(buckets)
    assert set(buckets) == {1, 2, 3, 4}


def test_minhash_incremental_prepared_matches_direct(spark):
    """The artifact path (save_minhash_base + match against the stored
    bucketed tables) must reproduce the self-contained incremental
    operator bit-for-bit, including after an artifact overwrite."""
    base = spark.createDataFrame(
        [
            Row(
                doc_id=i,
                text=(
                    f"document number {i} about spark minhash dedup "
                    f"with shared words and unique token{i} tail piece"
                ),
            )
            for i in range(30)
        ]
    )
    incoming = base.filter(F.col("doc_id") % 5 == 0).select(
        (F.col("doc_id") + 1000).alias("doc_id"),
        F.expr("substring(text, 1, length(text) - 12)").alias("text"),
    )
    want = sorted(
        (r.doc_id, r.base_id, r.jaccard)
        for r in dedup.minhash_lsh_incremental(
            base, incoming, threshold=0.3, verify="join"
        ).collect()
    )
    try:
        for _ in range(2):  # overwrite semantics: second save must work
            dedup.save_minhash_base(base, "t_mh_base")
            got = sorted(
                (r.doc_id, r.base_id, r.jaccard)
                for r in dedup.minhash_lsh_incremental_prepared(
                    spark, "t_mh_base", incoming, threshold=0.3
                ).collect()
            )
            assert got == want and len(got) == 6
    finally:
        for t in ("_shingles", "_per_doc", "_band_sig"):
            spark.sql(f"DROP TABLE IF EXISTS t_mh_base{t}")


def test_residual_pq_beats_raw_pq_error(spark):
    """The point of residual encoding: with the same codeword budget,
    quantization error on centered residuals is no worse than raw PQ —
    and a vector that IS a residual codeword sample encodes with zero
    block error beyond its own-assignment residual."""
    import math

    from sales_data_etl_pipeline_spark.operators import embeddings as emb_ops

    rows = [
        Row(
            vec_id=i,
            embedding=[
                10.0 * (i % 3) + math.sin(i * 7 + d) for d in range(8)
            ],
        )
        for i in range(60)
    ]
    corpus = spark.createDataFrame(rows)
    coarse = corpus.filter(F.col("vec_id") < 3).select(
        F.col("vec_id").alias("centroid_id"), "embedding"
    )
    rcb = corpus.filter(F.col("vec_id") % 10 == 0).select(
        F.col("vec_id").alias("centroid_id"), "embedding"
    )
    raw = emb_ops.pq_encode(corpus, rcb, n_blocks=2)
    res = emb_ops.pq_encode_residual(corpus, coarse, rcb, n_blocks=2)
    raw_err = raw.agg(F.sum("d2_total")).first()[0]
    res_err = res.agg(F.sum("d2_total")).first()[0]
    assert res.count() == 60
    assert res_err <= raw_err


def test_ivfpq_residual_self_match(spark):
    """A query that exists in the corpus and probes its own list must
    rank itself first, at exactly its own residual quantization error."""
    import math

    from sales_data_etl_pipeline_spark.operators import embeddings as emb_ops
    from sales_data_etl_pipeline_spark.operators import similarity as sim

    rows = [
        Row(
            vec_id=i,
            embedding=[
                6.0 * (i % 2) + math.cos(i * 5 + d) for d in range(8)
            ],
        )
        for i in range(40)
    ]
    corpus = spark.createDataFrame(rows)
    coarse = corpus.filter(F.col("vec_id") < 2).select(
        F.col("vec_id").alias("centroid_id"), "embedding"
    )
    rcb = corpus.filter(F.col("vec_id") % 8 == 0).select(
        F.col("vec_id").alias("centroid_id"), "embedding"
    )
    q = corpus.filter(F.col("vec_id") == 16)  # a codeword sample row
    got = sim.ivfpq_residual_topk(
        corpus, coarse, rcb, q, k=10, n_blocks=2, n_probe=1
    ).collect()
    own = (
        emb_ops.pq_encode_residual(corpus, coarse, rcb, n_blocks=2)
        .filter(F.col("vec_id") == 16)
        .first()
    )
    assert own.d2_total == 0  # its residual IS a codeword
    # ADC is a QUANTIZED distance: every vector sharing the query's
    # codes ties at 0 (ties → smallest id); the query itself must be
    # in that zero-distance group, and rank 1 must score 0
    zero = {r.neighbor_id for r in got if r.d2_adc == 0}
    assert 16 in zero
    assert got[0].d2_adc == 0


def test_pagerank_deep_iterations_stay_bounded(spark):
    """10 iterations must not double the unresolved plan per round: the
    per-iteration lazy checkpoint keeps lineage flat, so this completes
    in seconds and conserves total mass like the 3-iteration form."""
    pairs = spark.createDataFrame(
        [Row(id_a=a, id_b=b) for a, b in [(1, 2), (2, 3), (3, 1), (3, 4)]]
    )
    got = dedup.pagerank(pairs, iterations=10).collect()
    assert len(got) == 4
    total = sum(r.rank_ppb for r in got)
    # integer-division truncation loses at most a few ppb per node/round
    assert abs(total - 1_000_000_000) < 1000


def test_dup_span_removal_removes_shared_spans_only(spark):
    """Two docs sharing an exact 20-token run lose exactly that run
    (plus any other duplicated windows it induces); a unique doc and a
    short doc pass through byte-identical."""
    from sales_data_etl_pipeline_spark.operators import text as text_ops

    shared = " ".join(f"s{i}" for i in range(20))
    docs = spark.createDataFrame(
        [
            Row(doc_id=1, text=f"alpha beta {shared} gamma delta"),
            Row(doc_id=2, text=f"x1 x2 x3 {shared} y1"),
            Row(doc_id=3, text="unique words only here"),
            Row(doc_id=4, text="tiny"),
        ]
    )
    got = {
        r.doc_id: r
        for r in text_ops.dup_span_removal(docs).collect()
    }
    # the shared 20-token window is the ONLY duplicated span (the
    # surrounding tokens differ), so exactly those 20 tokens vanish
    assert got[1].clean_text == "alpha beta gamma delta"
    assert got[1].n_removed == 20 and got[1].n_tokens == 24
    assert got[2].clean_text == "x1 x2 x3 y1"
    assert got[2].n_removed == 20
    assert got[3].clean_text == "unique words only here"
    assert got[3].n_removed == 0
    assert got[4].clean_text == "tiny" and got[4].n_removed == 0


def test_dup_span_removal_full_duplicate_empties_doc(spark):
    """An exact duplicate pair ≥ 20 tokens long is fully covered by
    duplicated windows on both sides → both come back empty, still
    present in the output."""
    from sales_data_etl_pipeline_spark.operators import text as text_ops

    body = " ".join(f"w{i}" for i in range(30))
    docs = spark.createDataFrame(
        [Row(doc_id=1, text=body), Row(doc_id=2, text=body)]
    )
    got = {r.doc_id: r for r in text_ops.dup_span_removal(docs).collect()}
    assert len(got) == 2
    for r in got.values():
        assert r.clean_text == "" and r.n_removed == 30 and r.n_tokens == 30


def test_dup_span_removal_within_doc_repeat_not_removed(spark):
    """min_docs counts DISTINCT documents: a span repeated twice inside
    ONE doc is not corpus-duplicated and survives."""
    from sales_data_etl_pipeline_spark.operators import text as text_ops

    span = " ".join(f"r{i}" for i in range(20))
    docs = spark.createDataFrame(
        [Row(doc_id=1, text=f"{span} mid {span}"), Row(doc_id=2, text="other")]
    )
    got = text_ops.dup_span_removal(docs).filter(F.col("doc_id") == 1).collect()
    assert got[0].n_removed == 0
    assert got[0].clean_text == f"{span} mid {span}"


def test_domain_cap_equals_single_window_form(spark):
    """The salted two-phase top-k must pick EXACTLY the rows a plain
    per-domain row_number() would — including on a skewed corpus where
    one domain holds most documents."""
    from pyspark.sql import Window

    from sales_data_etl_pipeline_spark.operators import corpus as corpus_ops

    rows = [Row(doc_id=i, source="hot") for i in range(200)]
    rows += [Row(doc_id=1000 + i, source=f"s{i % 5}") for i in range(25)]
    docs = spark.createDataFrame(rows)
    got = corpus_ops.domain_cap(docs, cap=7).collect()
    key = F.md5(F.concat(F.lit("seed42-"), F.col("doc_id").cast("string")))
    w = Window.partitionBy("source").orderBy(key.alias("_k"), "doc_id")
    want = (
        docs.withColumn("pick_rank", F.row_number().over(w))
        .filter(F.col("pick_rank") <= 7)
        .collect()
    )
    assert {(r.doc_id, r.pick_rank) for r in got} == {
        (r.doc_id, r.pick_rank) for r in want
    }
    # cap respected per domain; small domains keep everything
    from collections import Counter

    per = Counter(r.source for r in got)
    assert per["hot"] == 7 and all(v <= 7 for v in per.values())


def test_prepared_minhash_base_rejects_other_parameters(spark):
    """A base saved with one (num_hashes, bands, n) and matched with
    another used to return no rows (its band keys never meet the
    incoming side's). The parameters are recorded with the base, and a
    mismatch raises before any job runs."""
    from sales_data_etl_pipeline_spark.profile import job_group

    base = spark.createDataFrame(
        [Row(doc_id=i, text=f"spark minhash base doc {i} shared words tail") for i in range(8)]
    )
    incoming = base.select((F.col("doc_id") + 100).alias("doc_id"), "text")
    try:
        dedup.save_minhash_base(base, "t_mh_params", bands=4)
        for bad in ({"bands": 8}, {"num_hashes": 32}, {"n": 2}):
            with job_group(spark, "t_mh_params") as rec:
                with pytest.raises(ValueError, match="t_mh_params"):
                    dedup.minhash_lsh_incremental_prepared(
                        spark, "t_mh_params", incoming, **bad
                    )
            assert rec.jobs == [], bad
        same = dedup.minhash_lsh_incremental_prepared(
            spark, "t_mh_params", incoming, bands=4, threshold=0.9
        )
        assert same.count() == 8
    finally:
        for t in ("_shingles", "_per_doc", "_band_sig"):
            spark.sql(f"DROP TABLE IF EXISTS t_mh_params{t}")
