"""Round-10 hardening tests: the three r9 ADVICE fixes (connected-
components exact-diameter budget, pq_adc_topk empty-codebook
short-circuit under AQE-off, the narrowed stale-location guard)."""

from __future__ import annotations

import os

import pytest
from pyspark.sql import Row
from pyspark.sql import functions as F

from sales_data_etl_pipeline_spark.operators import dedup


def test_connected_components_converges_at_exact_diameter(spark):
    """A graph whose diameter EQUALS max_iterations converges on the
    final budgeted round (labels change that round yet are already the
    fixed point); the confirmation round must accept it instead of
    raising — previously the effective budget was max_iterations-1
    (r9 ADVICE)."""
    n = 23  # chain 0-1-...-22: diameter 22 edges
    pairs = spark.createDataFrame(
        [Row(id_a=i, id_b=i + 1) for i in range(n - 1)]
    )
    got = dedup.connected_components(pairs, max_iterations=22).collect()
    assert len(got) == n
    assert {r.component for r in got} == {0}


def test_connected_components_pair_batched_round_semantics(spark):
    """The r17 two-rounds-per-action batching must preserve the exact
    budget semantics at every pair boundary: convergence observed on
    the first OR second round of a pair counts iff that round is
    within max_iterations + 1; a speculative round beyond the budget
    never rescues an unconverged run; max_iterations=0 still runs the
    single confirmation round."""
    chain4 = spark.createDataFrame(
        [Row(id_a=i, id_b=i + 1) for i in range(4)]  # diameter 4
    )
    # needs rounds 1-4 to propagate + round 5 to confirm: budget 4 OK
    got = dedup.connected_components(chain4, max_iterations=4).collect()
    assert {r.component for r in got} == {0} and len(got) == 5
    # budget 3 (confirmation round 4 still observes change) must raise
    # even though the pair job has already computed round 5's labels
    with pytest.raises(RuntimeError, match="did not converge"):
        dedup.connected_components(chain4, max_iterations=3).collect()
    # max_iterations=0: one confirmation round only - a single edge is
    # unconverged (round 1 changes a label) and must raise
    one = spark.createDataFrame([Row(id_a=1, id_b=2)])
    with pytest.raises(RuntimeError, match="did not converge"):
        dedup.connected_components(one, max_iterations=0).collect()
    # ... while an edgeless graph passes trivially at the same budget
    empty = spark.createDataFrame([], "id_a long, id_b long")
    assert dedup.connected_components(empty, max_iterations=0).collect() == []


def test_pq_adc_empty_codebook_short_circuits_without_aqe(spark):
    """An empty / all-non-finite codebook must return the
    schema-correct empty result WITHOUT building the query-side plan:
    the old path relied on AQE empty-relation propagation to eliminate
    the join before the wrong-dim raise_error projection over real
    query rows could run — with AQE off it errored spuriously
    (r9 ADVICE)."""
    from sales_data_etl_pipeline_spark.operators import similarity as sim

    corpus = spark.createDataFrame(
        [Row(vec_id=i, embedding=[float(i)] * 8) for i in range(1, 4)]
    )
    empty_codebook = spark.createDataFrame(
        [], "centroid_id bigint, embedding array<double>"
    )
    nan_codebook = spark.createDataFrame(
        [Row(centroid_id=1, embedding=[float("nan")] * 8)]
    )
    old_aqe = spark.conf.get("spark.sql.adaptive.enabled")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try:
        for cb in (empty_codebook, nan_codebook):
            got = sim.pq_adc_topk(corpus, cb, corpus, k=2, n_blocks=2)
            assert got.columns == ["query_id", "neighbor_id", "d2_adc", "rank"]
            assert got.count() == 0
    finally:
        spark.conf.set("spark.sql.adaptive.enabled", old_aqe)
    # schema parity with the non-empty path (same column names/types)
    full_cb = corpus.select(F.col("vec_id").alias("centroid_id"), "embedding")
    full = sim.pq_adc_topk(corpus, full_cb, corpus, k=1, n_blocks=2)
    assert [f.name for f in full.schema.fields] == [
        f.name for f in got.schema.fields
    ]
    assert [f.dataType for f in full.schema.fields] == [
        f.dataType for f in got.schema.fields
    ]


def test_stale_location_guard_spares_foreign_directories(spark, tmp_path):
    """overwrite_table's orphan cleanup must only rmtree directories
    that look like Spark table output — a user directory that happens
    to share the table's name survives (and the write then fails loudly
    rather than silently eating the data) (r9 ADVICE)."""
    from sales_data_etl_pipeline_spark.sources.parquet import (
        _is_spark_table_output,
    )

    # genuine saveAsTable layout → removable
    t = tmp_path / "own_table"
    (t / "cat=a").mkdir(parents=True)
    (t / "_SUCCESS").touch()
    (t / "cat=a" / "part-00000-abc.snappy.parquet").touch()
    (t / "cat=a" / ".part-00000-abc.snappy.parquet.crc").touch()
    assert _is_spark_table_output(str(t))

    # foreign content → NOT removable
    f1 = tmp_path / "foreign1"
    f1.mkdir()
    (f1 / "notes.txt").touch()
    assert not _is_spark_table_output(str(f1))
    f2 = tmp_path / "foreign2"
    (f2 / "subdir").mkdir(parents=True)  # non key=value subdir
    (f2 / "subdir" / "part-0.parquet").touch()
    assert not _is_spark_table_output(str(f2))


def test_overwrite_table_resolves_db_qualifier(spark, tmp_path):
    """db.tbl must map to <wh>/<db>.db/<tbl>: the old guard looked at
    <wh>/<tbl> for qualified names and silently missed the orphan."""
    from urllib.parse import urlparse

    from sales_data_etl_pipeline_spark.sources.parquet import overwrite_table

    wh = urlparse(spark.conf.get("spark.sql.warehouse.dir")).path
    db = "r10guard"
    spark.sql(f"CREATE DATABASE IF NOT EXISTS {db}")
    try:
        # simulate a prior session's orphan: table-shaped directory on
        # disk at the QUALIFIED location, no catalog registration
        loc = os.path.join(wh, f"{db}.db", "t1")
        os.makedirs(loc, exist_ok=True)
        open(os.path.join(loc, "_SUCCESS"), "w").close()
        open(
            os.path.join(loc, "part-00000-dead.snappy.parquet"), "w"
        ).close()
        assert not spark.catalog.tableExists(f"{db}.t1")
        df = spark.createDataFrame([Row(a=1), Row(a=2)])
        overwrite_table(df, f"{db}.t1")  # must clear the orphan first
        assert spark.table(f"{db}.t1").count() == 2
    finally:
        spark.sql(f"DROP TABLE IF EXISTS {db}.t1")
        spark.sql(f"DROP DATABASE IF EXISTS {db}")


def test_rowwise_band_signatures_match_batch(spark):
    """The streaming kernel's row-wise MinHash band signatures must be
    BIT-IDENTICAL to the batch pipeline (shingle explode → groupBy min)
    — the claim the streaming near-dup gate's oracle rests on."""
    from sales_data_etl_pipeline_spark.operators import dedup
    from sales_data_etl_pipeline_spark.streaming import events as streaming

    docs = spark.createDataFrame(
        [
            Row(doc_id=1, text="the quick brown fox jumps over the lazy dog"),
            Row(doc_id=2, text="the quick brown fox jumps over the lazy cat"),
            Row(doc_id=3, text="completely different text about spark plans"),
            Row(doc_id=4, text="the quick brown fox jumps over the lazy dog"),
            Row(doc_id=5, text="too short"),  # < 3 tokens: no shingles
            Row(doc_id=6, text=""),
        ]
    )
    batch = dedup._band_signatures(
        dedup._minhash_per_doc(
            dedup._shingle_ids(dedup.shingle_sets(docs)), 16
        ),
        dedup._lsh_bands(16, 4),
    )
    rowwise = streaming.rowwise_band_signatures(docs)
    got = sorted(map(tuple, rowwise.collect()))
    want = sorted(map(tuple, batch.collect()))
    assert got == want
    # identical docs share every band signature; sub-3-token docs absent
    by_doc = {}
    for doc_id, band, sig in got:
        by_doc.setdefault(doc_id, set()).add((band, sig))
    assert by_doc[1] == by_doc[4]
    assert 5 not in by_doc and 6 not in by_doc


@pytest.mark.parametrize("bands", [0, 5, 32])
def test_band_split_must_divide_num_hashes(spark, bands):
    """A band split must be whole: bands=0 would divide by zero, bands >
    num_hashes bands zero rows (every doc shares the signature '' in
    every band, so the candidate join is all pairs), and 16 % 5 drops a
    hash. Batch and streaming banding both reject them up front."""
    from sales_data_etl_pipeline_spark.streaming import events as streaming

    docs = spark.createDataFrame(
        [Row(doc_id=1, text="the quick brown fox jumps over the lazy dog")]
    )
    with pytest.raises(ValueError, match="bands"):
        dedup.minhash_lsh_pairs(docs, num_hashes=16, bands=bands)
    with pytest.raises(ValueError, match="bands"):
        streaming.rowwise_band_signatures(docs, num_hashes=16, bands=bands)


def test_cosine_range_topk_bounds_hubs_and_matches_naive(spark):
    """cosine_range_topk must (a) emit ≤ k rows per left even for a hub
    matched by many rights, (b) equal the naive row_number window over
    cosine_range_join's output, (c) be salt-invariant (the two-phase
    exactness claim)."""
    from pyspark.sql import Window

    from sales_data_etl_pipeline_spark.operators import similarity as sim

    def vec(seed, bump=0.0):
        import math

        return [
            float(math.sin(seed * 7 + d) + (bump if d == 0 else 0.0))
            for d in range(8)
        ]

    left = spark.createDataFrame(
        [Row(vec_id=i, embedding=vec(i)) for i in range(4)]
    )
    # hub: 12 near-copies of left 0, plus near-copies of the others
    right = spark.createDataFrame(
        [Row(vec_id=100 + j, embedding=vec(0, bump=0.001 * (j + 1)))
         for j in range(12)]
        + [Row(vec_id=200 + i, embedding=vec(i, bump=0.01)) for i in range(4)]
    )
    kw = dict(k=3, threshold=0.9, planes=16, bands=4, dim=8)
    got = sim.cosine_range_topk(left, right, **kw)
    per_left = {
        r.left_id: r.n for r in got.groupBy("left_id").agg(
            F.count(F.lit(1)).alias("n")).collect()
    }
    assert per_left[0] == 3  # hub clipped to k
    w = Window.partitionBy("left_id").orderBy(
        F.desc("cosine"), F.asc("right_id")
    )
    naive = (
        sim.cosine_range_join(left, right, **{
            k_: v for k_, v in kw.items() if k_ != "k"})
        .withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= 3)
        .select("left_id", "right_id", "cosine",
                F.col("rank").cast("long").alias("rank"))
    )
    key = lambda r: (r.left_id, r.rank)  # noqa: E731
    assert sorted(map(tuple, got.collect()), key=lambda t: (t[0], t[3])) == \
        sorted(map(tuple, naive.collect()), key=lambda t: (t[0], t[3]))
    one_salt = sim.cosine_range_topk(left, right, salt_buckets=1, **kw)
    assert sorted(map(tuple, one_salt.collect()),
                  key=lambda t: (t[0], t[3])) == \
        sorted(map(tuple, got.collect()), key=lambda t: (t[0], t[3]))


def test_snapshot_diff_semantics(spark):
    """added / removed / changed classification, NULL-safe change
    masks (NULL→value and value→NULL are changes), presence sentinels
    (an all-NULL-attribute row still reads PRESENT), unchanged keys
    not emitted, changed_cols sorted."""
    from sales_data_etl_pipeline_spark.operators import merge

    old = spark.createDataFrame(
        [
            Row(k=1, a="x", b=10),      # unchanged
            Row(k=2, a="y", b=20),      # removed
            Row(k=3, a="z", b=30),      # b changes
            Row(k=4, a=None, b=40),     # a NULL→value: change
            Row(k=5, a="w", b=50),      # both change
            Row(k=6, a=None, b=None),   # all-NULL attrs, still present
        ]
    )
    new = spark.createDataFrame(
        [
            Row(k=1, a="x", b=10),
            Row(k=3, a="z", b=31),
            Row(k=4, a="v", b=40),
            Row(k=5, a="W", b=51),
            Row(k=6, a=None, b=None),   # unchanged (all-NULL == all-NULL)
            Row(k=7, a="new", b=70),    # added
        ]
    )
    got = {
        r.k: (r.change_type, r.changed_cols)
        for r in merge.snapshot_diff(old, new, "k").collect()
    }
    assert got == {
        2: ("removed", ""),
        3: ("changed", "b"),
        4: ("changed", "a"),
        5: ("changed", "a,b"),
        7: ("added", ""),
    }


def test_linear_attribution_exact_split(spark):
    """Hand-computed credits: a 10.00 conversion with 3 touches splits
    to 333_333_333 micro-cents each (floor division — the 1-micro-cent
    remainder is dropped, never redistributed); touches outside the
    lookback or after the conversion never earn credit."""
    import datetime as dt

    from sales_data_etl_pipeline_spark.operators import temporal

    t0 = dt.datetime(2024, 1, 10, 12, 0, 0)

    def ev(eid, typ, ts, value=0.0, user=1):
        return Row(
            event_id=eid, ts=ts, user_id=user, event_type=typ,
            value=float(value), props="{}",
        )

    events = spark.createDataFrame(
        [
            ev(1, "view", t0 - dt.timedelta(days=1)),
            ev(2, "click", t0 - dt.timedelta(hours=2)),
            ev(3, "view", t0 - dt.timedelta(minutes=5)),
            ev(4, "purchase", t0, value=10.0),
            ev(5, "view", t0 + dt.timedelta(hours=1)),        # after: no credit
            ev(6, "click", t0 - dt.timedelta(days=30)),       # too old
            ev(7, "view", t0 - dt.timedelta(days=1), user=2),  # other user
        ]
    )
    got = {
        r.event_type: r
        for r in temporal.linear_attribution(events).collect()
    }
    assert set(got) == {"view", "click"}
    assert got["view"].n_touches == 2 and got["click"].n_touches == 1
    assert got["view"].n_conversions == 1 == got["click"].n_conversions
    assert got["view"].credit_micros == 2 * 333_333_333
    assert got["click"].credit_micros == 333_333_333


def test_knn_graph_mutual_drops_one_way_edges(spark):
    """A satellite keeps the hub in its top-k, but the hub's own top-k
    holds only its k closest satellites — mutual symmetrization must
    drop the unreciprocated edges."""
    import math

    from sales_data_etl_pipeline_spark.operators import similarity as sim

    base = [1.0] * 8

    def sat(eps):
        v = list(base)
        v[7] += eps
        return [float(x) for x in v]

    corpus = spark.createDataFrame(
        [Row(vec_id=0, embedding=[float(x) for x in base])]
        + [Row(vec_id=i, embedding=sat(0.001 * i)) for i in range(1, 6)]
        # a far-away pair that is mutually nearest to each other only
        + [
            Row(vec_id=10, embedding=[1.0, -1.0] * 4),
            Row(vec_id=11, embedding=[1.0, -1.001] * 4),
        ]
    )
    got = sim.knn_graph_mutual(
        corpus, k=2, threshold=0.5, planes=16, bands=4, dim=8
    )
    edges = {(r.id_a, r.id_b) for r in got.collect()}
    # the far pair is mutual; hub cluster: every edge must be mutual
    assert (10, 11) in edges
    for a, b in edges:
        assert a < b
    # satellites 4,5 are NOT in hub-0's top-2, so (0,4)/(0,5) one-way
    # edges must be gone even though 0 is in their top-2
    assert (0, 4) not in edges and (0, 5) not in edges


def test_bloom_membership_superset_of_exact_and_bounded(spark):
    """Bloom hits must be a SUPERSET of exact n-gram overlap hits
    (no false negatives — the bloom contract), and the broadcast bit
    table must stay ≤ m_bits regardless of eval size."""
    from sales_data_etl_pipeline_spark.operators import corpus as corpus_ops

    words = "alpha beta gamma delta epsilon zeta eta theta iota kappa".split()
    docs = spark.createDataFrame(
        [
            Row(doc_id=1, text=" ".join(words)),           # leaked verbatim
            Row(doc_id=2, text=" ".join(words[::-1])),     # same words, no 8-gram
            Row(doc_id=3, text="totally unrelated words " * 4),
        ]
    )
    evalset = docs.filter(F.col("doc_id") == 1)
    got = {
        r.doc_id: r.n_bloom_hits
        for r in corpus_ops.bloom_membership(
            docs, evalset, m_bits=1 << 16, k_hashes=4, n=8
        ).collect()
    }
    exact = {
        r.doc_id
        for r in corpus_ops.decontaminate(docs, evalset, n=8).collect()
    }
    assert exact <= set(got)        # no false negatives
    assert got[1] == 3              # 10 words -> 3 distinct 8-grams
    # tiny filter: force false positives to prove determinism is the
    # oracle's job, not an accident — rerun must agree with itself
    tiny = corpus_ops.bloom_membership(
        docs, evalset, m_bits=64, k_hashes=2, n=8
    )
    assert sorted(map(tuple, tiny.collect())) == sorted(
        map(tuple, tiny.collect())
    )


def test_top_paths_orders_and_ties(spark):
    """Paths are built in (ts, event_id) order and ranked
    (n_users DESC, path ASC)."""
    import datetime as dt

    from sales_data_etl_pipeline_spark.operators import temporal

    t0 = dt.datetime(2024, 1, 1)
    rows = []
    eid = 0
    for user, seq in [
        (1, "abc"), (2, "abc"), (3, "acb"), (4, "b"),
    ]:
        for i, ch in enumerate(seq):
            eid += 1
            rows.append(
                Row(
                    event_id=eid,
                    ts=t0 + dt.timedelta(minutes=i),
                    user_id=user,
                    event_type=ch,
                    value=0.0,
                    props="{}",
                )
            )
    got = temporal.top_paths(
        spark.createDataFrame(rows), path_len=3, top_n=10
    ).collect()
    assert [(r.path, r.n_users) for r in got] == [
        ("a>b>c", 2), ("a>c>b", 1), ("b", 1),
    ]


def test_wav_parser_walks_chunks_and_rejects_garbage():
    """The RIFF parser must find fmt/data even with an extra chunk
    between them (LIST/INFO in the wild), use the parsed data OFFSET
    (not assume data-is-last), and reject non-WAV bytes loudly."""
    import struct

    from sales_data_etl_pipeline_spark.operators import multimodal as mm

    base = mm.wav_bytes(10, 8000, seed=3)
    rate, nch, bits, n, off = mm.decode_wav_header(base)
    assert (rate, nch, bits, n) == (8000, 1, 16, 10)
    # splice a LIST chunk between fmt and data
    fmt_end = 12 + 8 + 16
    extra = b"LIST" + struct.pack("<I", 4) + b"INFO"
    spliced = base[:fmt_end] + extra + base[fmt_end:]
    r2 = mm.decode_wav_header(spliced)
    assert r2[:4] == (8000, 1, 16, 10)
    assert r2[4] == off + len(extra)
    # trailing junk after data must not change the sample window
    r3 = mm.decode_wav_header(base + b"JUNKJUNK")
    assert r3[:4] == (8000, 1, 16, 10)
    with pytest.raises(ValueError, match="RIFF"):
        mm.decode_wav_header(b"\x89PNG" + b"\x00" * 40)


def test_stream_documents_reads_directory_layout(spark, tmp_path):
    """documents.parquet as a DIRECTORY of part files (Spark writer
    layout, e.g. the scale replica) must stream every row — the
    pathGlobFilter path silently read zero files for that layout."""
    from sales_data_etl_pipeline_spark.streaming import events as streaming

    docs = spark.createDataFrame(
        [Row(doc_id=i, text=f"doc {i} body", lang="en",
             source="s", n_chars=10) for i in range(7)]
    )
    sf_dir = str(tmp_path / "sf")
    docs.write.parquet(f"{sf_dir}/documents.parquet")
    out = streaming.run_stream_to_memory(
        streaming.stream_documents(spark, sf_dir),
        "q_stream_docs_dir",
        output_mode="append",
    )
    assert out.count() == 7


def test_snapshot_changelog_roundtrip_property(spark):
    """The defining invariant: cdc_apply(old, snapshot_changelog(old,
    new)) == new, for randomized snapshots with adds/removes/updates
    and NULL transitions."""
    import random

    from sales_data_etl_pipeline_spark.operators import merge

    rng = random.Random(42)
    for trial in range(3):
        old_rows = [
            Row(
                k=i,
                a=rng.choice([None, "x", "y", "z"]),
                b=rng.choice([None, 1, 2, 3]),
            )
            for i in range(40)
        ]
        new_rows = []
        for r in old_rows:
            roll = rng.random()
            if roll < 0.2:
                continue  # removed
            if roll < 0.5:
                new_rows.append(
                    Row(
                        k=r.k,
                        a=rng.choice([None, "x", "y", "q"]),
                        b=rng.choice([None, 1, 9]),
                    )
                )
            else:
                new_rows.append(r)  # unchanged
        new_rows += [
            Row(k=100 + i, a="new", b=i) for i in range(rng.randint(0, 5))
        ]
        old = spark.createDataFrame(old_rows)
        new = spark.createDataFrame(new_rows)
        log = merge.snapshot_changelog(old, new, "k")
        rebuilt = merge.cdc_apply(old, log, "k")
        assert sorted(map(tuple, rebuilt.collect())) == sorted(
            map(tuple, new.collect())
        ), f"trial {trial} round-trip mismatch"
        # unchanged keys are absent from the log (output-bound)
        changed_keys = {r.k for r in log.collect()}
        unchanged = {r.k for r in old_rows} & {
            r.k for r in new_rows
        } - changed_keys
        for r in log.collect():
            assert r.op in ("I", "U", "D")
        assert changed_keys.isdisjoint(unchanged)


def test_kmeans_lloyd_int_semantics(spark):
    """Trunc-division re-centering (NOT floor — DuckDB // truncates),
    deterministic smallest-id seeding, and dead-centroid carry."""
    from sales_data_etl_pipeline_spark.operators import similarity as sim

    # two tight clusters around +5 and -5 in 2-d; ids 0,1 seed k=2
    corpus = spark.createDataFrame(
        [
            Row(vec_id=0, embedding=[5.0, 5.0]),
            Row(vec_id=1, embedding=[-5.0, -5.0]),
            Row(vec_id=2, embedding=[5.1, 4.9]),
            Row(vec_id=3, embedding=[-5.2, -4.8]),
            Row(vec_id=4, embedding=[-4.9, -5.1]),
        ]
    )
    got = {
        (r.centroid_id, r.dim): r.val
        for r in sim.kmeans_lloyd_int(corpus, k=2, iterations=1).collect()
    }
    # grid: x*16 rounded, clamp 127 → 5.0->80, 5.1->82, 4.9->78,
    # -5.0->-80, -5.2->-83 (floor(-83.2+0.5)=-83), -4.8->-77 (floor(-76.8+.5)=floor(-76.3)=-77),
    # -4.9->-78 (floor(-78.4+.5)=-78), -5.1->-82 (floor(-81.6+.5)=-82)
    # cluster0 = {0,2}: sums (80+82, 80+78) -> trunc(162/2)=81, 79
    # cluster1 = {1,3,4}: dims (-80-83-78, -80-77-82) = (-241, -239)
    #   trunc(-241/3) = -80 (floor would give -81!), trunc(-239/3) = -79
    assert got[(0, 0)] == 81 and got[(0, 1)] == 79
    assert got[(1, 0)] == -80 and got[(1, 1)] == -79

    # dead centroid: k=2 but every vector nearest to seed 0 → centroid
    # 1's coordinates carry unchanged
    one_side = spark.createDataFrame(
        [Row(vec_id=i, embedding=[5.0 + 0.01 * i]) for i in range(4)]
    )
    got2 = {
        (r.centroid_id, r.dim): r.val
        for r in sim.kmeans_lloyd_int(
            one_side, k=2, iterations=2
        ).collect()
    }
    # seed1 = vec 1 at 5.01 -> grid 80; everything assigns to the
    # nearer of seeds {80, 80}... both seeds quantize equal: tie ->
    # cid 0 wins every vector, centroid 1 stays at its seed value
    assert got2[(1, 0)] == 80


def test_semantic_dedup_greedy_rule_and_zero_norm(spark):
    """Greedy-by-id drops (NOT connected components): with a~b, b~c,
    a!~c all in one cluster, both b and c are dropped — c's only
    near-dup (b) is itself dropped, but the greedy rule does not
    resurrect it. Zero-norm vectors are never similar to anything."""
    from sales_data_etl_pipeline_spark.operators import similarity as sim

    # 2-d, k=1 (single cluster), tau = 0.95. On the int grid
    # (clamp(round(16x), ±127)): a=(80,0), b=(80,27), c=(80,54):
    # cos(a,b)=0.947 <... compute: dot=6400, |a|²=6400, |b|²=7129 →
    # 400·6400² vs 361·6400·7129 → 1.638e10 vs 1.647e10 → NOT dup.
    # Use b=(80,20): dot=6400, |b|²=6800: 400·4.096e7²... recompute:
    # dot²=4.096e7? dot=6400 → dot²=40960000; 400·dot²=1.6384e10;
    # 361·6400·6800=1.571e10 → dup (cos=.970). c=(80,40): vs b:
    # dot=6400+800=7200 → wait b·c = 80·80+20·40=7200, |c|²=8000:
    # dot²=5.184e7·400=2.0736e10 ≥ 361·6800·8000=1.963e10 → dup
    # (cos=.976). a·c: dot=6400, 400·dot²=1.6384e10 vs
    # 361·6400·8000=1.848e10 → NOT dup (cos=.894).
    corpus = spark.createDataFrame(
        [
            Row(vec_id=1, embedding=[5.0, 0.0]),     # a → grid (80, 0)
            Row(vec_id=2, embedding=[5.0, 1.25]),    # b → grid (80, 20)
            Row(vec_id=3, embedding=[5.0, 2.5]),     # c → grid (80, 40)
            Row(vec_id=4, embedding=[0.0, 0.0]),     # zero-norm
        ]
    )
    out = {
        r.vec_id: r.kept
        for r in sim.semantic_dedup(corpus, k=1, iterations=1).collect()
    }
    assert out == {1: True, 2: False, 3: False, 4: True}

    # clusters separate the pair test: identical vectors in DIFFERENT
    # clusters are both kept (k=2 seeds are ids 1 and 2 at opposite
    # poles; 3 duplicates 1, 4 duplicates 2 — within-cluster drops
    # only)
    corpus2 = spark.createDataFrame(
        [
            Row(vec_id=1, embedding=[5.0, 5.0]),
            Row(vec_id=2, embedding=[-5.0, -5.0]),
            Row(vec_id=3, embedding=[5.0, 5.0]),
            Row(vec_id=4, embedding=[-5.0, -5.0]),
        ]
    )
    rows = sim.semantic_dedup(corpus2, k=2, iterations=1).collect()
    kept = {r.vec_id: r.kept for r in rows}
    cid = {r.vec_id: r.centroid_id for r in rows}
    assert kept == {1: True, 2: True, 3: False, 4: False}
    assert cid[1] == cid[3] and cid[2] == cid[4] and cid[1] != cid[2]


def test_winnow_fingerprints_rules(spark):
    """Winnowing selection invariants: shared-substring guarantee,
    short-doc truncated frame, all-equal-hash rightmost ties, and
    sub-kgram docs emitting nothing."""
    from sales_data_etl_pipeline_spark.operators import dedup

    k, w = 8, 4
    base = "the quick brown fox jumps over the lazy dog again and again"
    docs = spark.createDataFrame(
        [
            Row(doc_id=1, text=base),
            # shares a 40-char substring (≥ w+k-1=11) at a shifted
            # offset → MUST share ≥1 fingerprint hash with doc 1
            Row(doc_id=2, text="PREFIX---" + base[10:50] + "---SUFFIX"),
            Row(doc_id=3, text="short"),          # < kgram → nothing
            Row(doc_id=4, text="abcdefghij"),     # npos=3 < w → 1 fp
            Row(doc_id=5, text="x" * 20),         # all grams equal
        ]
    )
    fps = dedup.winnow_fingerprints(docs, kgram=k, window=w)
    by_doc = {}
    for r in fps.collect():
        by_doc.setdefault(r.doc_id, []).append((r.fp_pos, r.fp_hash))
    assert 3 not in by_doc
    assert len(by_doc[4]) == 1  # truncated final frame: min of all 3
    # doc 5: identical hashes everywhere → every frame picks its
    # rightmost position; npos=13 → positions w..npos selected
    pos5 = sorted(p for p, _ in by_doc[5])
    assert pos5 == list(range(w, 13 + 1))
    assert len({h for _, h in by_doc[5]}) == 1
    shared = {h for _, h in by_doc[1]} & {h for _, h in by_doc[2]}
    assert shared, "winnowing guarantee violated: no shared fingerprint"


def test_winnow_pairs_identical_docs(spark):
    """Two identical docs → jaccard 1.0 (ppm 1000000); the max_df cap
    removes fingerprints shared by too many docs."""
    from sales_data_etl_pipeline_spark.operators import dedup

    text = "some reasonably long document body for winnowing tests ok"
    docs = spark.createDataFrame(
        [Row(doc_id=i, text=text) for i in (1, 2)]
        + [Row(doc_id=10 + i, text=f"unrelated filler number {i} body")
           for i in range(3)]
    )
    rows = dedup.winnow_pairs(docs, min_shared=2).collect()
    assert [(r.doc_a, r.doc_b, r.jaccard_ppm) for r in rows if r.doc_a == 1] == [
        (1, 2, 1000000)
    ]
    # cap: with 25 identical docs every fingerprint's df exceeds
    # max_df=20 → no pairs at all
    many = spark.createDataFrame(
        [Row(doc_id=i, text=text) for i in range(25)]
    )
    assert dedup.winnow_pairs(many, min_shared=2).count() == 0


def test_phash_pairs_banded_pigeonhole_and_verify(spark):
    """Banding recall + exact-hamming filter: ≤7 bits apart always
    pairs (pigeonhole over 8 blocks), 8 bits apart is found as a
    candidate when blocks collide but filtered by the exact verify."""
    from sales_data_etl_pipeline_spark.operators import multimodal

    base = "00" * 8
    flip7 = "7f" + "00" * 7        # 7 bits, all in block 0
    flip8_2blocks = "0f0f" + "00" * 6   # 8 bits in 2 blocks: candidate
    flip8_spread = "01" * 8        # 1 bit per block: no shared block
    hashes = spark.createDataFrame(
        [
            Row(media_id=1, phash=base),
            Row(media_id=2, phash=base),           # exact dup of 1
            Row(media_id=3, phash=flip7),
            Row(media_id=4, phash=flip8_2blocks),
            Row(media_id=5, phash=flip8_spread),
        ]
    )
    got = {
        (r.id_a, r.id_b): r.hamming
        for r in multimodal.phash_pairs_banded(
            hashes, max_hamming=7
        ).collect()
    }
    assert got[(1, 2)] == 0
    assert got[(1, 3)] == 7 and got[(2, 3)] == 7
    # hamming-8 pairs are excluded even when banding surfaces them
    assert (1, 4) not in got and (1, 5) not in got
    # 3 vs 4: differ in block0 (7f vs 0f → 3 bits) + block1 (00 vs 0f
    # → 4 bits) = 7 ≤ 7 and blocks 2-7 shared → must be found
    assert got[(3, 4)] == 7


def test_ivf_trained_all_zero_corpus_returns_empty(spark, tmp_path):
    """All-zero corpus → every trained centroid is zero-norm → the
    codebook filter drops them all and the IVF gate returns a
    schema-correct empty result instead of NaN rankings."""
    import os

    from sales_data_etl_pipeline_spark.plans.llm_demo import (
        similarity_topk_ivf_trained,
    )

    import pandas as pd
    outdir = str(tmp_path / "zc")
    os.makedirs(outdir)
    pd.DataFrame(
        {
            "vec_id": range(12),
            "embedding": [[0.0] * 64 for _ in range(12)],
            "label": [0] * 12,
        }
    ).to_parquet(os.path.join(outdir, "embeddings.parquet"))
    out = similarity_topk_ivf_trained(spark, outdir)
    assert out.count() == 0
    assert [f.name for f in out.schema.fields] == [
        "query_id", "neighbor_id", "cosine", "rank",
    ]


def test_label_propagation_majority_and_ties(spark):
    """Two triangles bridged by one edge, 2 sync iterations,
    hand-computed: majority vote with smallest-label ties; the bridge
    does NOT merge the dense communities."""
    from sales_data_etl_pipeline_spark.operators import dedup

    pairs = spark.createDataFrame(
        [
            Row(id_a=1, id_b=2), Row(id_a=1, id_b=3), Row(id_a=2, id_b=3),
            Row(id_a=10, id_b=11), Row(id_a=10, id_b=12),
            Row(id_a=11, id_b=12),
            Row(id_a=3, id_b=10),  # bridge
        ]
    )
    got = {
        r.doc_id: r.label
        for r in dedup.label_propagation(pairs, iterations=2).collect()
    }
    # iter1: 1→2 (tie {2,3}), 2→1, 3→1 (nbrs {1,2,10}), 10→3,
    # 11→10, 12→10; iter2 from those labels:
    assert got == {1: 1, 2: 1, 3: 1, 10: 10, 11: 3, 12: 3}


def test_ann_recall_left_join_and_ppm(spark):
    """Missing queries in approx score 0; partial overlap is exact
    integer ppm."""
    from sales_data_etl_pipeline_spark.operators import similarity as sim

    truth = spark.createDataFrame(
        [Row(query_id=q, neighbor_id=n) for q, n in
         [(1, 100), (1, 101), (1, 102), (2, 200), (2, 201)]]
    )
    approx = spark.createDataFrame(
        [Row(query_id=1, neighbor_id=101), Row(query_id=1, neighbor_id=999)]
    )
    got = {
        r.query_id: (r.n_truth, r.n_hits, r.recall_ppm)
        for r in sim.ann_recall(truth, approx).collect()
    }
    assert got == {1: (3, 1, 333333), 2: (2, 0, 0)}


# --- round-10 batch 4: levenshtein pairs, triangles, interval join,
# --- Z-order, power-iteration PCA -------------------------------------------


def test_levenshtein_pairs_blocking_and_ppm(spark):
    """Hand-checked: same-prefix docs within max_dist pair with the
    exact DP distance and trunc-div sim_ppm; a different-prefix
    near-identical doc is NOT paired (blocking is a stated recall
    trade); a hot block (> max_block members) is dropped whole."""
    base = "the quick brown fox jumps over the lazy dog again and again"
    rows = [
        Row(doc_id=1, text=base),
        Row(doc_id=2, text=base[:-6]),          # 6 deletions, same prefix
        Row(doc_id=3, text="X" + base[1:]),     # dist 1 but prefix differs
        Row(doc_id=4, text=""),                 # excluded (length 0)
    ]
    hot = [Row(doc_id=100 + i, text="hothothothothothot") for i in range(9)]
    got = {
        (r.doc_a, r.doc_b): r
        for r in dedup.levenshtein_pairs(
            spark.createDataFrame(rows + hot), max_dist=10, max_block=8
        ).collect()
    }
    assert set(got) == {(1, 2)}
    r = got[(1, 2)]
    assert r.lev_dist == 6
    assert r.len_a == len(base) and r.len_b == len(base) - 6
    assert r.sim_ppm == (len(base) - 6) * 1000000 // len(base)


def test_triangle_counts_oriented_close_matches_naive(spark):
    """4-clique ∪ pendant edge: C(4,3)=4 triangles, each clique node in
    exactly 3; the pendant node reports an explicit 0. Exercises the
    degree-orientation tie-break (clique nodes share a degree) and the
    symmetric-edge close."""
    clique = [Row(id_a=a, id_b=b) for a in range(4) for b in range(a + 1, 4)]
    pairs = spark.createDataFrame(clique + [Row(id_a=3, id_b=9)])
    got = {r.node: r.n_triangles for r in dedup.triangle_counts(pairs).collect()}
    assert got == {0: 3, 1: 3, 2: 3, 3: 3, 9: 0}


def test_interval_overlap_join_bucket_blocking_is_exact(spark):
    """Pairs spanning multiple buckets dedup to one row with the exact
    overlap; touching-only pairs (session ends where the window
    starts) keep overlap 0; empty right intervals are dropped (an
    unfiltered empty interval would explode a DESCENDING bucket
    sequence); disjoint pairs never appear."""
    from sales_data_etl_pipeline_spark.operators import temporal

    left = spark.createDataFrame(
        [
            Row(sid=1, l_start=100, l_end=7300),   # spans 3 buckets of 3600
            Row(sid=2, l_start=7200, l_end=7200),  # point at window start
            Row(sid=3, l_start=99000, l_end=99500),  # disjoint from all
        ]
    )
    right = spark.createDataFrame(
        [
            Row(wid=10, r_start=0, r_end=7200),
            Row(wid=11, r_start=7200, r_end=10800),
            Row(wid=12, r_start=50000, r_end=50000),  # empty: dropped
        ]
    )
    got = {
        (r.sid, r.wid): r.overlap_s
        for r in temporal.interval_overlap_join(left, right).collect()
    }
    assert got == {(1, 10): 7100, (1, 11): 100, (2, 11): 0}


def test_zorder_expr_interleaves_and_engines_agree(spark):
    """Morton(x=3, y=5) = interleave(0b011, 0b101) = 0b100111 = 39,
    hand-computed; the Spark and DuckDB dialect strings evaluate to
    the same value (the dual-dialect generator is the oracle's
    foundation)."""
    import duckdb

    from sales_data_etl_pipeline_spark.operators import layout

    s = spark.range(1).select(
        F.expr(layout.zorder_expr("3", "5")).alias("z")
    ).first()["z"]
    d = duckdb.sql(
        f"SELECT {layout.zorder_expr('3', '5', dialect='duckdb')} AS z"
    ).fetchone()[0]
    assert s == d == 39


def test_zorder_file_stats_tightens_envelopes(spark):
    """On a 32×32 grid of (x, y) keys, Z-ordered files must bound BOTH
    dimensions strictly tighter than the full domain (a 1-D sort
    leaves the second dimension full-width in every file) — the
    measurable point of the layout."""
    from sales_data_etl_pipeline_spark.operators import layout

    df = spark.range(1024).select(
        (F.col("id") % 32).alias("x"),
        (F.col("id") / 32).cast("long").alias("y"),
        F.col("id").alias("k"),
    )
    stats = layout.zorder_file_stats(df, "x", "y", ["k"], n_files=16).collect()
    assert len(stats) == 16 and all(r.n_rows == 64 for r in stats)
    # each file covers an 8x8 Morton tile: both envelopes are 1/4 of
    # the 32-wide domain
    for r in stats:
        assert r.max_x - r.min_x <= 7 and r.max_y - r.min_y <= 7


def test_pca_power_int_hand_computed_and_degenerate(spark):
    """2 vectors, dim 2, 1 iteration, hand-run on the grid:
    gv = [[16, 0], [16, 16]] (grid = round(x·16)); v0 = [1, 1] →
    u = [16, 32] → w = [16·16 + 16·32, 16·32] = [768, 512] →
    m = 768 → v = [127, trunc(512·127/768)] = [127, 84].
    All-zero corpus → all-zero vector (m = 0 contract)."""
    from sales_data_etl_pipeline_spark.operators import similarity as sim

    emb = spark.createDataFrame(
        [Row(vec_id=1, embedding=[1.0, 0.0]), Row(vec_id=2, embedding=[1.0, 1.0])]
    )
    got = {r.dim: r.val for r in sim.pca_power_int(emb, iterations=1).collect()}
    assert got == {0: 127, 1: 84}

    zero = spark.createDataFrame(
        [Row(vec_id=1, embedding=[0.0, 0.0])]
    )
    gz = {r.dim: r.val for r in sim.pca_power_int(zero, iterations=2).collect()}
    assert gz == {0: 0, 1: 0}

    empty = spark.createDataFrame([], "vec_id long, embedding array<float>")
    assert sim.pca_power_int(empty).count() == 0


def test_trunc_div_matches_duckdb_on_negatives():
    """DuckDB ``//`` truncates toward zero; Python ``//`` floors —
    the helper must follow DuckDB (pinned: -512·127/768 → -84,
    where Python floor gives -85)."""
    from sales_data_etl_pipeline_spark.operators.similarity import _trunc_div

    import duckdb

    for a, b in [(-512 * 127, 768), (512 * 127, 768), (-7, 2), (7, -2), (0, 5)]:
        want = duckdb.sql(f"SELECT CAST({a} AS BIGINT) // {b}").fetchone()[0]
        assert _trunc_div(a, b) == want, (a, b)
    assert _trunc_div(5, 0) == 0


# --- batch 5: k-core, Hamming ANN, CMS, DSIR, XML source ---------------------


def test_kcore_peels_chains_keeps_cliques(spark):
    """Chain 1-2-3-4 dies under k=2 (ends peel, cascade eats inward);
    the 4-clique survives with core_degree 3; a pendant hanging off the
    clique peels without taking the clique with it."""
    clique = [
        Row(id_a=a, id_b=b)
        for a in (10, 11, 12, 13)
        for b in (10, 11, 12, 13)
        if a < b
    ]
    chain = [Row(id_a=i, id_b=i + 1) for i in (1, 2, 3)]
    pendant = [Row(id_a=13, id_b=99)]
    got = {
        r.doc_id: r.core_degree
        for r in dedup.kcore_decompose(
            spark.createDataFrame(clique + chain + pendant), k=2
        ).collect()
    }
    assert got == {10: 3, 11: 3, 12: 3, 13: 3}


def test_kcore_empty_and_budget_raise(spark):
    empty = spark.createDataFrame([], "id_a long, id_b long")
    assert dedup.kcore_decompose(empty, k=2).count() == 0
    # a 12-deep peel cascade cannot converge in 3 rounds + confirmation
    chain = spark.createDataFrame(
        [Row(id_a=i, id_b=i + 1) for i in range(12)]
    )
    with pytest.raises(RuntimeError, match="did not converge"):
        dedup.kcore_decompose(chain, k=2, max_iterations=3)
    # ...but the same cascade converges given budget (empty 2-core)
    assert dedup.kcore_decompose(chain, k=2, max_iterations=8).count() == 0


def test_hamming_topk_pigeonhole_recall_and_exclusions(spark):
    """A corpus vector within Hamming distance bands-1 of a query MUST
    surface (pigeonhole over the band slices); identical vectors rank
    first at distance 0; zero-norm and NaN vectors are dead on both
    sides."""
    from sales_data_etl_pipeline_spark.operators import similarity as sim

    base = [1.0 if i % 3 else -1.0 for i in range(64)]
    near = list(base)
    near[0] = -near[0]  # flips SOME sign bits, stays band-close
    rows = [
        Row(vec_id=0, embedding=base),
        Row(vec_id=1, embedding=base),          # exact twin
        Row(vec_id=2, embedding=near),
        Row(vec_id=3, embedding=[0.0] * 64),    # zero-norm: dead
        Row(vec_id=4, embedding=[float("nan")] * 64),  # non-finite: dead
    ]
    emb = spark.createDataFrame(rows)
    got = sim.hamming_topk(
        emb, emb.filter(F.col("vec_id") == 0), k=5
    ).collect()
    by_rank = {r.rank: r for r in got}
    assert by_rank[1].neighbor_id == 1 and by_rank[1].hamming == 0
    assert {r.neighbor_id for r in got} <= {1, 2}
    assert all(r.neighbor_id not in (3, 4) for r in got)


def test_hamming_topk_matches_bruteforce_on_candidates(spark):
    """For every emitted (query, neighbor) the Hamming distance must
    equal the brute-force distance between the packed sign words —
    banding selects candidates, never changes the metric."""
    import hashlib

    import numpy as np

    from sales_data_etl_pipeline_spark.operators import similarity as sim
    from sales_data_etl_pipeline_spark.operators.dedup import hyperplane_signs

    rng = np.random.default_rng(7)
    # 4 clusters of 5 near-identical vectors: in-cluster sign words are
    # near-equal, so band collisions (candidates) are guaranteed —
    # i.i.d. random vectors would rarely share a full 15-bit slice
    centers = rng.normal(size=(4, 64))
    vecs = np.repeat(centers, 5, axis=0) + rng.normal(
        scale=1e-3, size=(20, 64)
    )
    vecs = vecs.round(3)
    emb = spark.createDataFrame(
        [Row(vec_id=i, embedding=[float(x) for x in v]) for i, v in enumerate(vecs)]
    )
    R = np.asarray(hyperplane_signs(60, 64))
    acc = np.zeros((len(vecs), 60))
    for i in range(64):
        acc += vecs[:, i, None] * R[None, :, i]
    words = ((np.round(acc, 6) >= 0).astype(np.int64)
             * (1 << np.arange(60, dtype=np.int64))[None, :]).sum(axis=1)
    got = sim.hamming_topk(emb, emb.filter(F.col("vec_id") < 3), k=5).collect()
    assert got, "expected at least one banded candidate"
    for r in got:
        want = bin(int(words[r.query_id]) ^ int(words[r.neighbor_id])).count("1")
        assert r.hamming == want, (r.query_id, r.neighbor_id)


def test_cms_estimate_is_overestimate_and_grid_bounded(spark):
    """est ≥ exact for every key (collisions only add), the hot key's
    estimate tops the ranking on skewed data, and the sketch grid never
    exceeds depth×width rows."""
    from sales_data_etl_pipeline_spark.operators import temporal

    rows = [Row(user_id=1)] * 500 + [Row(user_id=u) for u in range(2, 100)]
    ev = spark.createDataFrame(rows)
    got = temporal.cms_heavy_hitters(
        ev, key_col="user_id", depth=3, width=16, top=10
    ).collect()
    assert all(r.est >= r.exact for r in got)
    assert got[0].key == 1 and got[0].exact == 500
    # the grid is the operator's bounded state: depth × width max
    keyed = ev.select(F.col("user_id").alias("key"))
    from sales_data_etl_pipeline_spark.operators.dedup import hash_id_expr

    grid = (
        keyed.select(
            "key", F.explode(F.array(*[F.lit(r) for r in range(3)])).alias("r")
        )
        .select(
            "r",
            F.expr(
                hash_id_expr(
                    "concat(cast(r as string), ':', cast(key as string))", 16
                )
            ).alias("bucket"),
        )
        .groupBy("r", "bucket")
        .count()
    )
    assert grid.count() <= 3 * 16


def test_dsir_weights_separate_target_from_offtarget(spark):
    """Docs made of target-exclusive bigrams score positive (their
    buckets are likelier under the target slice than the corpus
    average); docs of off-target-exclusive bigrams score negative."""
    from sales_data_etl_pipeline_spark.operators import corpus as corpus_ops

    docs = spark.createDataFrame(
        [
            Row(doc_id=1, lang="en", text="alpha beta gamma delta"),
            Row(doc_id=2, lang="en", text="alpha beta gamma delta"),
            Row(doc_id=3, lang="de", text="zug bahn hof platz"),
            Row(doc_id=4, lang="de", text="zug bahn hof platz"),
        ]
    )
    got = {
        r.doc_id: r.dsir_q6
        for r in corpus_ops.dsir_weights(docs, target_lang="en").collect()
    }
    assert got[1] > 0 and got[2] > 0
    assert got[3] < 0 and got[4] < 0
    # single-token / empty docs have no bigrams and drop out
    short = spark.createDataFrame(
        [Row(doc_id=9, lang="en", text="solo"), Row(doc_id=1, lang="en", text="a b")]
    )
    ids = {
        r.doc_id
        for r in corpus_ops.dsir_weights(short, target_lang="en").collect()
    }
    assert ids == {1}


def test_xml_roundtrip_preserves_edges(spark, tmp_path):
    """Whitespace, entity characters, newlines, unicode, empty string
    vs NULL — all byte-faithful through the XML sink→source pair."""
    from sales_data_etl_pipeline_spark.sources import xml

    rows = [
        (1, "plain"),
        (2, "  padded  "),
        (3, "amp & lt < gt > quot \" apos '"),
        (4, ""),
        (5, None),
        (6, "line1\nline2"),
        (7, "unicode é ü 漢字"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    path = str(tmp_path / "docs")
    xml.write_xml(df, path, row_tag="doc", root_tag="docs")
    back = xml.read_xml(spark, path, df.schema, row_tag="doc")
    collected = back.collect()
    assert {r.doc_id: r.text for r in collected} == dict(rows)
    # corrupt-only projections are disallowed on raw scans (the jsonl
    # contract note) — inspect the already-collected rows instead
    assert all(r[xml.CORRUPT_COL] is None for r in collected)


# --- batch 6: BPE training, link prediction, stupid backoff, cube ------------


def test_bpe_train_hand_computed_and_overlap(spark):
    """Tiny corpus with known merges; overlap rule pinned: 'aaaa' with
    winning pair (a, a) merges leftmost-greedy into [aa, aa] (positions
    1 and 3), never [a, aa, a]."""
    from sales_data_etl_pipeline_spark.operators import text as text_ops

    # 'aaaa' x3 means pair (a,a) counts 3 occurrences/word BEFORE
    # merging? No: pair counting is per adjacent POSITION: 3 positions
    # per word x 3 words = 9 — the clear round-1 winner over 'ab' (2).
    docs = spark.createDataFrame(
        [
            Row(doc_id=1, text="aaaa aaaa aaaa ab ab"),
        ]
    )
    got = text_ops.bpe_train_merges(docs, n_merges=2).orderBy("merge_rank").collect()
    r1 = got[0]
    assert (r1.left_sym, r1.right_sym, r1.pair_count) == ("a", "a", 9)
    # after merging 'aaaa' -> [aa, aa], round 2 pairs: (aa,aa) x3,
    # (a,b) x2 -> winner (aa, aa) with 3
    r2 = got[1]
    assert (r2.left_sym, r2.right_sym, r2.pair_count) == ("aa", "aa", 3)


def test_bpe_train_tie_breaks_lexicographically(spark):
    from sales_data_etl_pipeline_spark.operators import text as text_ops

    # 'zy' and 'ab' both appear twice: tie on count 2 -> (a, b) wins
    docs = spark.createDataFrame([Row(doc_id=1, text="zy zy ab ab")])
    got = text_ops.bpe_train_merges(docs, n_merges=1).collect()
    assert (got[0].left_sym, got[0].right_sym, got[0].pair_count) == ("a", "b", 2)


def test_bpe_train_single_char_vocab_ends_early(spark):
    from sales_data_etl_pipeline_spark.operators import text as text_ops

    docs = spark.createDataFrame([Row(doc_id=1, text="a b c a b")])
    assert text_ops.bpe_train_merges(docs, n_merges=3).count() == 0


def test_bpe_train_zero_merges_returns_empty_typed_frame(spark):
    """n_merges=0 honours the `-> DataFrame` contract: an EMPTY rules
    frame with the trained schema (never None), and the OOV-replay
    entry point degrades to pure character tokenization on it."""
    from sales_data_etl_pipeline_spark.operators import text as text_ops

    docs = spark.createDataFrame([Row(doc_id=1, text="ab ab cd")])
    rules = text_ops.bpe_train_merges(docs, n_merges=0)
    assert rules.count() == 0
    assert [f.name for f in rules.schema.fields] == [
        "merge_rank",
        "left_sym",
        "right_sym",
        "pair_count",
    ]
    # zero rules applied = every symbol stays a character
    got = text_ops.bpe_apply_oov_token_counts(
        docs, docs, n_merges=0
    ).collect()
    assert [(r.n_words, r.n_chars_tokenized, r.n_symbols) for r in got] == [
        (3, 6, 6)
    ]


def test_link_prediction_path_and_hub_cap(spark):
    """Path a-b-c predicts (a, c) at jaccard 1.0 (1 common / (1+1-1));
    the clique edge itself is never predicted; a hub over max_degree
    contributes no wedges but still counts in denominators."""
    pairs = spark.createDataFrame(
        [Row(id_a=1, id_b=2), Row(id_a=2, id_b=3)]
    )
    got = dedup.link_prediction_jaccard(pairs).collect()
    assert len(got) == 1
    r = got[0]
    assert (r.id_a, r.id_b, r.common, r.jaccard_ppm) == (1, 3, 1, 1_000_000)
    # star hub 0 with 4 leaves, cap 3: no wedges -> no predictions
    star = spark.createDataFrame([Row(id_a=0, id_b=i) for i in (1, 2, 3, 4)])
    assert dedup.link_prediction_jaccard(star, max_degree=3).count() == 0
    # with the cap lifted, the leaves pair through the hub:
    # C(4,2)=6 predictions at jaccard 1/(1+1-1)=1.0
    lifted = dedup.link_prediction_jaccard(star, max_degree=10).collect()
    assert len(lifted) == 6
    assert all(r.jaccard_ppm == 1_000_000 for r in lifted)


def test_trigram_backoff_tiers_hand_computed(spark):
    """One eval position per backoff tier, each hand-computed:
    seen trigram, bigram backoff, unigram backoff, full OOV."""
    import math

    from sales_data_etl_pipeline_spark.operators import text as text_ops

    train = spark.createDataFrame(
        [Row(doc_id=1, text="a b c a b d b c e")]
    )
    def q(x):
        return math.floor(-math.log2(x) * 1e6 + 0.5)

    cases = {
        # 'a b c': c3=1, ctx c2(a b)=2 -> S=1/2
        10: ("a b c", q(1 / 2)),
        # 'c a x': trigram unseen; bigram 'a x' unseen; unigram 'x'
        # unseen -> OOV tier 0.4^3 / N, N=9
        11: ("c a x", math.floor(-math.log2(0.064 / 9) * 1e6 + 0.5)),
        # 'e b c': trigram 'e b c' unseen, bigram 'b c'=2, c1(b)=3
        # -> 0.4 * 2/3
        12: ("e b c", math.floor(-math.log2(0.4 * (2 / 3)) * 1e6 + 0.5)),
        # 'x y e': trigram+bigram('y e') unseen, c1(e)=1
        # -> 0.16 * 1/9
        13: ("x y e", math.floor(-math.log2(0.16 * (1 / 9)) * 1e6 + 0.5)),
    }
    ev = spark.createDataFrame(
        [Row(doc_id=k, text=v[0]) for k, v in cases.items()]
    )
    got = {
        r.doc_id: (r.n_scored, r.backoff_q6)
        for r in text_ops.trigram_backoff_score(train, ev).collect()
    }
    for k, (_, want) in cases.items():
        assert got[k] == (1, want), (k, got[k], want)
    # < 3 tokens: no scored positions, doc absent
    short = spark.createDataFrame([Row(doc_id=9, text="a b")])
    assert text_ops.trigram_backoff_score(train, short).count() == 0


def test_sales_cube_has_all_four_grouping_sets(spark):
    from sales_data_etl_pipeline_spark.plans import analytics

    got = analytics.td_sales_cube(spark, "/root/testdata/sf0.001").collect()
    rows = {(r.brand, r.tipo) for r in got}
    assert ("ALL", "ALL") in rows
    brands = {b for b, t in rows if b != "ALL" and t != "ALL"}
    types = {t for b, t in rows if b != "ALL" and t != "ALL"}
    # per-brand subtotals (rollup has these) AND per-type subtotals
    # (rollup lacks these — the cube's extra grouping set)
    assert all(("ALL", t) in rows for t in types)
    assert all((b, "ALL") in rows for b in brands)


# --- batch 7: view maintenance, two-tier rerank, scene cuts, MRL -------------


def test_maintain_agg_view_equals_recompute(spark):
    """The IVM exactness contract on a hand case exercising all ops,
    including a group-moving update, plus the randomized form."""
    from sales_data_etl_pipeline_spark.operators import merge as merge_ops

    base = spark.createDataFrame(
        [Row(k=i, g="a" if i % 2 else "b", v=i * 100) for i in range(1, 9)]
    )
    view = base.groupBy("g").agg(
        F.count(F.lit(1)).alias("n_rows"), F.sum("v").alias("sum_v")
    )
    log = spark.createDataFrame(
        [
            Row(k=1, op="D", g=None, v=None),          # delete from a
            Row(k=2, op="U", g="a", v=999),            # move b -> a
            Row(k=99, op="I", g="c", v=50),            # new group
        ],
        "k long, op string, g string, v long",
    )
    got = {
        r.g: (r.n_rows, r.sum_v)
        for r in merge_ops.maintain_agg_view(
            view, base, log, "k", group_col="g", value_col="v"
        ).collect()
    }
    applied = merge_ops.cdc_apply(
        base, log.withColumn("seq", F.lit(1)), "k"
    )
    want = {
        r.g: (r.n_rows, r.sum_v)
        for r in applied.groupBy("g")
        .agg(F.count(F.lit(1)).alias("n_rows"), F.sum("v").alias("sum_v"))
        .collect()
    }
    assert got == want
    # a group deleted to zero rows must vanish, not linger at 0
    wipe = spark.createDataFrame(
        [Row(k=i, op="D", g=None, v=None) for i in range(1, 9)],
        "k long, op string, g string, v long",
    )
    left = merge_ops.maintain_agg_view(
        view, base, wipe, "k", group_col="g", value_col="v"
    ).collect()
    assert left == []


def test_hamming_rerank_subset_and_order(spark):
    """Rerank output must be a subset of the Hamming shortlist, ordered
    by exact cosine — a candidate with worse hamming but better cosine
    must outrank within the shortlist."""
    from sales_data_etl_pipeline_spark.operators import similarity as sim

    import numpy as np

    rng = np.random.default_rng(3)
    centers = rng.normal(size=(3, 64))
    vecs = np.repeat(centers, 6, axis=0) + rng.normal(
        scale=1e-3, size=(18, 64)
    )
    emb = spark.createDataFrame(
        [Row(vec_id=i, embedding=[float(x) for x in v]) for i, v in enumerate(vecs)]
    )
    q = emb.filter(F.col("vec_id") == 0)
    short = sim.hamming_topk(emb, q, k=20)
    rer = sim.hamming_rerank_topk(emb, q, k=5, shortlist=20)
    short_ids = {r.neighbor_id for r in short.collect()}
    got = rer.collect()
    assert got and {r.neighbor_id for r in got} <= short_ids
    cosines = [r.cosine for r in sorted(got, key=lambda r: r.rank)]
    assert cosines == sorted(cosines, reverse=True)


def test_scene_cuts_flags_scene_boundaries(spark):
    """Frames inside a scene (identical payloads) give hamming 0 /
    no cut; a generator-id jump at the boundary flags a cut (unless
    the two scenes' single raster bytes collide — engineered not to
    here)."""
    from sales_data_etl_pipeline_spark.operators import multimodal

    media = spark.createDataFrame([Row(media_id=4)])
    fr = media.withColumn(
        "frame_idx", F.explode(F.expr("sequence(0, 7)"))
    ).withColumn(
        "content_id",
        F.col("media_id") + 1000 * (1 + F.expr("frame_idx div 4")),
    )
    payloads = multimodal.synthesize_bmp(
        fr.select(F.col("content_id").alias("media_id")).distinct()
    ).select(F.col("media_id").alias("content_id"), "payload")
    frames = fr.join(payloads, "content_id").select(
        "media_id", "frame_idx", "payload"
    )
    got = {
        r.frame_idx: (r.hamming, r.is_cut)
        for r in multimodal.scene_cuts(frames, threshold=0).collect()
    }
    assert set(got) == set(range(1, 8))  # frame 0 has no predecessor
    for i in (1, 2, 3, 5, 6, 7):  # in-scene neighbors identical
        assert got[i] == (0, False), (i, got[i])
    assert got[4][0] > 0 and got[4][1]  # the scene boundary


def test_matryoshka_prefix_consistency(spark):
    """The 16-dim tier must equal l2_normalize applied to the sliced
    prefix, and a vector whose PREFIX is all zeros goes NULL at that
    tier while staying live at a wider tier."""
    from sales_data_etl_pipeline_spark.operators import embeddings as emb_ops

    rows = [
        Row(vec_id=1, embedding=[1.0] * 32),
        Row(vec_id=2, embedding=[0.0] * 16 + [1.0] * 16),  # zero prefix
    ]
    emb = spark.createDataFrame(rows)
    got = {
        (r.vec_id, r.dims): (r.norm_q6, r.unit_q6)
        for r in emb_ops.matryoshka_levels(emb, (16, 32)).collect()
    }
    direct = emb_ops.l2_normalize(
        emb.select("vec_id", F.expr("slice(embedding, 1, 16)").alias("embedding"))
    ).collect()
    for r in direct:
        assert got[(r.vec_id, 16)] == (r.norm_q6, r.unit_q6)
    assert got[(2, 16)][1] is None  # zero prefix: NULL unit vector
    assert got[(2, 32)][1] is not None


# --- batch 8: BPE apply, Adamic-Adar, shot representatives -------------------


def test_bpe_apply_counts_and_noop_on_single_chars(spark):
    """'aaaa' compresses 4 chars -> 2 symbols after merge (a,a), then
    1 after (aa,aa); single-char-vocab corpora apply as a NO-OP (the
    empty-winner round must not annihilate the symbol stream)."""
    from sales_data_etl_pipeline_spark.operators import text as text_ops

    docs = spark.createDataFrame(
        [Row(doc_id=1, text="aaaa aaaa aaaa ab ab"), Row(doc_id=2, text="aaaa")]
    )
    got = {
        r.doc_id: (r.n_words, r.n_chars_tokenized, r.n_symbols)
        for r in text_ops.bpe_apply_token_counts(docs, n_merges=2).collect()
    }
    # doc 1: words aaaa(x3), ab(x2). aaaa: 4 chars -> [aa,aa] -> [aaaa]
    # = 1 symbol; ab stays 2 symbols (pair (a,b) never wins rounds 1-2)
    assert got[1] == (5, 16, 3 * 1 + 2 * 2)
    assert got[2] == (1, 4, 1)
    # single-char vocabulary: nothing to merge, counts preserved
    single = spark.createDataFrame([Row(doc_id=9, text="a b c a")])
    got1 = text_ops.bpe_apply_token_counts(single, n_merges=3).collect()
    assert (got1[0].n_words, got1[0].n_symbols) == (4, 4)


def test_adamic_adar_weights_centers_by_degree(spark):
    """Two non-edges with one shared center each: the pair through the
    degree-2 center outscores the pair through the degree-4 hub."""
    pairs = spark.createDataFrame(
        # tight: 1-2-3 path (center 2 has degree 2)
        [Row(id_a=1, id_b=2), Row(id_a=2, id_b=3)]
        # hub: 10 connects 11..13 (degree 4 after the edge to 3)
        + [Row(id_a=10, id_b=x) for x in (11, 12, 13)]
        + [Row(id_a=3, id_b=10)]
    )
    got = {
        (r.id_a, r.id_b): r.aa_q6
        for r in dedup.link_prediction_adamic_adar(pairs).collect()
    }
    assert got[(1, 3)] == 1_000_000  # 1/log2(2)
    # hub-center pairs: 1/log2(4) = 0.5
    assert got[(11, 12)] == 500_000
    assert got[(1, 3)] > got[(11, 12)]


def test_shot_representatives_numbering(spark):
    """Shots are numbered by running cut count; each shot's rep is its
    first frame and lengths sum to the frame count."""
    from sales_data_etl_pipeline_spark.operators import multimodal

    media = spark.createDataFrame([Row(media_id=4)])
    fr = media.withColumn(
        "frame_idx", F.explode(F.expr("sequence(0, 7)"))
    ).withColumn(
        "content_id",
        F.col("media_id") + 1000 * (1 + F.expr("frame_idx div 4")),
    )
    payloads = multimodal.synthesize_bmp(
        fr.select(F.col("content_id").alias("media_id")).distinct()
    ).select(F.col("media_id").alias("content_id"), "payload")
    frames = fr.join(payloads, "content_id").select(
        "media_id", "frame_idx", "payload"
    )
    got = sorted(
        multimodal.shot_representatives(frames, threshold=0).collect(),
        key=lambda r: r.shot_idx,
    )
    assert [(r.shot_idx, r.rep_frame_idx, r.n_frames) for r in got] == [
        (0, 0, 4),
        (1, 4, 4),
    ]


def test_maintain_agg_view_randomized_equivalence(spark):
    """Randomized IVM pin: for seeded random bases and well-formed
    changelogs (≤1 change per key; group-moving updates, deletes,
    inserts of new keys), the incremental view must equal the
    from-scratch recompute over the cdc-applied base — the operator's
    entire contract, on shapes a hand case can't enumerate."""
    import random

    from sales_data_etl_pipeline_spark.operators import merge as merge_ops

    for seed in (5, 21):
        rng = random.Random(seed)
        groups = ["g%d" % i for i in range(6)]
        base_rows = [
            Row(k=i, g=rng.choice(groups), v=rng.randrange(-500, 500))
            for i in range(1, 61)
        ]
        base = spark.createDataFrame(base_rows)
        view = base.groupBy("g").agg(
            F.count(F.lit(1)).alias("n_rows"), F.sum("v").alias("sum_v")
        )
        log_rows = []
        for i in range(1, 61):
            r = rng.random()
            if r < 0.2:
                log_rows.append(Row(k=i, op="D", g=None, v=None))
            elif r < 0.4:
                log_rows.append(
                    Row(k=i, op="U", g=rng.choice(groups),
                        v=rng.randrange(-500, 500))
                )
        log_rows += [
            Row(k=1000 + j, op="I", g=rng.choice(groups),
                v=rng.randrange(-500, 500))
            for j in range(10)
        ]
        log = spark.createDataFrame(
            log_rows, "k long, op string, g string, v long"
        )
        got = {
            r.g: (r.n_rows, r.sum_v)
            for r in merge_ops.maintain_agg_view(
                view, base, log, "k", group_col="g", value_col="v"
            ).collect()
        }
        applied = merge_ops.cdc_apply(
            base, log.withColumn("seq", F.lit(1)), "k"
        )
        want = {
            r.g: (r.n_rows, r.sum_v)
            for r in applied.groupBy("g")
            .agg(F.count(F.lit(1)).alias("n_rows"), F.sum("v").alias("sum_v"))
            .collect()
        }
        assert got == want, f"seed {seed}"


def test_maintain_stats_view_equals_recompute_with_variance(spark):
    """The moments triple (count, sum, sum of squares) maintained
    incrementally must equal the recompute, and the variance read off
    it must equal Spark's var_pop on the applied base."""
    import random

    from sales_data_etl_pipeline_spark.operators import merge as merge_ops

    rng = random.Random(9)
    groups = ["a", "b", "c"]
    base = spark.createDataFrame(
        [Row(k=i, g=rng.choice(groups), v=rng.randrange(-50, 50))
         for i in range(1, 41)]
    )
    view = base.groupBy("g").agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.sum("v").alias("sum_v"),
        F.sum(F.col("v") * F.col("v")).alias("sum_sq"),
    )
    log = spark.createDataFrame(
        # disjoint key sets: the contract allows ≤ 1 change per key
        [Row(k=i, op="D", g=None, v=None) for i in range(1, 41, 7)]
        + [Row(k=i, op="U", g=rng.choice(groups), v=rng.randrange(-50, 50))
           for i in range(3, 41, 9)]
        + [Row(k=100 + j, op="I", g=rng.choice(groups),
               v=rng.randrange(-50, 50)) for j in range(5)],
        "k long, op string, g string, v long",
    )
    got = {
        r.g: (r.n_rows, r.sum_v, r.sum_sq)
        for r in merge_ops.maintain_stats_view(
            view, base, log, "k", group_col="g", value_col="v"
        ).collect()
    }
    applied = merge_ops.cdc_apply(base, log.withColumn("seq", F.lit(1)), "k")
    want = {
        r.g: (r.n_rows, r.sum_v, r.sum_sq)
        for r in applied.groupBy("g")
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.sum("v").alias("sum_v"),
            F.sum(F.col("v") * F.col("v")).alias("sum_sq"),
        )
        .collect()
    }
    assert got == want
    # variance read off the maintained moments == var_pop on the base
    var_want = {
        r.g: round(r.vp, 9)
        for r in applied.groupBy("g").agg(F.var_pop("v").alias("vp")).collect()
    }
    for g, (n, sv, sq) in got.items():
        var_got = sq / n - (sv / n) ** 2
        assert abs(var_got - var_want[g]) < 1e-9, g
