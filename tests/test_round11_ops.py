"""Round-11 hardening tests: the r10 ADVICE fixes (scene_cuts packed-id
validation, hamming_topk's exclude_self namespace flag; the streaming
IVM ledger rewrite is pinned in test_jdbc.py) and the round's new
operators (BPE OOV application, Hamming recall, append-mode streaming
dedup)."""

from __future__ import annotations

import pytest
from pyspark.sql import Row
from pyspark.sql import functions as F
from pyspark.sql.utils import PySparkRuntimeError


def _frames(spark, rows):
    from sales_data_etl_pipeline_spark.operators import multimodal

    df = spark.createDataFrame(rows)
    payloads = multimodal.synthesize_bmp(
        df.select(F.col("media_id").alias("_m")).distinct().select(
            F.col("_m").alias("media_id")
        )
    ).select(F.col("media_id").alias("_pm"), "payload")
    return df.join(
        payloads, df["media_id"] == payloads["_pm"]
    ).select("media_id", "frame_idx", "payload")


def test_scene_cuts_raises_on_frame_idx_overflow(spark):
    """A frame_idx >= 4096 (or negative) would silently corrupt the
    packed (media_id, frame_idx) id and mis-pair frames; the pack
    expression must raise instead (r10 ADVICE)."""
    from sales_data_etl_pipeline_spark.operators import multimodal

    good = _frames(
        spark,
        [Row(media_id=1, frame_idx=0), Row(media_id=1, frame_idx=1)],
    )
    assert multimodal.scene_cuts(good, threshold=0).count() == 1

    for bad_idx in (4096, -1):
        bad = _frames(
            spark,
            [
                Row(media_id=1, frame_idx=0),
                Row(media_id=1, frame_idx=bad_idx),
            ],
        )
        with pytest.raises(Exception, match="frame_idx"):
            multimodal.scene_cuts(bad, threshold=0).count()


def test_scene_cuts_raises_on_non_integral_media_id(spark):
    """Fractional / negative media ids corrupt the unpack (div/% 4096
    arithmetic) — raise, don't return plausible pairs (r10 ADVICE)."""
    from sales_data_etl_pipeline_spark.operators import multimodal

    base = _frames(
        spark, [Row(media_id=1, frame_idx=0), Row(media_id=1, frame_idx=1)]
    )
    frac = base.withColumn(
        "media_id", F.col("media_id") + F.lit(0.5)
    )
    with pytest.raises(Exception, match="media id"):
        multimodal.scene_cuts(frac, threshold=0).count()
    neg = base.withColumn("media_id", F.col("media_id") - F.lit(7))
    with pytest.raises(Exception, match="media id"):
        multimodal.scene_cuts(neg, threshold=0).count()


def test_hamming_topk_exclude_self_flag(spark):
    """Default (queries drawn from the corpus id space) drops the
    degenerate self-match; with an INDEPENDENT query id namespace,
    exclude_self=False keeps a legitimate neighbor whose corpus id
    happens to collide with the query id (r10 ADVICE)."""
    from sales_data_etl_pipeline_spark.operators import similarity as sim

    # corpus vec 7 is the planted nearest neighbor of external query 7
    base = [float(i % 5 - 2) for i in range(64)]
    far = [float((i * 3) % 7 - 3) for i in range(64)]
    corpus = spark.createDataFrame(
        [Row(vec_id=7, embedding=base), Row(vec_id=8, embedding=far)]
    )
    queries = spark.createDataFrame(
        [Row(vec_id=7, embedding=[x + 0.01 for x in base])]
    )
    dropped = sim.hamming_topk(corpus, queries, k=2)
    kept = sim.hamming_topk(corpus, queries, k=2, exclude_self=False)
    assert 7 not in {r.neighbor_id for r in dropped.collect()}
    kept_rows = {r.neighbor_id: r.rank for r in kept.collect()}
    assert kept_rows.get(7) == 1  # the colliding id IS the neighbor
    # the rerank tier inherits the flag
    rer = sim.hamming_rerank_topk(
        corpus, queries, k=2, shortlist=4, exclude_self=False
    )
    assert {r.neighbor_id for r in rer.collect()} >= {7}


def test_streaming_dedup_append_is_complete_filtered_by_watermark(spark):
    """Append-mode emission must equal the complete-mode result
    restricted to FINALIZED windows (win_end <= final watermark =
    max event time - 2h) — the batch-split-invariant contract the
    append gate's oracle encodes."""
    from sales_data_etl_pipeline_spark.streaming import events as st

    sf = "/root/testdata/sf0.001"
    buckets = st.minhash_band_buckets(st.stream_documents(spark, sf))
    comp = st.run_stream_to_memory(
        buckets, "r11_inv_complete", output_mode="complete"
    ).collect()
    app = st.run_stream_to_memory(
        buckets, "r11_inv_append", output_mode="append"
    ).collect()
    max_ts = (
        spark.read.parquet(sf + "/documents.parquet")
        .selectExpr("max(pmod(doc_id, 10000) * 60)")
        .first()[0]
    )
    want = {
        tuple(r)
        for r in comp
        if r.win_start + 3600 <= max_ts - 7200
    }
    got = {tuple(r) for r in app}
    assert got == want and len(want) > 0
    # and something genuinely stays in state (the horizon tail)
    assert len(comp) > len(app)


def test_streaming_ledger_matches_batch_view_on_random_batches(spark):
    """The delta-ledger rollup after N randomized micro-batches must
    equal the from-scratch GROUP BY over everything inserted — the
    streaming half of merge.maintain_agg_view's exactness contract,
    here under arbitrary batch boundaries (seeded shuffle/split)."""
    import random

    from sales_data_etl_pipeline_spark.sources import jdbc as jdbc_src
    from sales_data_etl_pipeline_spark.streaming import events as st

    rng = random.Random(1107)
    rows = [
        Row(grp=f"g{rng.randrange(7)}", v=rng.randrange(-50, 500))
        for _ in range(400)
    ]
    cuts = sorted(rng.sample(range(1, 400), 5))
    batches = [
        rows[a:b] for a, b in zip([0] + cuts, cuts + [400]) if rows[a:b]
    ]
    url = "jdbc:derby:memory:r11ledger;create=true"
    props = {"driver": "org.apache.derby.iapi.jdbc.AutoloadedDriver"}
    fn = st.jdbc_view_maintain_batch_fn(
        url, "rnd_ledger", "grp", "v", properties=props
    )
    for bid, batch in enumerate(batches):
        fn(spark.createDataFrame(batch), bid)
        if bid == 2:  # replay mid-stream: fenced, no double count
            fn(spark.createDataFrame(batch), bid)
    got = {
        (r.grp, r.n_rows, r.sum_v)
        for r in st.read_agg_view(
            spark, url, "rnd_ledger", "grp", properties=props
        ).collect()
    }
    want = {
        (r.grp, r.n_rows, r.sum_v)
        for r in spark.createDataFrame(rows)
        .groupBy("grp")
        .agg(F.count(F.lit(1)).alias("n_rows"), F.sum("v").alias("sum_v"))
        .collect()
    }
    assert got == want and len(want) == 7
    # the ledger is append-only history: one row set per applied batch
    ledger = jdbc_src.read_jdbc(spark, url, "rnd_ledger", properties=props)
    n_batches = ledger.select("batch_id").distinct().count()
    assert n_batches == len(batches)


def test_bpe_apply_oov_replay_matches_training_on_vocab(spark):
    """Rule replay in rank order must reproduce the training
    evolution bit-for-bit when the eval corpus IS the train corpus —
    the property that makes char-fallback application correct for
    in-vocab words too."""
    from sales_data_etl_pipeline_spark.operators import text

    docs = spark.createDataFrame(
        [
            Row(doc_id=1, text="the theme of the thesis"),
            Row(doc_id=2, text="these themes are the same theme"),
            Row(doc_id=3, text="aaa abba banana"),
        ]
    )
    trained = {
        (r.doc_id, r.n_words, r.n_chars_tokenized, r.n_symbols)
        for r in text.bpe_apply_token_counts(docs, n_merges=3).collect()
    }
    replayed = {
        (r.doc_id, r.n_words, r.n_chars_tokenized, r.n_symbols)
        for r in text.bpe_apply_oov_token_counts(
            docs, docs, n_merges=3
        ).collect()
    }
    assert replayed == trained and len(trained) == 3


def test_bpe_apply_oov_char_fallback(spark):
    """A word absent from training still tokenizes: it starts as
    characters and merges ONLY where a learned rule matches — here
    training on 'ababab' repeated learns (a,b) first, so OOV 'abxy'
    becomes [ab, x, y] (3 symbols) and 'xyzq' stays 4 characters."""
    from pyspark.sql import functions as SF

    from sales_data_etl_pipeline_spark.operators import text

    train = spark.createDataFrame(
        [Row(doc_id=i, text="ababab ababab abab") for i in range(5)]
    )
    merges = {
        (r.merge_rank, r.left_sym, r.right_sym)
        for r in text.bpe_train_merges(train, n_merges=1).collect()
    }
    assert merges == {(1, "a", "b")}
    eval_docs = spark.createDataFrame(
        [Row(doc_id=100, text="abxy xyzq abab")]
    )
    got = text.bpe_apply_oov_token_counts(
        train, eval_docs, n_merges=1
    ).collect()
    assert len(got) == 1
    r = got[0]
    # abxy -> [ab,x,y]=3, xyzq -> 4 chars, abab -> [ab,ab]=2
    assert (r.n_words, r.n_chars_tokenized, r.n_symbols) == (3, 12, 9)


def test_bpe_apply_oov_fold_batch_parity(spark):
    """The fold-batch checkpoint cut (bounds replay expression depth at
    O(fold_batch)) is a pure plan restructure: with n_merges > the
    batch, every (doc, counts) row must be identical to the unbatched
    replay. fold_batch=2 over 5 merges forces two mid-stack cuts."""
    from sales_data_etl_pipeline_spark.operators import text

    train = spark.createDataFrame(
        [
            Row(doc_id=1, text="the theme of the thesis theme themes"),
            Row(doc_id=2, text="these themes are the same theme thesis"),
            Row(doc_id=3, text="aaa abba banana bananas cabana"),
        ]
    )
    eval_docs = spark.createDataFrame(
        [
            Row(doc_id=100, text="theme park thesis bananas"),
            Row(doc_id=101, text="zzzz these abba"),
        ]
    )

    def counts(fold_batch):
        return {
            (r.doc_id, r.n_words, r.n_chars_tokenized, r.n_symbols)
            for r in text.bpe_apply_oov_token_counts(
                train, eval_docs, n_merges=5, fold_batch=fold_batch
            ).collect()
        }

    unbatched = counts(fold_batch=1000)  # no cut fires
    batched = counts(fold_batch=2)  # cuts after rules 2 and 4
    assert batched == unbatched and len(unbatched) == 2


@pytest.mark.parametrize("fold_batch", [0, -1])
def test_bpe_apply_oov_rejects_fold_batch_below_one(spark, fold_batch):
    """0 used to raise ZeroDivisionError mid-replay and a negative batch
    silently disabled the depth cut; both fail at entry now, before any
    training job runs."""
    from sales_data_etl_pipeline_spark.operators import text

    docs = spark.createDataFrame([Row(doc_id=1, text="abab abxy")])
    with pytest.raises(ValueError, match="fold_batch must be >= 1"):
        text.bpe_apply_oov_token_counts(docs, docs, fold_batch=fold_batch)
