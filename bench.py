"""Benchmark harness: runs the headline queries and prints ONE JSON line.

Usage: python bench.py
Env: SPARK_GRAFT_SF_DIR (default /root/testdata/sf0.1),
     SPARK_GRAFT_CPUS (default all cores).

Each query is executed to completion (count() of the result — results
are small aggregates, so the action cost is the plan itself). A warmup
query runs first so JVM/codegen startup isn't billed to q1.
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import __spark_entry__ as entrymod
from sales_data_etl_pipeline_spark.session import get_spark

#: Headline set: covers the engine spine (scan→join→agg→sort→topk), the
#: cleaning layer's heaviest shapes (window dedup, median broadcast-join,
#: date cascade), and the scale-path extension ops. The one remaining
#: brute-force pairwise demo query (dedup_ngram_jaccard) is a
#: correctness oracle, not a headline op — O(n²) by construction,
#: excluded in favor of its subquadratic variant (minhash_lsh).
#: dedup_simhash (r3) and dedup_embedding_cosine (r6) ARE headline:
#: both are gated on banded equi-join forms whose candidate volume is
#: output-bound, not O(n²).
HEADLINE = [
    "sales_by_employee",
    "average_ticket_by_product",
    "sales_by_category",
    "top5_employees",
    "sales_by_period",
    "clean_et_chain",
    "clean_normalize_chain",
    "clean_keys_chain",
    "text_token_stats",
    "text_quality_score",
    "dedup_exact",
    "dedup_minhash_lsh",
    "corpus_token_shards",
    "similarity_topk",
    "similarity_topk_ivf",
    "events_windowed_agg",
    "events_sessionization",
    # round-2 additions (all subquadratic / scale-shaped)
    "pii_redact",
    "text_repetition",
    "text_unigram_logprob",
    "corpus_pack_sequences",
    "events_cohort_retention",
    "events_funnel",
    "embedding_quantize_int8",
    "events_salted_agg",
    "dedup_simhash",
    "events_value_quantiles",
    "events_value_quantiles_grouped",
    "events_value_quantiles_grouped_compressed",
    "events_json_props",
    "events_sliding_agg",
    "stats_length_histogram",
    "corpus_mixture_epochs",
    "corpus_prep_pipeline",
    "table_scd2_apply",
    "dedup_cluster_representatives",
    # round-6: banded LSH is now the gated embedding-dedup plan
    "dedup_embedding_cosine",
    "text_gopher_quality",
    "text_bigram_logprob",
    "corpus_quality_resample",
    "multimodal_resize",
    # round-5 additions (all subquadratic / broadcast-shaped)
    "corpus_decontaminate",
    "similarity_topk_lsh",
    "table_cdc_apply",
    "text_bpe_token_count",
    "events_user_value_deciles",
    "text_paragraph_dedup",
    "events_anomaly_iqr",
    "q1_pricing_summary",
    "q3_unshipped_orders",
    "q5_local_supplier_volume",
    "q13_customer_distribution",
    "q17_small_quantity_revenue",
    # round-6 session 2: TPC-H batch 2 + incremental dedup + kNN
    "q4_priority_late_ship",
    "q6_forecast_revenue",
    "q7_volume_shipping",
    "q8_market_share",
    "q10_returned_items",
    "q14_promo_revenue",
    "q16_supplier_part_counts",
    "q18_large_orders",
    "q19_disjunctive_revenue",
    "q22_dormant_customers",
    "dedup_incremental",
    "embedding_knn_label",
    "events_top_per_day",
    "q2_min_balance_supplier",
    "q20_excess_shippers",
    "q21_sole_late_shipper",
    "q15_top_supplier",
    "q9_product_profit",
    "text_dup_span_stats",
    "corpus_shuffle_deterministic",
    "source_jsonl_roundtrip",
    # round-7: containment/profile/mixture/k-means/heatmap/CSV additions
    "q11_important_parts",
    "q12_late_priority_split",
    "stats_correlation",
    "dedup_containment",
    "text_sentence_stats",
    "text_char_diversity",
    "corpus_ngram_counts",
    "corpus_domain_mixture",
    "embedding_kmeans_assign",
    "events_hourly_heatmap",
    "events_rolling_active_users",
    "source_csv_roundtrip",
    "multimodal_dhash",
    "events_user_lifetime_stats",
    # round-8: banded containment, join-verify incremental, integer-DCT
    # pHash, session-scoped funnel
    "dedup_minhash_containment",
    "dedup_incremental_join",
    "multimodal_phash",
    "events_session_funnel",
    "embedding_pq_encode",
    "events_salted_join",
    "similarity_topk_pq",
    "similarity_topk_ivfpq",
    "source_partitioned_roundtrip",
    "source_orc_roundtrip",
    "dedup_incremental_containment",
    "graph_pagerank",
    "events_rfm_segmentation",
    # round-9: cross-corpus entity-resolution range join, Markov
    # transitions, curriculum ordering, prepared-base incremental dedup
    "similarity_range_join",
    "events_markov_transitions",
    "corpus_curriculum_order",
    "dedup_incremental_prepared",
    "similarity_topk_ivfpq_residual",
    "text_dup_span_removal",
    "corpus_domain_cap",
    # round-10: bounded top-k range join, streaming banded near-dup,
    # mutual-kNN graph, snapshot diff, linear attribution
    "similarity_range_topk",
    "streaming_dedup_minhash",
    "similarity_knn_graph",
    "table_snapshot_diff",
    "events_attribution_linear",
    "corpus_bloom_membership",
    "events_top_paths",
    "multimodal_audio_stats",
    "table_snapshot_changelog",
    "embedding_kmeans_train",
    "dedup_semantic",
    "text_winnow_fingerprints",
    "dedup_winnowing",
    "multimodal_phash_pairs",
    "similarity_topk_ivf_trained",
    "text_perplexity_buckets",
    "graph_label_propagation",
    "similarity_recall_eval",
    "dedup_levenshtein",
    "graph_triangle_count",
    "events_interval_join",
    "table_zorder_layout",
    "embedding_pca_power",
    # round-10 batch 5
    "graph_kcore",
    "similarity_topk_hamming",
    "events_heavy_hitters_cms",
    "corpus_dsir_weights",
    "source_xml_roundtrip",
    # round-10 batch 6
    "text_bpe_train",
    "graph_link_prediction",
    "text_trigram_backoff",
    "sales_cube",
    # round-10 batch 7
    "table_view_maintain",
    "similarity_topk_hamming_rerank",
    "multimodal_scene_cuts",
    "embedding_matryoshka",
    # round-10 batch 8
    "text_bpe_apply",
    "graph_link_prediction_aa",
    "multimodal_shot_reps",
    # round-11
    "text_bpe_apply_oov",
    "similarity_recall_hamming",
    "similarity_recall_hamming12",
    "streaming_dedup_minhash_append",
]


def _approx_twins():
    """100 TB-configuration variants of the holistic-aggregate queries:
    exact ``percentile`` ships every value to its group's reducer, the
    t-digest/HLL++ sketches combine map-side. Benchmarked alongside the
    headline (separate JSON field — not part of the oracle gate, since
    sketch internals are engine-specific)."""
    from sales_data_etl_pipeline_spark.plans import cleaning_demo, llm_demo

    return {
        "clean_et_chain_approx": (
            lambda spark, sf: cleaning_demo.clean_et_chain(spark, sf, exact=False)
        ),
        "stats_approx_sketches": llm_demo.stats_approx_sketches_raw,
    }


def _phase_splits(spark, sf_dir):
    """Amortized-phase twins (r9 verdict item 6): the
    ``dedup_incremental_prepared`` GATE row deliberately drives
    ``save_minhash_base`` + match end-to-end every run — the driver
    oracle must exercise the artifact path — so its headline timing
    (~5 s at sf0.1) reads as operator cost when ~70% of it is the
    once-per-corpus prepare (three bucketed saveAsTable writes). This
    twin pays the prepare ONCE, untimed, then times the per-batch
    steady state: match against the stored bucketed tables — the
    number a daily-ingest deployment actually pays (cf. the ~sf10
    soak row in SCALE_EXPERIMENT.json / SURVEY §7.7)."""
    from sales_data_etl_pipeline_spark.operators import dedup
    from sales_data_etl_pipeline_spark.plans import llm_demo

    docs = llm_demo._docs(spark, sf_dir).select("doc_id", "text")
    dedup.save_minhash_base(docs, "minhash_base_bench")  # untimed

    def match_only(spark, sf):
        from pyspark.sql import functions as F

        d = llm_demo._docs(spark, sf).select("doc_id", "text")
        incoming = (
            d.filter(F.col("doc_id") % 20 == 0)
            .select(
                (F.col("doc_id") + 10000).alias("doc_id"),
                F.expr(
                    "substring(text, 1, greatest(length(text) - 30, 1))"
                ).alias("text"),
            )
            .unionByName(
                d.filter(F.col("doc_id") % 7 == 3).select(
                    (F.col("doc_id") + 20000).alias("doc_id"),
                    F.reverse("text").alias("text"),
                )
            )
        )
        return dedup.minhash_lsh_incremental_prepared(
            spark, "minhash_base_bench", incoming, threshold=0.5
        )

    return {"dedup_incremental_prepared_match_only": match_only}


#: Scale-curve set: the 5 reference-analytics queries plus the two
#: heaviest extension pipelines, timed at a SECOND scale factor so the
#: bench records a 2-point scaling curve instead of a single intercept
#: (at small SFs JVM overhead dominates; the curve separates fixed cost
#: from per-row cost).
SCALE_SET = [
    "sales_by_employee",
    "average_ticket_by_product",
    "sales_by_category",
    "top5_employees",
    "sales_by_period",
    "corpus_prep_pipeline",
    "dedup_minhash_lsh",
    "q21_sole_late_shipper",
    "dedup_incremental",
]

SCALE_SECOND_SF_DIR = "/root/testdata/sf0.01"


def _sf_of(sf_dir: str) -> float | None:
    tail = sf_dir.rstrip("/").rsplit("sf", 1)[-1]
    try:
        return float(tail)
    except ValueError:
        return None


def _time_queries(spark, qs, sf_dir, *, passes, jit_passes=1, job_counts=None):
    """min-of-steady-passes per query (pass 0..jit_passes-1 discarded:
    first execution of a plan pays whole-stage-codegen JIT).

    ``job_counts`` (r16 verdict item 2, additions-only): when a dict is
    passed, each query of the FINAL pass runs under a job group and its
    scheduled-job/task counts are recorded there via the status tracker
    — so a flat 8-vs-32-core ratio in the driver's scaling probe reads
    as "honors cores but fixed-per-job-overhead-bound" (~7.7 jobs/query
    at sf0.1) instead of "env ignored". The group is set BEFORE the
    timer starts and counts are fetched AFTER the timer stops; the
    timed region is unchanged."""
    import gc

    sc = spark.sparkContext
    tracker = sc.statusTracker() if job_counts is not None else None
    best: dict[str, float] = {}
    runs: dict[str, list[float]] = {}
    for p in range(jit_passes + passes):
        final_pass = p == jit_passes + passes - 1
        for name, fn in qs.items():
            if tracker is not None:
                group = f"bench:{name}:{p}"
                sc.setJobGroup(group, name)
            t0 = time.perf_counter()
            try:
                fn(spark, sf_dir).count()
                elapsed = round(time.perf_counter() - t0, 4)
            finally:
                if tracker is not None:
                    # a raising query must not leave later work tagged
                    # (pyspark 4.1's SparkContext has no clearJobGroup)
                    sc._jsc.clearJobGroup()
            if tracker is not None and final_pass:
                job_ids = tracker.getJobIdsForGroup(group)
                jobs, tasks = len(job_ids), 0
                for jid in job_ids:
                    info = tracker.getJobInfo(jid)
                    if info is None:
                        continue
                    for sid in info.stageIds:
                        sinfo = tracker.getStageInfo(sid)
                        if sinfo is not None and sinfo.numCompletedTasks > 0:
                            tasks += sinfo.numTasks
                job_counts[name] = {"jobs": jobs, "tasks": tasks}
            if p >= jit_passes:
                best[name] = min(best.get(name, elapsed), elapsed)
                runs.setdefault(name, []).append(elapsed)
            # drop driver-side DataFrame refs so the ContextCleaner can
            # free checkpointed blocks between queries — otherwise each
            # pass accumulates localCheckpoint RDDs in the block manager
            # and later queries pay eviction (measured ±0.7s noise).
            gc.collect()
    return best, runs


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    # Progress bars and JSON must not share stdout: the driver parses ONE
    # JSON line from this process, and three rounds of bench artifacts
    # were unreadable because Spark's console progress interleaved with
    # (or truncated) it. Progress off; stdout carries exactly one line.
    spark = get_spark(
        "bench", extra_conf={"spark.ui.showConsoleProgress": "false"}
    )
    # Silence the benign "Failed to update accumulator … non-existent
    # accumulator" ERROR storms: when gc.collect() between queries frees
    # a localCheckpoint'd plan, straggler tasks from the freed job still
    # report accumulator updates the driver has already unregistered — a
    # known artifact of reusing checkpointed plans across timed passes,
    # not a failure. They filled the driver's 2 kB stderr-tail capture
    # for two rounds, making a real failure indistinguishable from the
    # noise; the summary JSON line must be the signal.
    jvm = spark.sparkContext._jvm
    jvm.org.apache.logging.log4j.core.config.Configurator.setLevel(
        "org.apache.spark.scheduler.DAGScheduler",
        jvm.org.apache.logging.log4j.Level.FATAL,
    )
    jvm.org.apache.logging.log4j.core.config.Configurator.setLevel(
        "org.apache.spark.scheduler.TaskSetManager",
        jvm.org.apache.logging.log4j.Level.FATAL,
    )
    # Same artifact class as the two above: gc.collect() between timed
    # queries frees localCheckpoint(eager=False) blocks, and straggler
    # heartbeats then WARN-storm "Attempted to access garbage collected
    # accumulator" hundreds of times — drowning the stderr tail the
    # driver captures. Benign by construction here; keep the tail as
    # signal for the next REAL warning.
    jvm.org.apache.logging.log4j.core.config.Configurator.setLevel(
        "org.apache.spark.util.AccumulatorContext",
        jvm.org.apache.logging.log4j.Level.ERROR,
    )
    # Streaming-query boilerplate (temp-checkpoint notice, AQE-disabled
    # notice, per-run MicroBatchExecution chatter) WARN-storms once per
    # streaming gate query per pass — it filled the driver's stderr
    # tail in BENCH_r10 the same way the accumulator storms did in r7.
    # Benign by construction (the gates create temp checkpoints on
    # purpose); same silencing convention.
    for logger in (
        "org.apache.spark.sql.execution.streaming.runtime"
        ".ResolveWriteToStream",
        "org.apache.spark.sql.execution.streaming.runtime"
        ".MicroBatchExecution",
    ):
        jvm.org.apache.logging.log4j.core.config.Configurator.setLevel(
            logger, jvm.org.apache.logging.log4j.Level.ERROR
        )
    # "Block rdd_N_M already exists on this machine; not re-registering"
    # — a benign replication notice from re-running localCheckpoint'd
    # plans across timed passes (the block is cached from the prior
    # pass). It was the single stray WARN left in the BENCH_r11 tail;
    # same silencing convention, keep the tail 100% signal.
    jvm.org.apache.logging.log4j.core.config.Configurator.setLevel(
        "org.apache.spark.storage.BlockManager",
        jvm.org.apache.logging.log4j.Level.ERROR,
    )

    qs = {k: v for k, v in entrymod.queries().items() if k in HEADLINE}

    # Warmup: JVM, codegen, parquet footer caches, and the Python worker
    # pool (mapInPandas queries otherwise pay ~2-4s one-time fork cost).
    next(iter(qs.values()))(spark, sf_dir).count()
    spark.range(spark.sparkContext.defaultParallelism).mapInPandas(
        lambda it: it, "id long"
    ).count()

    # Two discarded JIT/warmup passes then two timed steady passes
    # (4 runs, min of last 2). Round 3 ran 1+3 and round 5 ran 1+2;
    # the 1+2 numbers drifted ~1.3× uniformly because one JIT pass
    # doesn't fully amortize codegen + page-cache warm-in across 45
    # queries. 2+2 restores steady-state within the same budget (the
    # first pass is the expensive one either way). Over the steady
    # passes: MIN is the noise floor (the engine's actual throughput),
    # MEAN shows contention, and noise_spread = mean/min - 1 says how
    # much to trust a round-over-round delta — a regression smaller
    # than the spread is machine noise, not a plan change.
    n_warmup, n_steady = 2, 2
    t_all0 = time.perf_counter()
    job_counts: dict[str, dict[str, int]] = {}
    timings, runs = _time_queries(
        spark, qs, sf_dir, passes=n_steady, jit_passes=n_warmup,
        job_counts=job_counts,
    )

    def _totals():
        total = round(sum(min(v) for v in runs.values()), 4)
        qmean = {k: round(sum(v) / len(v), 4) for k, v in runs.items()}
        total_mean = round(sum(qmean.values()), 4)
        spread = round(total_mean / total - 1, 4) if total else 0.0
        return total, qmean, total_mean, spread

    total, qmean, total_mean, spread = _totals()
    # The 2-steady-pass floor BEFORE the guard adds samples. The guard
    # gives noisy runs up to 4 steady samples while stable runs keep 2,
    # so the extended min carries a small systematic downward bias in
    # exactly the rounds flagged noisy (r15 ADVICE); recording the
    # same-sample-count floor alongside lets a round-over-round compare
    # pick matching sample counts instead of re-deriving them.
    total_min2 = total
    # Unstable-box guard (r14 verdict #3a): with only 2 steady passes, a
    # contended run inflates even the per-query MIN — the r14 driver box
    # produced a 155.8s outlier (spread 0.27) bracketed by 132.3/134.7s
    # stable runs on the identical tree. When the spread says the run is
    # noisy (> 0.15), buy up to two EXTRA steady passes (queries are
    # fully warm, so each costs ~one steady-pass wall) and fold them
    # into the per-query minima so `value` converges back toward the
    # engine's actual noise floor instead of anchoring a round-over-
    # round comparison on box contention.
    extra_passes = 0
    while spread > 0.15 and extra_passes < 2:
        more, _more_runs = _time_queries(
            spark, qs, sf_dir, passes=1, jit_passes=0
        )
        for k, v in more.items():
            runs[k].append(v)
        extra_passes += 1
        total, qmean, total_mean, spread = _totals()
    timings = {k: round(min(v), 4) for k, v in runs.items()}
    n_steady += extra_passes
    wall = round(time.perf_counter() - t_all0, 4)

    approx, _ = _time_queries(
        spark, _approx_twins(), sf_dir, passes=1, jit_passes=1
    )
    phase_splits, _ = _time_queries(
        spark, _phase_splits(spark, sf_dir), sf_dir, passes=2, jit_passes=1
    )

    # 2-point scaling curve: the same queries at a second SF. The main
    # SF's numbers are reused from the headline pass (same session).
    scale_curve: dict[str, dict[str, float]] = {
        str(_sf_of(sf_dir)): {k: timings[k] for k in SCALE_SET if k in timings}
    }
    if (
        os.path.isdir(SCALE_SECOND_SF_DIR)
        and os.path.abspath(SCALE_SECOND_SF_DIR) != os.path.abspath(sf_dir)
    ):
        second_qs = {
            k: v for k, v in entrymod.queries().items() if k in SCALE_SET
        }
        second, _ = _time_queries(
            spark, second_qs, SCALE_SECOND_SF_DIR, passes=2
        )
        scale_curve[str(_sf_of(SCALE_SECOND_SF_DIR))] = second

    sf = _sf_of(sf_dir)
    n_passes = n_warmup + n_steady
    result = {
        "metric": "headline_queries_total_steady",
        "value": total,
        "value_mean": total_mean,
        "noise_spread": spread,
        "wall_sec": wall,
        "n_passes": n_passes,
        "n_warmup": n_warmup,
        "n_steady": n_steady,
        # >0 iff the unstable-box guard bought extra steady passes
        # (spread > 0.15 after the standard two)
        "n_extra_steady": extra_passes,
        # min over the FIRST 2 steady passes only — equals `value`
        # when n_extra_steady == 0; the bias-free comparator when the
        # guard extended a noisy run's sample count
        "value_min2": total_min2,
        "unit": "sec",
        "queries": timings,
        "queries_mean": qmean,
        # per-query [min, max] over the steady passes — the recorded
        # variance band: a round-over-round single-query delta inside
        # (or near) this band is measurement context, not a plan
        # change, and stops being re-adjudicated every round
        "queries_minmax": {
            k: [round(min(v), 4), round(max(v), 4)] for k, v in runs.items()
        },
        # scaling-contract fields (r16 verdict item 2): the session IS
        # built from $SPARK_GRAFT_CPUS (session.py master=local[cpus]);
        # these record what the run actually got, and the per-query
        # scheduled-job/task counts explain a flat core-count ratio
        # (fixed per-job scheduler latency, ~35-150 ms/job, dominates
        # at sf0.1 — see tools/profile_queries.py).
        "cpus": spark.sparkContext.defaultParallelism,
        "default_parallelism": spark.sparkContext.defaultParallelism,
        "master": spark.sparkContext.master,
        "queries_jobs": job_counts,
        "jobs_total": sum(v["jobs"] for v in job_counts.values()),
        "tasks_total": sum(v["tasks"] for v in job_counts.values()),
        "approx_twins": approx,
        # dedup_incremental_prepared's headline row includes the
        # once-per-corpus prepare (gate contract); this is the
        # amortized per-batch match alone — read THIS as operator cost
        "phase_splits": phase_splits,
        "scale_curve": scale_curve,
        "sf": sf,
    }
    # Full per-query detail goes ONLY to the artifact file; five rounds
    # of driver logs proved a ~3.5 kB stdout line gets truncated by the
    # driver's tail capture (~2 kB) before its JSON parser sees the
    # head. Stdout gets a compact (<1 kB) summary as the LAST line:
    # headline total + the 5 reference-analog timings, which is what
    # BASELINE.md comparisons need.
    with open(
        os.path.join(os.path.dirname(os.path.abspath(__file__)), "BENCH_LOCAL.json"),
        "w",
    ) as f:
        f.write(json.dumps(result) + "\n")
    ref5 = [
        "sales_by_employee",
        "average_ticket_by_product",
        "sales_by_category",
        "top5_employees",
        "sales_by_period",
    ]
    summary = {
        "metric": "headline_queries_total_steady",
        "value": total,
        "unit": "sec",
        "sf": sf,
        "n_queries": len(timings),
        "n_passes": n_passes,
        "noise_spread": spread,
        # scaling-contract summary (r16 verdict item 2): cpus actually
        # granted + total scheduled jobs — the flat 8-vs-32 ratio is
        # fixed per-job latency x jobs_total, not an ignored env var
        "cpus": spark.sparkContext.defaultParallelism,
        "master": spark.sparkContext.master,
        "jobs_total": sum(v["jobs"] for v in job_counts.values()),
        "ref5_total_sec": round(
            sum(timings[k] for k in ref5 if k in timings), 4
        ),
        "queries": {k: timings[k] for k in ref5 if k in timings},
        "detail": "BENCH_LOCAL.json",
    }
    sys.stdout.flush()
    print(json.dumps(summary), flush=True)


if __name__ == "__main__":
    main()
