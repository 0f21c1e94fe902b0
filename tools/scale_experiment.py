"""Scale experiment: run the heavy operators on a 10× replica of sf0.1.

The driver ships sf0.001/0.01/0.1; the open question at the top of the
scale story is the SLOPE — does each operator's cost grow linearly in
rows once JVM fixed cost stops dominating? This tool builds a ~sf1
replica by unioning 10 id-offset copies of the sf0.1 tables (offsets
are multiples of every %-based dirt-injection modulus, so the injected
workload composition is preserved), times the heavy queries on it, and
writes ``SCALE_EXPERIMENT.json`` with the per-query (sf0.1, sf~1)
pairs and their ratios.

Replica data lives in scratch (``/tmp``) and is deleted on exit — it
is a measurement input, not test data; correctness gates keep running
on the driver's parquet only.

Usage: python tools/scale_experiment.py
"""

from __future__ import annotations

import json
import os
import shutil
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

from pyspark.sql import functions as F

from sales_data_etl_pipeline_spark.session import get_spark

SRC = "/root/testdata/sf0.1"
DST = "/tmp/spark_graft_sf1_replica"
COPIES = 10

#: id column + per-copy offset (multiples of 20/25/31/50 etc. so every
#: %-based injection pattern keeps its composition under the offset)
TABLES = {
    "documents": ("doc_id", 1_000_000),
    "embeddings": ("vec_id", 1_000_000),
    "events": ("event_id", 10_000_000),
    "lineitem": ("l_orderkey", 100_000_000),
    "orders": ("o_orderkey", 100_000_000),
}
#: dimensions copied unchanged (10× fact rows per dim key — the
#: realistic direction of growth)
DIMS = ("customer", "supplier", "part", "nation", "region")

#: every bench headline query gets a measured slope (round-5 verdict
#: items 5+7 — the 12-query subset left the expensive ones unmeasured)
from bench import HEADLINE as QUERIES  # noqa: E402


def is_superlinear(
    slope: float,
    output_ratio: float | None,
    *,
    copies: int = COPIES,
    tol: float = 1.25,
) -> bool:
    """True when a wall-clock slope exceeds what LINEAR growth explains.

    Cost model: t ≈ fixed + per_row·rows + per_out·output. Under a
    ``copies``× input replica a linear operator's slope is at most
    ``copies`` (fixed cost only pulls it DOWN), and an output-bound
    operator's is at most its output growth — so anything up to
    ``max(copies, output_ratio)`` is explained; ``tol`` absorbs
    measurement noise. The previous predicate flagged slope > 2, which
    classified *sublinear* queries (slope 3-4 for 10× rows — fixed-cost
    amortization ending) as suspects; five false alarms per run would
    bury a real quadratic, whose slope here is ~``copies``² ≈ 100.
    """
    explained = max(float(copies), output_ratio or 1.0)
    return slope > tol * explained


def build_replica(spark) -> None:
    os.makedirs(DST, exist_ok=True)
    for name, (id_col, off) in TABLES.items():
        src = spark.read.parquet(f"{SRC}/{name}.parquet")
        parts = [
            src.withColumn(id_col, F.col(id_col) + F.lit(i * off))
            for i in range(COPIES)
        ]
        # events.user_id also fans out so per-user event counts stay flat
        if name == "events":
            parts = [
                p.withColumn("user_id", F.col("user_id") + F.lit(i * 1000))
                for i, p in enumerate(parts)
            ]
        out = parts[0]
        for p in parts[1:]:
            out = out.unionByName(p)
        out.write.mode("overwrite").parquet(f"{DST}/{name}.parquet")
    for name in DIMS:
        spark.read.parquet(f"{SRC}/{name}.parquet").write.mode(
            "overwrite"
        ).parquet(f"{DST}/{name}.parquet")


#: --soak: the dedup/ANN stack on a 100× replica (~sf10) — past the 10×
#: point, to observe spill/memory behavior, per the round-6 verdict.
SOAK_DST = "/tmp/spark_graft_sf10_replica"
SOAK_COPIES = 100
SOAK_QUERIES = (
    "dedup_minhash_lsh",
    "dedup_incremental",
    "text_dup_span_stats",
    "similarity_topk_lsh",
    # round-8 additions: banded containment + bounded-memory incremental.
    # The PQ/ADC gates are deliberately NOT soaked: their fixtures tie
    # codebook size (vec_id % 50) and query count (vec_id % 37) to the
    # corpus, so a 100× replica scales K and |Q| 100× too and the soak
    # would measure that fixture quadratic, not the operator (deployed
    # PQ pins K≈256 and batches queries; per-query cost is O(N) codes
    # for flat ADC and the probed fraction under IVF — the 10× run
    # already covers both at fixture scale).
    "dedup_minhash_containment",
    "dedup_incremental_join",
    # round-10 additions with a 100 TB-critical shape: binary-Hamming
    # ANN (one kernel pass + band joins over ~500k vectors for 10
    # queries) and the one-pass hashed-bigram DSIR model (~500k docs
    # tokenized once; the model stays 1024 rows)
    "similarity_topk_hamming",
    "corpus_dsir_weights",
    # round-13 additions (SURVEY §7.14 item 3): the banded families the
    # soak did not yet cover — SimHash multi-index banding, winnowing
    # fingerprint dedup, prefix-blocked banded-Levenshtein, and
    # random-hyperplane embedding LSH. Under the id-offset replica the
    # copies carry IDENTICAL text/vectors, so the pair OUTPUT explodes
    # ~C(copies,2)-fold per duplicated item — exactly the output-bound
    # regime is_superlinear() credits via output_ratio.
    "dedup_simhash",
    "dedup_winnowing",
    "dedup_levenshtein",
    "dedup_embedding_lsh",
)
#: only the corpus tables the soak queries scan get replicated
SOAK_TABLES = {"documents": ("doc_id", 1_000_000), "embeddings": ("vec_id", 1_000_000)}


def build_soak_replica(spark) -> None:
    os.makedirs(SOAK_DST, exist_ok=True)
    for name, (id_col, off) in SOAK_TABLES.items():
        src = spark.read.parquet(f"{SRC}/{name}.parquet")
        # union-of-100 in one plan: offsets are multiples of the
        # fixture moduli (1e6), so dirt-injection composition holds
        parts = [
            src.withColumn(id_col, F.col(id_col) + F.lit(i * off))
            for i in range(SOAK_COPIES)
        ]
        out = parts[0]
        for p in parts[1:]:
            out = out.unionByName(p)
        out.write.mode("overwrite").parquet(f"{SOAK_DST}/{name}.parquet")


def _soak_prepared(spark) -> dict:
    """Prepared-base incremental dedup at both scales: save the base
    artifacts once (untimed per batch — reported as t_prepare_*), then
    time the per-batch match only."""
    from sales_data_etl_pipeline_spark.operators import dedup as dedup_ops

    rec: dict = {}
    for label, sf_dir, reps in (("sf0.1", SRC, 2), ("sf10x", SOAK_DST, 2)):
        docs = spark.read.parquet(f"{sf_dir}/documents.parquet").select(
            "doc_id", "text"
        )
        incoming = (
            docs.filter(F.col("doc_id") % 20 == 0)
            .select(
                (F.col("doc_id") + 10_000_000).alias("doc_id"),
                F.expr(
                    "substring(text, 1, greatest(length(text) - 30, 1))"
                ).alias("text"),
            )
            .unionByName(
                docs.filter(F.col("doc_id") % 7 == 3).select(
                    (F.col("doc_id") + 20_000_000).alias("doc_id"),
                    F.reverse(F.col("text")).alias("text"),
                )
            )
        )
        t0 = time.perf_counter()
        dedup_ops.save_minhash_base(docs, "soak_minhash_base")
        rec[f"t_prepare_{label}"] = round(time.perf_counter() - t0, 3)
        best, n = None, 0
        for _ in range(reps):  # 1 JIT + 1 steady
            t0 = time.perf_counter()
            n = dedup_ops.minhash_lsh_incremental_prepared(
                spark, "soak_minhash_base", incoming, threshold=0.5
            ).count()
            el = time.perf_counter() - t0
            best = el if best is None else min(best, el)
        rec[f"t_{label}"] = round(best, 3)
        rec[f"rows_{label}"] = n
    for t in ("_shingles", "_per_doc", "_band_sig"):
        spark.sql(f"DROP TABLE IF EXISTS soak_minhash_base{t}")
    slope = round(rec["t_sf10x"] / rec["t_sf0.1"], 2)
    out_ratio = (
        round(rec["rows_sf10x"] / rec["rows_sf0.1"], 2)
        if rec["rows_sf0.1"]
        else None
    )
    rec["ratio_100x_rows"] = slope
    rec["output_ratio"] = out_ratio
    rec["superlinear"] = is_superlinear(slope, out_ratio, copies=SOAK_COPIES)
    return rec


def soak() -> None:
    """Run the dedup/ANN stack at ~sf10 and append slopes + an
    explanation column to SCALE_EXPERIMENT.json. Positional names
    select a subset (incremental re-measure after a round's additions);
    results MERGE into the existing ``soak100`` section so unselected
    rows survive — same convention as the 10× path."""
    import __spark_entry__ as entrymod

    qs = entrymod.queries()
    selected = [a for a in sys.argv[1:] if not a.startswith("-")]
    run_list = selected or SOAK_QUERIES
    # fail fast on typo'd names BEFORE spending the time/disk to
    # materialize the ~sf10 replica (a KeyError mid-loop would also
    # drop the earlier names' rows — the merge happens after the loop)
    unknown = sorted(set(run_list) - set(qs))
    if unknown:
        sys.exit(
            "soak: unknown query names (not in __spark_entry__."
            f"queries()): {unknown}"
        )
    for name in selected:
        if name not in SOAK_QUERIES:
            print(
                f"soak: WARNING {name!r} is outside SOAK_QUERIES — "
                "measuring anyway, but it has no curated soak design",
                flush=True,
            )
    spark = get_spark(
        "scale-soak", extra_conf={"spark.ui.showConsoleProgress": "false"}
    )
    build_soak_replica(spark)
    rows: dict[str, dict] = {}
    try:
        for name in run_list:
            fn = qs[name]
            rec: dict = {}
            for label, sf_dir, reps in (("sf0.1", SRC, 2), ("sf10x", SOAK_DST, 2)):
                best, n = None, 0
                for _ in range(reps):  # 1 JIT + 1 steady
                    t0 = time.perf_counter()
                    n = fn(spark, sf_dir).count()
                    el = time.perf_counter() - t0
                    best = el if best is None else min(best, el)
                rec[f"t_{label}"] = round(best, 3)
                rec[f"rows_{label}"] = n
            slope = round(rec["t_sf10x"] / rec["t_sf0.1"], 2)
            out_ratio = (
                round(rec["rows_sf10x"] / rec["rows_sf0.1"], 2)
                if rec["rows_sf0.1"]
                else None
            )
            rec["ratio_100x_rows"] = slope
            rec["output_ratio"] = out_ratio
            rec["superlinear"] = is_superlinear(
                slope, out_ratio, copies=SOAK_COPIES
            )
            rows[name] = rec
            print(json.dumps({name: rec}), flush=True)
        if not selected:
            # --- prepared-base incremental: the amortized daily-ingest
            # form. The one-time save_minhash_base cost is reported
            # separately (t_prepare_*); the per-batch row times ONLY the
            # match against the stored bucketed artifacts — the number a
            # daily pipeline actually pays per batch.
            rows["dedup_incremental_prepared_batch"] = _soak_prepared(spark)
            print(
                json.dumps(
                    {
                        "dedup_incremental_prepared_batch": rows[
                            "dedup_incremental_prepared_batch"
                        ]
                    }
                ),
                flush=True,
            )
    finally:
        shutil.rmtree(SOAK_DST, ignore_errors=True)
    path = os.path.join(ROOT, "SCALE_EXPERIMENT.json")
    with open(path) as f:
        rec_all = json.load(f)
    soak_doc = rec_all.setdefault("soak100", {})
    soak_doc["design"] = (
        f"{SOAK_COPIES} id-offset copies of sf0.1 documents/embeddings"
        " (~sf10); spill/memory probe beyond the 10x point"
    )
    soak_doc.setdefault("queries", {}).update(rows)
    with open(path, "w") as f:
        json.dump(rec_all, f, indent=1)
    print(f"merged {len(rows)} soak100 queries into SCALE_EXPERIMENT.json")


def main() -> None:
    import __spark_entry__ as entrymod

    spark = get_spark(
        "scale-experiment",
        extra_conf={"spark.ui.showConsoleProgress": "false"},
    )
    build_replica(spark)
    qs = entrymod.queries()
    # positional args select a subset (incremental re-measure after a
    # round's additions); no args = full headline sweep. Results MERGE
    # into the existing artifact so soak/curve sections and unselected
    # rows survive.
    selected = [a for a in sys.argv[1:] if not a.startswith("-")]
    run_list = selected or QUERIES
    result: dict[str, dict[str, float]] = {}
    flagged: list[str] = []
    try:
        for name in run_list:
            fn = qs[name]
            t: dict[str, float] = {}
            rows: dict[str, int] = {}
            for label, sf_dir in (("sf0.1", SRC), ("sf1x", DST)):
                best = None
                for _ in range(2):  # 1 JIT + 1 steady
                    t0 = time.perf_counter()
                    n = fn(spark, sf_dir).count()
                    el = time.perf_counter() - t0
                    best = el if best is None else min(best, el)
                t[label] = round(best, 3)
                rows[label] = n
            slope = round(t["sf1x"] / t["sf0.1"], 2)
            t["ratio_10x_rows"] = slope
            # output_ratio justifies high slopes: a dedup whose
            # duplicate-PAIR output grows 45× under a 10× input is
            # output-bound, not misdesigned. is_superlinear() flags only
            # growth beyond max(input_ratio, output_ratio) — i.e. a real
            # quadratic, not fixed-cost amortization ending.
            out_ratio = (
                round(rows["sf1x"] / rows["sf0.1"], 2)
                if rows["sf0.1"]
                else None
            )
            t["rows_sf0.1"] = rows["sf0.1"]
            t["rows_sf1x"] = rows["sf1x"]
            t["output_ratio"] = out_ratio
            if is_superlinear(slope, out_ratio):
                t["flag"] = "superlinear slope unexplained by output volume"
                flagged.append(name)
            result[name] = t
            print(json.dumps({name: t}), flush=True)
    finally:
        shutil.rmtree(DST, ignore_errors=True)
    path = os.path.join(ROOT, "SCALE_EXPERIMENT.json")
    try:
        with open(path) as f:
            doc = json.load(f)
    except FileNotFoundError:
        doc = {}
    doc.setdefault("queries", {}).update(result)
    old_flags = [
        n for n in doc.get("flagged", []) if n not in result
    ]
    doc.update(
        {
            "design": "10 id-offset copies of sf0.1 (~sf1); dims unscaled",
            "copies": COPIES,
            "n_queries": len(doc["queries"]),
            "flagged": sorted(old_flags + flagged),
        }
    )
    with open(path, "w") as f:
        json.dump(doc, f, indent=1)
    print(f"wrote SCALE_EXPERIMENT.json (+{len(result)} queries, "
          f"flagged: {flagged})")


if __name__ == "__main__":
    if "--soak" in sys.argv:
        soak()
    else:
        main()
