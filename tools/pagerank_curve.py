"""Measure pagerank wall-clock vs iteration count (r9 verdict item 7).

The round-9 lineage fix (per-iteration ``localCheckpoint(eager=False)``,
operators/dedup.py pagerank loop) cost +42% on the 3-iteration bench
row. This records t(k) for k ∈ {3, 10, 30} at sf0.1 so the curve itself
proves the overhead is constant-factor per iteration (linear t(k)), not
per-iteration growth — the failure mode the fix removed was the
UNCHECKPOINTED plan doubling per loop and dying at k≳30.

Writes the curve into SCALE_EXPERIMENT.json under
``pagerank_iteration_curve``. Usage: python tools/pagerank_curve.py
"""

from __future__ import annotations

import json
import os
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

from sales_data_etl_pipeline_spark.operators import dedup
from sales_data_etl_pipeline_spark.plans import llm_demo
from sales_data_etl_pipeline_spark.session import get_spark

SF_DIR = "/root/testdata/sf0.1"


def main() -> int:
    spark = get_spark(
        "pagerank-curve",
        extra_conf={"spark.ui.showConsoleProgress": "false"},
    )
    # pairs derivation (MinHash LSH) is identical across k — pay it
    # once, eagerly, so the timings isolate the iteration loop
    pairs = dedup.minhash_lsh_pairs(
        llm_demo._docs_with_near_dups(spark, SF_DIR), threshold=0.5
    ).localCheckpoint(eager=True)
    n_pairs = pairs.count()

    curve: dict[str, float] = {}
    for k in (3, 10, 30):
        best = float("inf")
        for _ in range(2):  # min of 2: JIT/cache noise floor
            t0 = time.perf_counter()
            dedup.pagerank(pairs, iterations=k).count()
            best = min(best, time.perf_counter() - t0)
        curve[str(k)] = round(best, 3)
        print(f"iterations={k}: {curve[str(k)]}s", file=sys.stderr)

    t3, t10, t30 = curve["3"], curve["10"], curve["30"]
    # linear fit through (3, t3) and (10, t10), extrapolated to 30:
    # growth means t30 blows past the extrapolation
    per_iter = (t10 - t3) / 7
    pred30 = t10 + 20 * per_iter
    rec = {
        "design": (
            "gate fixture at sf0.1, pairs pre-materialized; min of 2 "
            "runs per k; linear_pred_30 extrapolates the 3->10 slope"
        ),
        "t_sec_by_iterations": curve,
        "per_iteration_sec_3_to_10": round(per_iter, 4),
        "per_iteration_sec_10_to_30": round((t30 - t10) / 20, 4),
        "linear_pred_30": round(pred30, 3),
        "n_pairs": n_pairs,
        "superlinear": bool(t30 > 1.5 * pred30),
    }
    with open(os.path.join(ROOT, "SCALE_EXPERIMENT.json")) as f:
        doc = json.load(f)
    doc["pagerank_iteration_curve"] = rec
    with open(os.path.join(ROOT, "SCALE_EXPERIMENT.json"), "w") as f:
        json.dump(doc, f, indent=1)
    print(json.dumps(rec))
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
