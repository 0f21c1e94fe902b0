"""Adjudicate wide per-query variance bands from the driver bench.

The r11 driver bench recorded >2.5x intra-run [min, max] bands for
graph_kcore, events_heavy_hitters_cms and similarity_topk_hamming while
every min matched the optimized expectation (VERDICT r11 "what's wrong"
item 1). This probe settles GC/contention-vs-plan with data: each named
query runs ``--passes`` times ISOLATED (one warm session, nothing else
on the machine), and every pass records

- wall time (same ``.count()`` action as bench.py),
- the JVM GC-time delta across the pass (JMX GarbageCollectorMXBeans),
- per-stage executor run time / GC time / shuffle bytes of the stages
  the pass ran (``profile.job_group``; the Spark UI stays disabled),

so a straggler pass shows WHERE the time went: a GC spike with flat
executorRunTime is heap/machine contention; a stage whose
executorRunTime itself ballooned is a plan/skew problem; tight bands
that refuse to reproduce mean the driver-run context (148 other
queries + gc.collect churn) was the variance source, not the query.

Usage::

    python tools/variance_probe.py [--passes 6] [--sf-dir DIR] q1 q2 ...

Prints one JSON document; exits 0 always (it measures, it doesn't judge).
"""

from __future__ import annotations

import argparse
import gc
import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import __spark_entry__ as entrymod
from sales_data_etl_pipeline_spark.profile import job_group
from sales_data_etl_pipeline_spark.session import get_spark


def gc_millis(spark) -> int:
    beans = (
        spark.sparkContext._jvm.java.lang.management.ManagementFactory
        .getGarbageCollectorMXBeans()
    )
    return sum(beans.get(i).getCollectionTime() for i in range(beans.size()))


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("queries", nargs="+")
    ap.add_argument("--passes", type=int, default=6)
    ap.add_argument("--sf-dir", default="/root/testdata/sf0.1")
    ap.add_argument("--top-stages", type=int, default=4)
    args = ap.parse_args()

    spark = get_spark(
        "variance_probe", extra_conf={"spark.ui.showConsoleProgress": "false"}
    )
    qs = entrymod.queries()
    report: dict[str, dict] = {}
    for name in args.queries:
        fn = qs[name]
        fn(spark, args.sf_dir).count()  # warmup / JIT pass, untimed
        gc.collect()
        passes = []
        for _ in range(args.passes):
            with job_group(spark, f"variance:{name}") as rec:
                g0 = gc_millis(spark)
                t0 = time.time()
                fn(spark, args.sf_dir).count()
                wall = round(time.time() - t0, 3)
                g1 = gc_millis(spark)
            stages = sorted(rec.stages, key=lambda s: -s["run_ms"])
            passes.append(
                {
                    "wall_s": wall,
                    "gc_delta_ms": g1 - g0,
                    "stages": stages[: args.top_stages],
                }
            )
            gc.collect()
        walls = [p["wall_s"] for p in passes]
        report[name] = {
            "min": min(walls),
            "max": max(walls),
            "band": round(max(walls) / min(walls), 2),
            "gc_total_ms": sum(p["gc_delta_ms"] for p in passes),
            "passes": passes,
        }
    print(json.dumps(report, indent=1))
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
