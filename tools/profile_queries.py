"""Per-query cost profile: wall time + job/stage/task counts + plan dump.

For each named headline query (default: the full bench HEADLINE list),
runs the query warm and records

- wall seconds (min over ``--passes`` timed passes, after one warmup),
- the number of Spark JOBS the query triggers (actions + eager
  sub-jobs: broadcast builds are not jobs, but localCheckpoint /
  saveAsTable / streaming micro-batches / iterative loops are),
- the number of stages and tasks across those jobs (scheduling
  overhead at the bench's tiny SF is ~linear in tasks; at 100 TB the
  same counts read as shuffle rounds),

read through ``profile.job_group``, one job group per pass. Optionally
dumps ``explain("formatted")`` per query to a directory
(``--plans-dir``) — the before/after evidence files for optimization
rounds.

Usage:
  python tools/profile_queries.py [--sf-dir D] [--passes N]
      [--plans-dir plans/r16 --plans-suffix _before] [--out FILE]
      [name ...]
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
from bench import HEADLINE
from sales_data_etl_pipeline_spark.profile import job_group
from sales_data_etl_pipeline_spark.session import get_spark


def profile(spark, name, fn, sf_dir, passes):
    fn(spark, sf_dir).count()  # warm (JIT + caches), untimed, ungrouped
    gc.collect()
    best = rec = None
    for _ in range(passes):
        with job_group(spark, f"profile:{name}") as run:
            t0 = time.perf_counter()
            fn(spark, sf_dir).count()
            elapsed = time.perf_counter() - t0
        if best is None or elapsed < best:
            best, rec = elapsed, run
        gc.collect()
    return {
        "sec": round(best, 4),
        "jobs": len(rec.jobs),
        "stages": len(rec.stages),
        "tasks": rec.tasks,
    }


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("names", nargs="*", default=None)
    ap.add_argument(
        "--sf-dir", default=os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    )
    ap.add_argument("--passes", type=int, default=2)
    ap.add_argument("--plans-dir", default=None)
    ap.add_argument("--plans-suffix", default="_before")
    ap.add_argument("--out", default="/tmp/profile_queries.json")
    ap.add_argument(
        "--conf", action="append", default=[],
        help="extra spark conf key=value (repeatable)",
    )
    args = ap.parse_args()

    extra = {"spark.ui.showConsoleProgress": "false"}
    for kv in args.conf:
        k, _, v = kv.partition("=")
        extra[k] = v
    spark = get_spark("profile", extra_conf=extra)
    qs = entrymod.queries()
    names = args.names or [n for n in HEADLINE if n in qs]
    # warm python worker pool once, like bench.py
    spark.range(spark.sparkContext.defaultParallelism).mapInPandas(
        lambda it: it, "id long"
    ).count()

    results = {}
    for name in names:
        if name not in qs:
            print(f"!! unknown query {name}", file=sys.stderr)
            continue
        if args.plans_dir and not name.startswith("streaming"):
            os.makedirs(args.plans_dir, exist_ok=True)
            df = qs[name](spark, args.sf_dir)
            jqe = df._jdf.queryExecution()
            txt = df._sc._jvm.org.apache.spark.sql.api.python.PythonSQLUtils.explainString(
                jqe, "formatted"
            )
            with open(
                os.path.join(args.plans_dir, f"{name}{args.plans_suffix}.txt"), "w"
            ) as f:
                f.write(txt)
        results[name] = profile(spark, name, qs[name], args.sf_dir, args.passes)
        r = results[name]
        print(
            f"{r['sec']:8.3f}s  jobs={r['jobs']:3d} stages={r['stages']:4d} "
            f"tasks={r['tasks']:5d}  {name}",
            flush=True,
        )
    with open(args.out, "w") as f:
        json.dump(results, f, indent=1, sort_keys=True)
    print(f"wrote {args.out}", file=sys.stderr)
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
