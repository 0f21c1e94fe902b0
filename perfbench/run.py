#!/usr/bin/env python3
"""Benchmark of the engine: one workload, one process, one closed loop.

    python3 perfbench/run.py --workload etl_report --seed 1 --seconds 10 --trace 0

Run from the root of a checkout. The run

1. generates the workload's inputs from ``--seed`` and starts the tuned
   session (``session.get_spark``) with ``local[<cores>]``;
2. runs one pass that collects every result (its time is logged as
   ``first_pass_s``) and checks each one against DuckDB outside the
   timed region;
3. runs one more warm-up job, then passes, each result computed in full
   into the ``noop`` sink, while the next one should end within
   ``--seconds`` (at least one); with ``--trace 1`` these passes are
   traced, between one untraced pass before and one after them; then
   reads the JVM's peak RSS;
4. sets up again three times in the same JVM (stop the session,
   regenerate the inputs, start a session, warm it) for ``setup_s``.

The last line of standard output is one JSON object: ``correct``,
``attempted``, ``failed`` and ``metrics``, the end-to-end metrics with
``--trace 0`` and the per-layer metrics with ``--trace 1``. Progress and
details go to standard error. Everything the run writes lives under
``.perfbench_tmp/`` in the checkout and is removed at exit. See
``perfbench/README.md`` for the workloads and metrics.
"""

from __future__ import annotations

import argparse
import json
import math
import os
import shutil
import signal
import statistics
import subprocess
import sys
import tempfile
import time
from contextlib import nullcontext

sys.dont_write_bytecode = True

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
PACKAGE = "sales_data_etl_pipeline_spark"

END_TO_END = [("setup_s", "s"), ("pass_s", "s"), ("query_gmean_s", "s"), ("peak_rss_mb", "MB")]
RESETUPS = 3
DRIVER_MEMORY = "1g"


def tail_quantile(samples: list[float], q: float = 0.9, beyond: int = 10) -> float | None:
    """Nearest-rank ``q`` quantile, or None unless ``beyond`` samples lie
    above it (so p90 needs at least 100 samples)."""
    if not samples:
        return None
    k = math.ceil(q * len(samples)) - 1
    if len(samples) - 1 - k < beyond:
        return None
    return sorted(samples)[k]


def log(msg: str) -> None:
    print(f"perfbench: {msg}", file=sys.stderr, flush=True)


class Runner:
    """Times each operation of a pass; counts attempts and failures."""

    def __init__(self, tracer=None) -> None:
        self.tracer = tracer
        self.samples: list[float] = []  # latencies of the query operations
        self.attempted = 0
        self.failed: list[str] = []

    def op(self, name: str, build, action=None, owner=None, metric=None, query=True):
        """Run ``build()``, then ``action`` on its result; time both.

        A ``query`` operation's latency is a ``query_gmean_s`` sample.
        ``owner`` and ``metric`` only matter when tracing (see
        ``layers.Tracer.op``). Returns the result, or None on failure.
        """
        self.attempted += 1
        with self.tracer.op(owner, metric) if self.tracer else nullcontext({}) as mark:
            t0 = time.perf_counter()
            try:
                out = build()
                if action is not None:
                    mark["action"] = time.time()
                    out = action(out)
            except Exception as exc:  # any error fails this operation, not the run
                log(f"{name} failed: {type(exc).__name__}: {str(exc)[:400]}")
                self.failed.append(name)
                return None
            dt = time.perf_counter() - t0
        if query:
            self.samples.append(dt)
        log(f"  {name}: {dt:.3f} s")
        return out


def spark_conf(tmp: str, trace: bool) -> dict[str, str]:
    conf = {
        "spark.ui.showConsoleProgress": "false",
        "spark.local.dir": f"{tmp}/spark-local",
        "spark.sql.warehouse.dir": f"{tmp}/warehouse",
        "spark.driver.extraJavaOptions":
            f"-XX:-UsePerfData -Djava.io.tmpdir={tmp}/java-tmp -Dderby.system.home={tmp}/derby",
    }
    if trace:  # keep every job and SQL execution of the run for the trace
        conf.update({"spark.ui.retainedJobs": "100000", "spark.ui.retainedStages": "100000",
                     "spark.sql.ui.retainedExecutions": "100000"})
    return conf


def start_session(cores: int, tmp: str, trace: bool):
    from sales_data_etl_pipeline_spark.session import get_spark

    spark = get_spark("perfbench", cpus=cores, extra_conf=spark_conf(tmp, trace))
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_jvm(spark) -> None:
    """Stop the session, then the JVM, and wait for it to exit."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    try:
        spark.stop()
        if gateway is not None:
            gateway.shutdown()
    finally:
        SparkContext._gateway = SparkContext._jvm = None
        if proc is not None:
            proc.stdin.close()  # the gateway JVM exits at end of input
            try:
                proc.wait(timeout=30)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait()


def peak_rss_mb(spark) -> float:
    pid = spark._jvm.java.lang.ProcessHandle.current().pid()
    with open(f"/proc/{pid}/status", encoding="ascii") as fh:
        for line in fh:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024
    raise RuntimeError("no VmHWM for the Spark JVM")


def bench(args, tmp: str, cores: int) -> dict:
    import layers
    import workloads

    wl = workloads.make(args.workload, args.seed, tmp)

    # cold setup: inputs, JVM and session, warm-up
    t0 = time.perf_counter()
    wl.make_inputs()
    t1 = time.perf_counter()
    spark = start_session(cores, tmp, args.trace)
    t2 = time.perf_counter()
    workloads.warm(spark, cores)
    t3 = time.perf_counter()
    log(f"cold setup {t3 - t0:.2f} s (inputs {t1 - t0:.2f}, session {t2 - t1:.2f}, "
        f"warm {t3 - t2:.2f})")

    try:
        # first pass: every result collected, then checked
        first = Runner()
        f0 = time.perf_counter()
        results = wl.run_pass(spark, first, check=True)
        first_pass = time.perf_counter() - f0
        v0 = time.perf_counter()
        wrong = wl.verify(spark, results)
        log(f"first_pass_s {first_pass:.2f} s; check {time.perf_counter() - v0:.2f} s; "
            f"wrong outputs: {wrong or 'none'}")
        del results

        workloads.warm(spark, cores)  # the check ran DuckDB; one Arrow job before timing
        tracer = layers.Tracer(spark, cores) if args.trace else None
        plain, untraced = Runner(), []

        def untraced_pass() -> None:
            u0 = time.perf_counter()
            wl.run_pass(spark, plain, check=False)
            untraced.append(time.perf_counter() - u0)
            log(f"untraced pass: {untraced[-1]:.3f} s")

        if tracer:
            # Tracing overhead: traced passes against the mean of one
            # untraced pass before and one after them (the passes of a run
            # still speed up as the JVM warms).
            untraced_pass()
            tracer.start()
        timed = Runner(tracer)
        passes, per_pass = [], []
        # whole passes only: start another only if it should end in time
        deadline = time.perf_counter() + args.seconds
        try:
            while not passes or time.perf_counter() + passes[-1] <= deadline:
                p0 = time.perf_counter()
                wl.run_pass(spark, timed, check=False)
                passes.append(time.perf_counter() - p0)
                if tracer:
                    per_pass.append(tracer.take_pass(passes[-1]))
                log(f"pass {len(passes)}: {passes[-1]:.3f} s")
        finally:
            if tracer:
                tracer.stop()
        if tracer:
            untraced_pass()
        rss = peak_rss_mb(spark)

        setups = []
        for _ in range(RESETUPS):
            spark.stop()
            s0 = time.perf_counter()
            wl.make_inputs()
            spark = start_session(cores, tmp, args.trace)
            workloads.warm(spark, cores)
            setups.append(time.perf_counter() - s0)
        log(f"setups {[round(s, 3) for s in setups]}")
    finally:
        stop_jvm(spark)

    pass_s = statistics.median(passes)
    p50 = statistics.median(timed.samples) if timed.samples else None
    p90 = tail_quantile(timed.samples)
    runners = [first, timed, plain]
    failed = sum(len(r.failed) for r in runners) + len(wrong)
    attempted = sum(r.attempted for r in runners)
    log(f"{len(timed.samples)} query samples over {len(passes)} passes; p50 "
        + (f"{p50:.3f} s" if p50 is not None else "-") + "; p90 "
        + (f"{p90:.3f} s" if p90 is not None else "not reported (needs 100 samples)")
        + f"; failed_ratio {failed}/{attempted}")
    out = {"correct": failed == 0, "attempted": attempted, "failed": failed}
    if not args.trace:
        values = {
            "setup_s": statistics.median(setups),
            "pass_s": pass_s,
            "query_gmean_s": (statistics.geometric_mean(timed.samples)
                              if timed.samples else 0.0),
            "peak_rss_mb": rss,
        }
        units = dict(END_TO_END)
        if wl.csv_rows:
            log(f"etl_rows_per_s {wl.csv_rows / pass_s:.1f} ({wl.csv_rows} raw CSV rows)")
    else:
        values = {name: statistics.median(p.get(name, 0.0) for p in per_pass)
                  for name, _ in layers.LAYER_METRICS}
        if wl.csv_bytes:
            values["sources.csv.read_factor"] = values["scan.input_bytes"] / wl.csv_bytes
        values["session.start_s"] = t2 - t1
        values["session.warm_s"] = t3 - t2
        plain_s = statistics.mean(untraced)
        values["trace.overhead_s"] = values["trace.pass_s"] - plain_s
        units = dict(layers.LAYER_METRICS)
        log(f"tracing overhead {values['trace.overhead_s']:.3f} s per pass "
            f"({values['trace.overhead_s'] / plain_s:.1%} of an untraced pass)")
    out["metrics"] = {k: {"value": v, "unit": units[k]} for k, v in values.items()}
    return out


def main() -> int:
    from workloads import WORKLOADS

    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    # a terminated run still stops its JVM and removes its files
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))

    if not os.path.isdir(os.path.join(ROOT, PACKAGE)):
        log(f"no {PACKAGE}/ beside perfbench/ in {ROOT}: run from a full checkout")
        return 2
    cores = len(os.sched_getaffinity(0))
    tmp = os.path.join(ROOT, ".perfbench_tmp", f"{args.workload}-{os.getpid()}")
    os.makedirs(f"{tmp}/java-tmp", exist_ok=True)
    os.environ.update({
        "SPARK_GRAFT_CPUS": str(cores),
        "SPARK_GRAFT_DRIVER_MEM": DRIVER_MEMORY,
        "SPARK_GRAFT_STREAM_CKPT_BASE": f"{tmp}/java-tmp",
        "PYTHONPATH": ROOT + os.pathsep + os.environ.get("PYTHONPATH", ""),
        "PYTHONDONTWRITEBYTECODE": "1",
        "TMPDIR": f"{tmp}/java-tmp",
    })
    tempfile.tempdir = f"{tmp}/java-tmp"
    sys.path.insert(0, ROOT)
    sys.path.insert(1, os.path.join(ROOT, "tools"))
    cwd = os.getcwd()
    os.chdir(tmp)  # anything Spark writes relative to the cwd stays in tmp
    try:
        # The package first, so that the catalog module's own path entry
        # cannot shadow this checkout's copy.
        import sales_data_etl_pipeline_spark  # noqa: F401
        import __spark_entry__  # noqa: F401

        result = bench(args, tmp, cores)
    finally:
        os.chdir(cwd)
        shutil.rmtree(tmp, ignore_errors=True)
        if not os.listdir(os.path.dirname(tmp)):
            os.rmdir(os.path.dirname(tmp))
    print(json.dumps(result))
    return 0 if result["correct"] else 1


if __name__ == "__main__":
    sys.exit(main())
