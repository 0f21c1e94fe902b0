"""SparkSession factory tuned for this engine.

Defaults are chosen for the local[32] test harness but the knobs are the
same ones that matter on a 1000-executor cluster:

- AQE on (runtime coalesce, skew-join splitting, dynamic join strategy) —
  at 100 TB the static plan is always wrong somewhere; AQE re-plans from
  actual shuffle statistics.
- ``spark.sql.shuffle.partitions`` sized to the harness (32 ≈ local cores).
  On a real cluster this should be ~2-3× total cores, or simply left to
  AQE's coalescing with a high initial value.
- Session timezone pinned to UTC so timestamp semantics are deterministic
  and match the DuckDB oracle (DuckDB timestamps are UTC-naive).
- Arrow enabled: every pandas_udf / toPandas crossing is Arrow-batched.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

#: Environment variables the test/bench harness may set.
ENV_CPUS = "SPARK_GRAFT_CPUS"


def get_spark(
    app_name: str = "sales_data_etl_pipeline_spark",
    *,
    cpus: int | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or fetch) the tuned SparkSession.

    ``getOrCreate`` semantics: repeated calls share one JVM, so tests and
    bench runs reuse the warm session.
    """
    if cpus is None:
        cpus = int(os.environ.get(ENV_CPUS, "0")) or (os.cpu_count() or 4)
    if shuffle_partitions is None:
        shuffle_partitions = cpus

    builder = (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName(app_name)
        # --- optimizer / runtime re-planning -------------------------------
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        # --- shuffle sizing ------------------------------------------------
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        # 128 MiB input splits: big enough to amortize task overhead, small
        # enough that a partition's working set fits executor memory.
        .config("spark.sql.files.maxPartitionBytes", str(128 * 1024 * 1024))
        # --- determinism / oracle parity -----------------------------------
        .config("spark.sql.session.timeZone", "UTC")
        # --- python interop ------------------------------------------------
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        # --- local-mode memory (driver == executor in local mode) ----------
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "24g"))
        .config("spark.ui.enabled", "false")
        # --- output commit --------------------------------------------------
        # FileOutputCommitter v1 (r17 adjudication): r16 defaulted to v2
        # on an isolated 4.2 → 3.5 s probe, but the r17 same-session
        # INTERLEAVED A/B (3 cycles, runtime hadoopConf toggle) shows v1
        # ≤ v2 on every write gate here (dedup_incremental_prepared min
        # 3.268 vs 3.288 s, table_view_maintain 0.847 vs 0.897,
        # source_partitioned_roundtrip 0.653 vs 0.692) — the r16 win
        # does not reproduce, and v2 trades job-commit atomicity for it
        # (MAPREDUCE-7282-class partial/duplicate files on task-commit
        # failure; Hadoop reverted its default to v1 for this reason).
        .config("spark.hadoop.mapreduce.fileoutputcommitter.algorithm.version", "1")
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
