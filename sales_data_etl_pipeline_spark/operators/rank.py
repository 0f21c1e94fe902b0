"""Distributed global ranking — no single-partition window anywhere.

``row_number() OVER (ORDER BY …)`` with no PARTITION BY collapses the
whole table onto one reducer: the classic scale trap for global ranks,
quantile buckets (ntile), and leaderboards. The distributed formulation
is the same two-phase scan used by ``corpus.shard_by_token_budget``:

1. ``repartitionByRange`` on the ORDER BY key (range partitions are
   globally ordered by construction);
2. a |partitions|-row count job gives each partition its global rank
   offset (only |partitions| rows ever reach the driver);
3. a per-partition window adds the local rank to the offset.

At 100 TB the plan is: one range shuffle + one tiny count job + a
partition-local window — the same shape as the token-budget shard scan
(the range partitioning is pinned with a lazy ``localCheckpoint`` so
the count job and the main job see identical partition assignment).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from sales_data_etl_pipeline_spark.operators import ckpt


def distributed_row_number(
    df: DataFrame,
    order_by: list[Column],
    *,
    rank_col: str = "rank",
) -> tuple[DataFrame, int]:
    """Global 1-based ``row_number`` over ``order_by`` without a
    single-partition stage. Pass a deterministic total order (include a
    unique tiebreak column) or ranks are not reproducible.

    Returns ``(df + rank_col, total_row_count)`` — the count falls out
    of the offsets job for free.

    Block ownership: the internal lazy checkpoint that pins the range
    partitioning is materialized by the offsets job and is owned by the
    caller's ``ckpt.scope()`` — the returned plan reads those blocks,
    so they cannot be released here (releasing them would make every
    later read fail with block-not-found by the ckpt-module contract).
    The scope's exit frees them; with no scope open the ContextCleaner
    does once the result is dropped.
    """
    sc = df.sparkSession.sparkContext
    d = ckpt.checkpoint(
        df.repartitionByRange(sc.defaultParallelism, *order_by)
        .withColumn("_pid", F.spark_partition_id()),
        # pin the range partitioning: the offsets job and the main job
        # must see the SAME partition assignment (the range sampler is
        # not contractually deterministic across jobs)
        eager=False,
    )
    counts = dict(d.groupBy("_pid").count().collect())
    if not counts:
        # empty input (an empty daily partition is routine at scale):
        # a zero-arg create_map() is MAP<void,void> and indexing it is a
        # DATATYPE_MISMATCH analysis error — short-circuit with the
        # schema-correct empty result instead
        return d.withColumn(rank_col, F.lit(0).cast("long")).drop("_pid"), 0
    offsets: dict[int, int] = {}
    acc = 0
    for pid in sorted(counts):
        offsets[pid] = acc
        acc += counts[pid]
    off_map = F.create_map(
        *[F.lit(x) for kv in sorted(offsets.items()) for x in kv]
    )
    w = Window.partitionBy("_pid").orderBy(*order_by)
    out = d.withColumn(
        rank_col,
        F.row_number().over(w)
        + F.coalesce(off_map[F.col("_pid")], F.lit(0)).cast("long"),
    ).drop("_pid")
    return out, acc


def quantile_bucket(
    df: DataFrame,
    order_by: list[Column],
    *,
    n_buckets: int,
    bucket_col: str = "bucket",
) -> DataFrame:
    """NTILE-equivalent bucket assignment via :func:`distributed_row_number`:
    ``bucket = (rank-1)·n div N + 1`` — SQL NTILE semantics for the
    equal-split case, identical across engines because rank order is a
    deterministic total order.

    Note this is exact-NTILE only when N % n_buckets == 0 (SQL NTILE
    front-loads remainders); the div formulation is append-stable and
    engine-portable, which matters more for bucketed feature columns.
    """
    ranked, n = distributed_row_number(df, order_by, rank_col="_rk")
    return ranked.withColumn(
        bucket_col,
        F.expr(f"(_rk - 1) * {int(n_buckets)} div {max(n, 1)} + 1"),
    ).drop("_rk")
