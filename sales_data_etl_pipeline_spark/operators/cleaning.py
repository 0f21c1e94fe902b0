"""Cleaning layer: the reference's ET operators as pure DataFrame transforms.

Each function is ``DataFrame -> DataFrame``, lazy, built exclusively from
JVM-side expressions (no Python UDFs — SURVEY.md §2.10: zero UDFs are
needed for reference parity). Audit columns follow the reference's
convention: added during cleaning, dropped at the sink
(``drop_audit_columns``).

Scale design:

- Chain-wide values (grouped and global medians, the max id) are window
  aggregates over the rows being cleaned, not side aggregates joined
  back: a side aggregate re-plans the whole chain beneath it, so a
  chain of them fans one table's plan out into a tree of scans and
  broadcast jobs. The reference's ``read_csv_with_ordinal`` inputs are
  one partition, which satisfies every window distribution, so the
  windows add no shuffle and each cleaned table is one linear plan.
  On multi-partition input ``OVER ()`` gathers all rows into one
  partition; ``clean_et_chain`` (multi-partition parquet, sf0.1) measured
  faster than with joined-back aggregates, 6 jobs against 10.
- Exact medians sort each group's values; ``exact=False`` uses
  ``approx_percentile`` (t-digest sketch, single pass). Under a window
  the sketch is built per window partition, so it no longer combines
  map-side.
- Keep-first dedup needs an explicit order column — file/ingest order is
  not defined under distributed reads (SURVEY.md §7.4 item 1). Callers
  that genuinely have no order column can pass ``order_col=None`` to get
  plain ``dropDuplicates`` (correct when duplicate rows are full copies,
  as in the reference fixtures).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from sales_data_etl_pipeline_spark.functions import is_blank
from sales_data_etl_pipeline_spark.schemas import AUDIT_COLUMNS

# ---------------------------------------------------------------------------
# Dedup (W1, W3)
# ---------------------------------------------------------------------------


def dedup_keep_first(
    df: DataFrame, keys: list[str], order_col: str | list[str] | None = None
) -> DataFrame:
    """W1 — ``drop_duplicates(keep='first')`` (reference ``et_produtos.py:66-85``).

    With ``order_col`` (one column or a composite): deterministic
    keep-first via ``min(struct(order…, payload…))`` per key — struct
    comparison is lexicographic with NULL fields first, exactly ASC
    NULLS FIRST, and ties fall through to the payload columns (fully
    deterministic even on order ties). The aggregate gets map-side
    partial combine, so the shuffle carries ~|keys| rows instead of the
    |rows| a window row_number would move — the difference between a
    full-table sort and a hash-agg at 100 TB. Without ``order_col``:
    ``dropDuplicates(keys)`` (arbitrary survivor — only valid for
    full-row duplicates).
    """
    if order_col is None:
        return df.dropDuplicates(keys)
    order_cols = [order_col] if isinstance(order_col, str) else order_col
    struct_cols = [c for c in order_cols if c not in keys] + [
        c for c in df.columns if c not in keys and c not in order_cols
    ]
    if not struct_cols:  # every column is a key: rows per key are identical
        return df.dropDuplicates(keys)
    out = df.groupBy(*keys).agg(F.min(F.struct(*struct_cols)).alias("_first"))
    return out.select(
        *[F.col(c) if c in keys else F.col(f"_first.{c}") for c in df.columns]
    )


def duplicate_keys(df: DataFrame, keys: list[str]) -> DataFrame:
    """W3 — the key values that occur more than once (reference logs these,
    ``et_produtos.py:78``). Returns ``keys + n_occurrences``."""
    return (
        df.groupBy(*keys)
        .agg(F.count(F.lit(1)).alias("n_occurrences"))
        .filter(F.col("n_occurrences") > 1)
    )


# ---------------------------------------------------------------------------
# Constant / canonical fills (P2, P3, P4)
# ---------------------------------------------------------------------------


def fill_constant(df: DataFrame, col: str, default: str) -> DataFrame:
    """P2 — blank/NULL → constant (reference ``et_produtos.py:120-139``:
    categoria→'Desconhecida'; ``et_empregados.py``: cargo→'Não Informado')."""
    return df.withColumn(
        col, F.when(is_blank(col), F.lit(default)).otherwise(F.col(col))
    )


def canonical_name(df: DataFrame, name_col: str, prefix: str, id_col: str) -> DataFrame:
    """P3 — unconditional ``{prefix} {id}`` rewrite (reference
    ``et_produtos.py:88-117`` rewrites only rows that differ; the result is
    identical to rewriting every row, so this is one vectorized concat)."""
    return df.withColumn(
        name_col, F.concat(F.lit(prefix + " "), F.col(id_col).cast("string"))
    )


def fill_missing_name(
    df: DataFrame, name_col: str, prefix: str, id_col: str
) -> DataFrame:
    """P4 — ``{prefix} {id}`` only where the name is blank/whitespace
    (reference ``et_empregados.py:88-117``)."""
    return df.withColumn(
        name_col,
        F.when(
            is_blank(name_col),
            F.concat(F.lit(prefix + " "), F.col(id_col).cast("string")),
        ).otherwise(F.col(name_col)),
    )


# ---------------------------------------------------------------------------
# Derived columns / clamps (P6, P7)
# ---------------------------------------------------------------------------


def derive_if_null(df: DataFrame, target: str, expr: Column) -> DataFrame:
    """P6 — fill ``target`` with ``expr`` only where NULL (reference
    ``et_vendas.py:404-429``: valor_total = quantidade × valor_unitario)."""
    return df.withColumn(
        target, F.when(F.col(target).isNull(), expr).otherwise(F.col(target))
    )


def clamp_range(
    df: DataFrame,
    col: str,
    lo: float,
    hi: float,
    flag_col: str | None = None,
) -> DataFrame:
    """P7 — clamp to [lo, hi], optionally flagging adjusted rows
    (reference ``et_empregados.py:202-240``: ages → [18, 70])."""
    out = df
    if flag_col:
        out = out.withColumn(
            flag_col,
            F.col(col).isNotNull() & ((F.col(col) < lo) | (F.col(col) > hi)),
        )
    # least/greatest ignore NULL operands (they'd clamp NULL to a bound);
    # guard so NULLs pass through untouched.
    return out.withColumn(
        col,
        F.when(
            F.col(col).isNotNull(),
            F.greatest(F.least(F.col(col), F.lit(hi)), F.lit(lo)),
        ),
    )


# ---------------------------------------------------------------------------
# Median imputation (A6, A7, A10)
# ---------------------------------------------------------------------------


def _median_expr(col: str, exact: bool) -> Column:
    if exact:
        return F.expr(f"percentile({col}, 0.5D)")
    return F.expr(f"approx_percentile({col}, 0.5D, 10000)")


def _with_medians(df: DataFrame, med: Column, group_col: str) -> DataFrame:
    """Add ``_grp_med`` (``med`` per ``group_col``) and ``_glob_med``
    (``med`` over all rows) as window columns. A NULL group key gets no
    group median — the window would pool NULL keys into one group — so
    it falls back to the global one."""
    by_group = med.over(Window.partitionBy(group_col))
    return df.withColumn(
        "_grp_med", F.when(F.col(group_col).isNotNull(), by_group)
    ).withColumn("_glob_med", med.over(Window.partitionBy()))


def fill_group_median(
    df: DataFrame,
    col: str,
    group_col: str,
    *,
    flag_col: str | None = None,
    method_col: str | None = None,
    group_method: str = "mediana_grupo",
    global_method: str = "mediana_global",
    round_digits: int | None = None,
    round_mode: str = "half_up",
    exact: bool = True,
) -> DataFrame:
    """A6/A7/A10 — impute NULLs with the per-group median of the
    originally-valid values, falling back to the global median.

    Matches the reference's cascade (``et_vendas.py:376-399``,
    ``et_empregados.py:170-197``): medians are computed over the
    *pre-fill* values only, so fills never feed later medians
    (SURVEY.md §7.4 item 4); the leave-one-out exclusion is vacuous
    because the target's value is NULL (item 3).

    Plan shape: both medians are windows over ``df`` (``_with_medians``)
    — one linear plan, no side aggregate or join.
    """
    fill = F.coalesce(F.col("_grp_med"), F.col("_glob_med"))
    if round_digits is not None:
        # half_even (bround) reproduces Python/pandas round() bit-for-bit
        # (SURVEY.md §7.4 item 6: 747.685→747.68, 40.5→40); half_up is
        # Spark/SQL convention and matches the DuckDB oracles.
        rounder = F.bround if round_mode == "half_even" else F.round
        fill = rounder(fill, round_digits)

    out = _with_medians(df, _median_expr(col, exact), group_col)
    was_null = F.col(col).isNull()
    if flag_col:
        out = out.withColumn(flag_col, was_null & fill.isNotNull())
    if method_col:
        out = out.withColumn(
            method_col,
            F.when(
                was_null,
                F.when(F.col("_grp_med").isNotNull(), F.lit(group_method)).otherwise(
                    F.when(F.col("_glob_med").isNotNull(), F.lit(global_method))
                ),
            ),
        )
    return out.withColumn(
        col, F.when(was_null, fill).otherwise(F.col(col))
    ).drop("_grp_med", "_glob_med")


# ---------------------------------------------------------------------------
# Date cascade (A8, A9, F7)
# ---------------------------------------------------------------------------


def fill_date_cascade(
    df: DataFrame,
    date_col: str,
    group_col: str,
    *,
    fallback_date: str | None = None,
    flag_col: str = "data_imputada",
    method_col: str = "metodo_imputacao",
    exact: bool = True,
    invalid_col: str | None = None,
) -> DataFrame:
    """A8/A9/F7 — the reference's 4-stage date cascade
    (``et_vendas.py:183-311``): NULL dates get (1) the median date of the
    same group's originally-valid dates, else (2) the global median date,
    else (3) a pinned fallback date (reference uses ``now()``; injectable
    here so tests are deterministic — SURVEY.md §7.4 item 5).

    ``invalid_col`` (boolean) marks rows whose ORIGINAL string was
    non-blank but unparseable: the reference's 4th stage
    (``et_vendas.py:292-345``) skips the medians for those and assigns
    the fallback date labeled ``formato_invalido``. They are excluded
    from the median pools either way (their parsed value is NULL, and
    ``percentile`` skips NULLs).

    Date median = percentile over day ordinals; the midpoint of an even
    count lands on ``d.5`` which floors to ``d`` — exactly pandas'
    midpoint-then-truncate-to-day behavior (item 2). Both medians are
    windows over ``df``, as in :func:`fill_group_median`.
    """
    to_date = lambda c: F.date_from_unix_date(F.floor(c).cast("int"))  # noqa: E731

    out = _with_medians(
        df, _median_expr(f"unix_date({date_col})", exact), group_col
    )
    was_null = F.col(date_col).isNull()
    invalid = F.col(invalid_col) if invalid_col else F.lit(False)
    fallback = (
        F.lit(fallback_date).cast("date") if fallback_date else F.current_date()
    )
    out = (
        out.withColumn(flag_col, was_null)
        .withColumn(
            method_col,
            F.when(invalid, F.lit("formato_invalido")).when(
                was_null,
                F.when(F.col("_grp_med").isNotNull(), F.lit("mediana_empregado"))
                .when(F.col("_glob_med").isNotNull(), F.lit("mediana_global"))
                .otherwise(F.lit("data_atual")),
            ),
        )
        .withColumn(
            date_col,
            F.when(invalid, fallback)
            .when(
                was_null,
                F.coalesce(
                    to_date(F.col("_grp_med")),
                    to_date(F.col("_glob_med")),
                    fallback,
                ),
            )
            .otherwise(F.col(date_col)),
        )
    )
    return out.drop("_grp_med", "_glob_med")


# ---------------------------------------------------------------------------
# Sequential ID backfill (W2, A11)
# ---------------------------------------------------------------------------


def backfill_sequential_ids(
    df: DataFrame, id_col: str, order_col: str, *, distributed: bool = False
) -> DataFrame:
    """W2 — NULL ids become ``max_id+1, max_id+2, …`` in ``order_col`` order
    (reference ``et_empregados.py:243-292``).

    Default mode: the max id and a running count of NULL ids are windows
    ordered by ``order_col`` over ``df`` — one linear plan, no side
    aggregate. Like any unpartitioned window it runs in one partition
    (free on the single-partition dimension reads the reference needs).
    ``distributed=True`` is the 100 TB fact-backfill mode: the max is a
    1-row broadcast and the NULL-id slice ranks via
    :func:`rank.distributed_row_number` (range-partition →
    |partitions|-row offsets job → partition-local window), so no
    single reducer ever holds the whole NULL slice. Same output by
    construction when ``order_col`` is unique within the slice —
    pinned by ``tests/test_cleaning.py``. Distributed mode leaves one
    NULL-slice-sized checkpoint block set owned by the caller's
    ``ckpt.scope()`` (the range-partition pin the returned plan reads —
    see :func:`rank.distributed_row_number`'s block-ownership note); a
    backfill is once-per-load, so the residue is one slice, not a
    per-round accumulation.
    """
    if not distributed:
        w = Window.orderBy(F.col(order_col).asc())
        # same ordering as ``seq``: both run in one Window operator, one sort
        max_id = F.max(id_col).over(
            w.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
        )
        seq = F.count(F.when(F.col(id_col).isNull(), 1)).over(
            w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
        )
        new_id = (F.coalesce(max_id, F.lit(0)) + seq).cast(df.schema[id_col].dataType)
        return df.withColumn(id_col, F.coalesce(F.col(id_col), new_id))

    from sales_data_etl_pipeline_spark.operators import rank

    max_id = df.agg(F.coalesce(F.max(id_col), F.lit(0)).alias("_max_id"))
    nulls_base = df.filter(F.col(id_col).isNull()).crossJoin(
        F.broadcast(max_id)
    )
    ranked, _n = rank.distributed_row_number(
        nulls_base, [F.col(order_col).asc()], rank_col="_seq"
    )
    nulls = ranked.withColumn(
        id_col, F.col("_max_id") + F.col("_seq")
    ).drop("_max_id", "_seq")
    return df.filter(F.col(id_col).isNotNull()).unionByName(nulls)


# ---------------------------------------------------------------------------
# Audit convention
# ---------------------------------------------------------------------------


def drop_audit_columns(df: DataFrame) -> DataFrame:
    """Drop the lineage/audit columns at the sink boundary (reference loads
    only declared columns — ``l_vendas.py:109-120``)."""
    present = [c for c in AUDIT_COLUMNS if c in df.columns]
    return df.drop(*present) if present else df


def fuzzy_match(
    dirty: DataFrame,
    canonical: DataFrame,
    *,
    name_col: str,
    key_col: str,
    max_dist: int = 2,
    block_chars: int = 3,
) -> DataFrame:
    """Fuzzy entity resolution: match each dirty name to its closest
    canonical name by Levenshtein distance ≤ ``max_dist`` — the
    approximate extension of the reference's exact canonical-name
    rewrite (P3, ``et_produtos.py`` canonical map).

    All-pairs edit distance is O(n·m); BLOCKING makes it tractable:
    candidates must share their first ``block_chars`` characters, so the
    comparison runs per block (an equi-join on the prefix) instead of as
    a cross join. The block key is the recall/cost dial — typos inside
    the prefix escape the block, the standard blocking tradeoff (run a
    second pass on a different key, e.g. suffix or phonetic, for higher
    recall). Winner per dirty name = min (distance, canonical key) via
    one map-side-combinable min(struct) aggregate — no window.
    Levenshtein is the classic DP — integer, engine-portable.
    """
    d = dirty.select(
        F.col(name_col).alias("_dirty"),
        F.substring(name_col, 1, block_chars).alias("_blk"),
    ).distinct()
    c = canonical.select(
        F.col(key_col).alias("_ckey"),
        F.col(name_col).alias("_cname"),
        F.substring(name_col, 1, block_chars).alias("_blk"),
    )
    scored = (
        d.join(F.broadcast(c), "_blk")
        .withColumn("_dist", F.levenshtein("_dirty", "_cname"))
        .filter(F.col("_dist") <= max_dist)
    )
    return (
        scored.groupBy("_dirty")
        .agg(F.min(F.struct("_dist", "_ckey", "_cname")).alias("_w"))
        .select(
            F.col("_dirty").alias("dirty_name"),
            F.col("_w._ckey").alias(key_col),
            F.col("_w._cname").alias("matched_name"),
            F.col("_w._dist").alias("distance"),
        )
    )
