"""The analytics query layer.

Re-expresses the reference's 5 PostgreSQL analytics queries
(reference ``save-data/save_data_pdf_report.py:64-222``) as lazy Catalyst
plans, in two forms:

1. **Sales-schema form** — pure ``DataFrame -> DataFrame`` functions over
   the ``vendas``/``produtos``/``empregados`` star schema (reference
   parity surface).
2. **Testdata form** — the same query shapes over the driver's TPC-H-ish
   tables (``lineitem``/``orders``/``part``/``supplier``/...), used by
   the DuckDB-oracle correctness gate and the benchmark.

Scale design notes (the part that matters at 100 TB):

- Every query is fact-side partial-aggregation first: Catalyst plans
  ``HashAggregate(partial) -> shuffle on group key -> HashAggregate(final)``,
  so the shuffle carries one row per (partition, group), not per fact row.
- Dimension joins broadcast: ``supplier``/``part`` are orders of magnitude
  smaller than ``lineitem``; we hint ``F.broadcast`` so the fact table is
  never shuffled for the join. At cluster scale with huge dims, drop the
  hint and let AQE pick sort-merge; the group-by shuffle is then the only
  fact shuffle.
- Where the aggregation key IS the join key (revenue per supplier), we
  aggregate the fact table *before* the join — the join then runs on
  |suppliers| rows instead of |lineitems| rows. This is the manual form
  of a "partial aggregation pushdown" that Catalyst does not do through
  a join.
- Top-K is ``orderBy + limit`` ⇒ ``TakeOrderedAndProject``: each partition
  keeps K rows, driver merges — no global sort.
- Money sums are rounded to 2 decimals at the query edge (matches the
  reference's NUMERIC(10,2) display semantics and keeps double sums
  comparable across engines).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from sales_data_etl_pipeline_spark.operators import ckpt
from sales_data_etl_pipeline_spark.sources.tables import load_testdata

# ---------------------------------------------------------------------------
# 1. Sales-schema form (reference parity)
# ---------------------------------------------------------------------------


def sales_by_employee(vendas: DataFrame, empregados: DataFrame) -> DataFrame:
    """A1 — total sales per employee, descending.

    Reference: ``save_data_pdf_report.py:64-89``
    (INNER JOIN + COALESCE(SUM,0) + ORDER BY DESC).
    """
    return (
        vendas.join(F.broadcast(empregados), "id_empregado", "inner")
        .groupBy("id_empregado", "nome")
        .agg(F.coalesce(F.round(F.sum("valor_total"), 2), F.lit(0.0)).alias("valor_total"))
        .orderBy(F.desc("valor_total"), F.asc("id_empregado"))
    )


def average_ticket_by_product(vendas: DataFrame, produtos: DataFrame) -> DataFrame:
    """A2 — SUM(valor_total)/COUNT(id_venda) per product.

    Reference: ``save_data_pdf_report.py:92-122``. Implemented literally as
    sum/count, NOT ``avg``: COUNT(id_venda) counts all join rows, so a NULL
    ``valor_total`` lowers the ticket where ``avg`` would skip it
    (SURVEY.md §7.4 item 7). Client-side re-sort by the number embedded in
    the product name (reference ``extract_product_number``,
    :116-139) is the ``orderBy(regexp_extract...)`` at the end — non-matching
    names sink to the end via NULLS LAST.
    """
    return (
        vendas.join(F.broadcast(produtos), "id_produto", "inner")
        .groupBy("id_produto", "nome")
        .agg(
            F.coalesce(
                F.round(F.sum("valor_total") / F.count("id_venda"), 2), F.lit(0.0)
            ).alias("ticket_medio")
        )
        .orderBy(F.regexp_extract("nome", r"(\d+)", 1).try_cast("long").asc_nulls_last())
    )


def sales_by_category(vendas: DataFrame, produtos: DataFrame) -> DataFrame:
    """A3 — sale count per product category, descending; ties in
    category order, so the PDF table and chart are deterministic.

    Reference: ``save_data_pdf_report.py:142-166``.
    """
    return (
        vendas.join(F.broadcast(produtos.select("id_produto", "categoria")), "id_produto")
        .groupBy("categoria")
        .agg(F.count("id_venda").alias("quantidade_vendas"))
        .orderBy(F.desc("quantidade_vendas"), F.asc("categoria"))
    )


def top5_employees(vendas: DataFrame, empregados: DataFrame) -> DataFrame:
    """A4 — A1 + LIMIT 5 (TakeOrderedAndProject).

    Reference: ``save_data_pdf_report.py:169-195``. Deterministic ties via
    id ascending.
    """
    return sales_by_employee(vendas, empregados).limit(5)


def sales_by_period(vendas: DataFrame) -> DataFrame:
    """A5 — monthly count + sum time series.

    Reference: ``save_data_pdf_report.py:198-222``
    (``TO_CHAR(data,'YYYY-MM')`` → ``date_format(..., 'yyyy-MM')``).
    At 100 TB with month-partitioned storage this group key is the
    partition key, so the agg is partition-local after pruning.
    """
    return (
        vendas.filter(F.col("data").isNotNull())
        .groupBy(F.date_format("data", "yyyy-MM").alias("periodo"))
        .agg(
            F.count("id_venda").alias("quantidade_vendas"),
            F.round(F.sum("valor_total"), 2).alias("valor_total"),
        )
        .orderBy("periodo")
    )


# ---------------------------------------------------------------------------
# 2. Testdata form (driver correctness gate + bench)
# ---------------------------------------------------------------------------
# Mapping (FIXTURES.md §2): vendas→lineitem, produtos→part, empregados→
# supplier, valor_total→l_extendedprice*(1-l_discount), data→l_shipdate.

def _revenue():
    """Unrounded per-row revenue: rounding happens ONCE at the aggregate edge.

    (Per-row double rounding is engine-dependent at .xx5 boundaries — Spark
    rounds the shortest decimal repr via BigDecimal HALF_UP, DuckDB rounds
    the binary value — so rounding each row would accumulate cross-engine
    divergence; rounding only the sum keeps the disagreement window ~1e-9.)
    Lazy because Column construction needs an active session.
    """
    return F.col("l_extendedprice") * (1 - F.col("l_discount"))


def td_sales_by_employee(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A1 on testdata: revenue per supplier.

    Pre-aggregates the fact table on the join key before the dimension
    join, so the join input is |suppliers| rows.
    """
    t = load_testdata(spark, sf_dir, ("lineitem", "supplier"))
    per_supp = (
        t["lineitem"]
        .groupBy("l_suppkey")
        .agg(F.round(F.sum(_revenue()), 2).alias("valor_total"))
    )
    return (
        per_supp.join(F.broadcast(t["supplier"]), per_supp.l_suppkey == t["supplier"].s_suppkey)
        .select(
            F.col("s_suppkey").alias("id_empregado"),
            F.col("s_name").alias("nome"),
            F.coalesce("valor_total", F.lit(0.0)).alias("valor_total"),
        )
        .orderBy(F.desc("valor_total"), F.asc("id_empregado"))
    )


def td_average_ticket_by_product(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A2 on testdata: SUM(revenue)/COUNT(rows) per part (literal sum/count)."""
    t = load_testdata(spark, sf_dir, ("lineitem", "part"))
    per_part = (
        t["lineitem"]
        .groupBy("l_partkey")
        .agg(
            F.sum(_revenue()).alias("_sum"),
            F.count(F.lit(1)).alias("_cnt"),
        )
    )
    return (
        per_part.join(F.broadcast(t["part"]), per_part.l_partkey == t["part"].p_partkey)
        .select(
            F.col("p_partkey").alias("id_produto"),
            F.col("p_name").alias("nome"),
            F.coalesce(F.round(F.col("_sum") / F.col("_cnt"), 2), F.lit(0.0)).alias(
                "ticket_medio"
            ),
        )
        .orderBy(F.regexp_extract("nome", r"(\d+)", 1).try_cast("long").asc_nulls_last())
    )


def td_sales_by_category(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A3 on testdata: sale count per p_type.

    Pre-aggregates the fact table on the join key first: the shuffle
    carries |parts| (long, long) rows instead of routing every fact row
    (with its category string) through the join before aggregating.
    """
    t = load_testdata(spark, sf_dir, ("lineitem", "part"))
    per_part = t["lineitem"].groupBy("l_partkey").agg(
        F.count(F.lit(1)).alias("_c")
    )
    return (
        per_part.join(F.broadcast(t["part"].select("p_partkey", "p_type")),
                      F.col("l_partkey") == F.col("p_partkey"))
        .groupBy(F.col("p_type").alias("categoria"))
        .agg(F.sum("_c").alias("quantidade_vendas"))
        .orderBy(F.desc("quantidade_vendas"), F.asc("categoria"))
    )


def td_top5_employees(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A4 on testdata: top-5 suppliers by revenue (deterministic ties)."""
    return td_sales_by_employee(spark, sf_dir).limit(5)


def td_sales_by_period(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A5 on testdata: monthly revenue series over l_shipdate."""
    t = load_testdata(spark, sf_dir, ("lineitem",))
    return (
        t["lineitem"]
        .filter(F.col("l_shipdate").isNotNull())
        .groupBy(F.date_format("l_shipdate", "yyyy-MM").alias("periodo"))
        .agg(
            F.count(F.lit(1)).alias("quantidade_vendas"),
            F.round(F.sum(_revenue()), 2).alias("valor_total"),
        )
        .orderBy("periodo")
    )


# ---------------------------------------------------------------------------
# 3. SQL form (reference parity: the reference ran its report statements as
#    SQL text through PostgreSQL — here the A1 statement runs through
#    spark.sql / Catalyst).
# ---------------------------------------------------------------------------


def td_sales_by_employee_sql(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A1 in SQL form over testdata (gate entry proving the spark.sql
    surface produces the same result as the DataFrame form)."""
    t = load_testdata(spark, sf_dir, ("lineitem", "supplier"))
    t["lineitem"].createOrReplaceTempView("td_lineitem")
    t["supplier"].createOrReplaceTempView("td_supplier")
    return spark.sql(
        """
        SELECT s.s_suppkey AS id_empregado,
               s.s_name AS nome,
               COALESCE(ROUND(SUM(l.l_extendedprice * (1 - l.l_discount)), 2), 0.0)
                   AS valor_total
        FROM td_lineitem l
        INNER JOIN td_supplier s ON l.l_suppkey = s.s_suppkey
        GROUP BY s.s_suppkey, s.s_name
        ORDER BY valor_total DESC, id_empregado ASC
        """
    )


# ---------------------------------------------------------------------------
# 4. OLAP extensions beyond the reference surface (rollup / pivot) — the
#    grouping-sets family the reference's report layer would grow into.
# ---------------------------------------------------------------------------


def td_sales_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Revenue rollup over (brand, type): per-(brand,type), per-brand
    subtotals, and grand total in one pass (partial aggs shared across
    grouping sets — one fact shuffle)."""
    t = load_testdata(spark, sf_dir, ("lineitem", "part"))
    joined = t["lineitem"].join(
        F.broadcast(t["part"].select("p_partkey", "p_brand", "p_type")),
        F.col("l_partkey") == F.col("p_partkey"),
    )
    return (
        joined.rollup("p_brand", "p_type")
        .agg(F.round(F.sum(_revenue()), 2).alias("revenue"))
        .select(
            F.coalesce("p_brand", F.lit("ALL")).alias("brand"),
            F.coalesce("p_type", F.lit("ALL")).alias("tipo"),
            "revenue",
        )
        .orderBy("brand", "tipo")
    )


def td_sales_cube(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Revenue CUBE over (brand, type): all four grouping sets —
    per-(brand,type), per-brand, per-TYPE (the set rollup lacks), and
    grand total — in one pass; partial aggregates are shared across
    sets exactly as in the rollup twin, one fact shuffle."""
    t = load_testdata(spark, sf_dir, ("lineitem", "part"))
    joined = t["lineitem"].join(
        F.broadcast(t["part"].select("p_partkey", "p_brand", "p_type")),
        F.col("l_partkey") == F.col("p_partkey"),
    )
    return (
        joined.cube("p_brand", "p_type")
        .agg(F.round(F.sum(_revenue()), 2).alias("revenue"))
        .select(
            F.coalesce("p_brand", F.lit("ALL")).alias("brand"),
            F.coalesce("p_type", F.lit("ALL")).alias("tipo"),
            "revenue",
        )
        .orderBy("brand", "tipo")
    )


def td_sales_pivot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Order counts per priority pivoted by order status (fixed pivot
    domain → stable schema)."""
    t = load_testdata(spark, sf_dir, ("orders",))
    return (
        t["orders"]
        .groupBy("o_orderpriority")
        .pivot("o_orderstatus", ["F", "O", "P"])
        .agg(F.count(F.lit(1)))
        .na.fill(0, ["F", "O", "P"])
        .select(
            "o_orderpriority",
            F.col("F").alias("n_f"),
            F.col("O").alias("n_o"),
            F.col("P").alias("n_p"),
        )
        .orderBy("o_orderpriority")
    )


def td_sales_monthly_growth(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Monthly revenue with running total and month-over-month growth.

    The window runs over the AGGREGATED monthly table (cardinality =
    #months — tiny at any corpus scale), so the unpartitioned ordered
    window is bounded by construction; the fact-table work is the same
    single-shuffle groupBy as td_sales_by_period. Running sum and
    growth are computed left-to-right in periodo order in both engines,
    so the doubles are bit-identical; emissions use the floor
    composite (module convention).
    """
    from pyspark.sql import Window

    t = load_testdata(spark, sf_dir, ("lineitem",))
    monthly = (
        t["lineitem"]
        .filter(F.col("l_shipdate").isNotNull())
        .groupBy(F.date_format("l_shipdate", "yyyy-MM").alias("periodo"))
        .agg(F.round(F.sum(_revenue()), 2).alias("valor_total"))
    )
    w = Window.orderBy("periodo")
    run = F.sum("valor_total").over(
        w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    prev = F.lag("valor_total").over(w)
    return monthly.select(
        "periodo",
        "valor_total",
        (F.floor(run * 100 + 0.5) / 100).alias("cum_total"),
        (
            F.floor((F.col("valor_total") - prev) / prev * 1000000 + 0.5)
            / 1000000
        ).alias("growth"),
    ).orderBy("periodo")


def td_top_products_per_brand(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-3 products per brand by revenue — the per-group top-k window
    idiom (rank inside partition, filter), deterministic tiebreak on
    partkey after 2-dp-rounded revenue."""
    from pyspark.sql import Window

    t = load_testdata(spark, sf_dir, ("lineitem", "part"))
    per_product = (
        t["lineitem"]
        .join(
            F.broadcast(t["part"].select("p_partkey", "p_brand")),
            F.col("l_partkey") == F.col("p_partkey"),
        )
        .groupBy("p_brand", "p_partkey")
        .agg(F.round(F.sum(_revenue()), 2).alias("revenue"))
    )
    w = Window.partitionBy("p_brand").orderBy(
        F.desc("revenue"), F.asc("p_partkey")
    )
    return (
        per_product.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= 3)
        .select("p_brand", "p_partkey", "revenue", "rank")
        .orderBy("p_brand", "rank")
    )


def td_sales_by_region_nation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Revenue by region/nation through the full dimension chain
    (lineitem ⋈ orders ⋈ customer ⋈ nation ⋈ region) with a market
    segment filter — the multi-join query that exercises Catalyst's
    join reordering and dimension broadcasting: the fact table joins
    pre-filtered, pre-projected dims (all broadcast-sized), and the
    segment predicate prunes customer BEFORE any join touches it.
    """
    t = load_testdata(
        spark, sf_dir, ("lineitem", "orders", "customer", "nation", "region")
    )
    cust = (
        t["customer"]
        .filter(F.col("c_mktsegment") == "BUILDING")
        .select("c_custkey", "c_nationkey")
    )
    nat = t["nation"].select("n_nationkey", "n_name", "n_regionkey")
    reg = t["region"].select("r_regionkey", "r_name")
    orders = t["orders"].select("o_orderkey", "o_custkey")
    return (
        t["lineitem"]
        .select("l_orderkey", _revenue().alias("_rev"))
        .join(F.broadcast(orders), F.col("l_orderkey") == F.col("o_orderkey"))
        .join(F.broadcast(cust), F.col("o_custkey") == F.col("c_custkey"))
        .join(F.broadcast(nat), F.col("c_nationkey") == F.col("n_nationkey"))
        .join(F.broadcast(reg), F.col("n_regionkey") == F.col("r_regionkey"))
        .groupBy("r_name", "n_name")
        .agg(
            F.count(F.lit(1)).alias("n_items"),
            F.round(F.sum("_rev"), 2).alias("revenue"),
        )
        .orderBy("r_name", "n_name")
    )


def td_customers_above_avg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Customers whose order-total sum exceeds the global per-customer
    average — the scalar-subquery shape (computed as a 1-row broadcast
    against the per-customer aggregate, not a per-row subquery)."""
    t = load_testdata(spark, sf_dir, ("orders", "customer"))
    per_cust = (
        t["orders"]
        .groupBy("o_custkey")
        .agg(F.round(F.sum("o_totalprice"), 2).alias("total"))
    )
    avg_total = per_cust.agg(F.avg("total").alias("_avg"))
    return (
        per_cust.crossJoin(F.broadcast(avg_total))
        .filter(F.col("total") > F.col("_avg"))
        .join(
            F.broadcast(t["customer"].select("c_custkey", "c_name")),
            F.col("o_custkey") == F.col("c_custkey"),
        )
        .select(
            F.col("c_custkey").alias("custkey"),
            F.col("c_name").alias("name"),
            "total",
        )
        .orderBy("custkey")
    )


# --- TPC-H-shaped OLAP classics (Q1 / Q3 / Q5 analogs) ----------------------


def _r2(c):
    """floor(x·100 + 0.5)/100 — pure-IEEE 2-dp rounding, bit-identical
    in Spark and DuckDB even at .xx5 double boundaries."""
    return F.floor(c * 100 + F.lit(0.5)) / 100


def td_q1_pricing_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q1 shape: the wide single-table aggregate — 8 aggregates in
    one pass over the fact with a date predicate pushed to the scan.
    Map-side partial aggregation reduces each partition to |groups|
    rows before the single shuffle."""
    li = load_testdata(spark, sf_dir, ("lineitem",))["lineitem"]
    f = li.filter(
        F.col("l_shipdate") <= F.to_timestamp(F.lit("1998-09-02"))
    )
    disc = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    charge = disc * (1 + F.col("l_tax"))
    return (
        f.groupBy("l_returnflag", "l_linestatus")
        .agg(
            _r2(F.sum("l_quantity")).alias("sum_qty"),
            _r2(F.sum("l_extendedprice")).alias("sum_base_price"),
            _r2(F.sum(disc)).alias("sum_disc_price"),
            _r2(F.sum(charge)).alias("sum_charge"),
            _r2(F.avg("l_quantity")).alias("avg_qty"),
            _r2(F.avg("l_extendedprice")).alias("avg_price"),
            F.floor(F.avg("l_discount") * 10000 + F.lit(0.5)).alias("avg_disc_bp"),
            F.count(F.lit(1)).alias("count_order"),
        )
        .orderBy("l_returnflag", "l_linestatus")
    )


def td_q3_unshipped_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q3 shape: top-10 revenue among orders placed before a date
    whose items shipped after it, for one market segment. The segment
    dim broadcasts pre-filtered; lineitem pre-aggregates per order
    before the ranking sort, so the top-k sorts |orders| rows, not
    |items| (TakeOrderedAndProject — no global sort)."""
    t = load_testdata(spark, sf_dir, ("lineitem", "orders", "customer"))
    cutoff = F.to_timestamp(F.lit("1997-06-15"))
    cust = (
        t["customer"]
        .filter(F.col("c_mktsegment") == "AUTOMOBILE")
        .select("c_custkey")
    )
    orders = (
        t["orders"]
        .filter(F.col("o_orderdate") < cutoff)
        .join(F.broadcast(cust), F.col("o_custkey") == F.col("c_custkey"))
        .select("o_orderkey", "o_orderdate", "o_orderpriority")
    )
    li = (
        t["lineitem"]
        .filter(F.col("l_shipdate") > cutoff)
        .select("l_orderkey", _revenue().alias("_rev"))
    )
    return (
        li.join(orders, F.col("l_orderkey") == F.col("o_orderkey"))
        .groupBy("l_orderkey", "o_orderdate", "o_orderpriority")
        .agg(_r2(F.sum("_rev")).alias("revenue"))
        .select(
            "l_orderkey",
            F.date_format("o_orderdate", "yyyy-MM-dd").alias("orderdate"),
            "o_orderpriority",
            "revenue",
        )
        .orderBy(F.desc("revenue"), "orderdate", "l_orderkey")
        .limit(10)
    )


def td_q5_local_supplier_volume(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q5 shape: revenue by nation for one region and one order
    year, counting only line items whose supplier and customer share
    the nation. All dims broadcast pre-filtered; the only shuffles are
    the fact⋈orders equi-join and the final 5-row aggregate."""
    t = load_testdata(
        spark,
        sf_dir,
        ("lineitem", "orders", "customer", "supplier", "nation", "region"),
    )
    asia_nations = (
        t["nation"]
        .join(
            F.broadcast(
                t["region"].filter(F.col("r_name") == "ASIA").select("r_regionkey")
            ),
            F.col("n_regionkey") == F.col("r_regionkey"),
        )
        .select("n_nationkey", "n_name")
    )
    supp = t["supplier"].select("s_suppkey", "s_nationkey")
    cust = t["customer"].select("c_custkey", "c_nationkey")
    orders = (
        t["orders"]
        .filter(
            (F.col("o_orderdate") >= F.to_timestamp(F.lit("1996-01-01")))
            & (F.col("o_orderdate") < F.to_timestamp(F.lit("1997-01-01")))
        )
        .select("o_orderkey", "o_custkey")
    )
    return (
        t["lineitem"]
        .select("l_orderkey", "l_suppkey", _revenue().alias("_rev"))
        .join(orders, F.col("l_orderkey") == F.col("o_orderkey"))
        .join(F.broadcast(supp), F.col("l_suppkey") == F.col("s_suppkey"))
        .join(F.broadcast(cust), F.col("o_custkey") == F.col("c_custkey"))
        .filter(F.col("c_nationkey") == F.col("s_nationkey"))
        .join(
            F.broadcast(asia_nations),
            F.col("s_nationkey") == F.col("n_nationkey"),
        )
        .groupBy("n_name")
        .agg(_r2(F.sum("_rev")).alias("revenue"))
        .orderBy(F.desc("revenue"), "n_name")
    )


def td_q13_customer_distribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q13 shape: distribution of per-customer order counts —
    aggregate-of-aggregate with a LEFT join so zero-order customers
    count into the c_count=0 bucket. Two keyed shuffles, both
    map-side combinable; no window."""
    t = load_testdata(spark, sf_dir, ("customer", "orders"))
    per_cust = (
        t["customer"]
        .select("c_custkey")
        .join(
            t["orders"].select("o_custkey", "o_orderkey"),
            F.col("c_custkey") == F.col("o_custkey"),
            "left",
        )
        .groupBy("c_custkey")
        .agg(F.count("o_orderkey").alias("c_count"))
    )
    return (
        per_cust.groupBy("c_count")
        .agg(F.count(F.lit(1)).alias("custdist"))
        .orderBy(F.desc("custdist"), F.desc("c_count"))
    )


def td_q17_small_quantity_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q17 shape: revenue from line items below 20% of their
    part's average quantity, for one brand — the correlated-subquery
    pattern DECORRELATED: the per-part average is a tiny groupBy
    aggregate broadcast back onto the fact, not a per-row subquery.
    One fact shuffle for the per-part averages, then a broadcast join."""
    t = load_testdata(spark, sf_dir, ("lineitem", "part"))
    brand_parts = (
        t["part"].filter(F.col("p_brand") == "Brand#23").select("p_partkey")
    )
    li = t["lineitem"].join(
        F.broadcast(brand_parts), F.col("l_partkey") == F.col("p_partkey")
    )
    avg_qty = li.groupBy("l_partkey").agg(
        (F.avg("l_quantity") * 0.2).alias("_thresh")
    )
    small = li.join(
        F.broadcast(avg_qty.withColumnRenamed("l_partkey", "_pk")),
        F.col("l_partkey") == F.col("_pk"),
    ).filter(F.col("l_quantity") < F.col("_thresh"))
    return small.agg(
        (
            F.floor(F.sum("l_extendedprice") * 100 + F.lit(0.5)) / 100 / 7.0
        ).alias("avg_yearly"),
        F.count(F.lit(1)).alias("n_items"),
    )


# --- TPC-H-shaped OLAP classics, batch 2 (Q4/Q6/Q7/Q8/Q10/Q14/Q16/Q18/
# Q19/Q22 analogs). The testdata star schema lacks partsupp and the
# commit/receipt-date & shipmode/container/phone columns, so each analog
# keeps the ORIGINAL query's structural shape (the thing Catalyst has to
# plan well) with predicates re-expressed over available columns. ------------


def td_q4_priority_late_ship(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q4 shape: EXISTS-semijoin order count by priority.

    Orders from one quarter having at least one line item shipped more
    than 30 days after the order date. The EXISTS becomes a LEFT SEMI
    join on the order key with the non-equi lateness predicate attached
    to the join, so each order contributes once no matter how many late
    items it has and the fact side never materializes a row explosion.
    """
    t = load_testdata(spark, sf_dir, ("lineitem", "orders"))
    orders = t["orders"].filter(
        (F.col("o_orderdate") >= F.to_timestamp(F.lit("1997-01-01")))
        & (F.col("o_orderdate") < F.to_timestamp(F.lit("1997-04-01")))
    )
    li = t["lineitem"].select("l_orderkey", "l_shipdate")
    late = orders.join(
        li,
        (F.col("l_orderkey") == F.col("o_orderkey"))
        & (
            F.col("l_shipdate")
            > F.col("o_orderdate") + F.expr("INTERVAL 30 DAYS")
        ),
        "left_semi",
    )
    return (
        late.groupBy("o_orderpriority")
        .agg(F.count(F.lit(1)).alias("order_count"))
        .orderBy("o_orderpriority")
    )


def td_q6_forecast_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q6 shape: the pure scan-filter-aggregate. Every predicate
    (date range, discount band, quantity cap) pushes to the parquet
    scan; the aggregate is a single map-side-combined global sum —
    zero joins, one 1-row shuffle. The 100 TB plan is exactly this
    plus partition pruning on the date column."""
    li = load_testdata(spark, sf_dir, ("lineitem",))["lineitem"]
    f = li.filter(
        (F.col("l_shipdate") >= F.to_timestamp(F.lit("1997-01-01")))
        & (F.col("l_shipdate") < F.to_timestamp(F.lit("1998-01-01")))
        & (F.col("l_discount") >= 0.05)
        & (F.col("l_discount") <= 0.07)
        & (F.col("l_quantity") < 24)
    )
    return f.agg(
        _r2(F.sum(F.col("l_extendedprice") * F.col("l_discount"))).alias(
            "revenue"
        ),
        F.count(F.lit(1)).alias("n_items"),
    )


def td_q7_volume_shipping(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q7 shape: bilateral trade volume between two nations by
    ship year. Supplier and customer nation dims broadcast onto the
    fact; the disjunctive nation-pair predicate filters after both
    broadcasts so the only shuffles are fact⋈orders and the final
    4-row aggregate."""
    t = load_testdata(
        spark, sf_dir, ("lineitem", "orders", "customer", "supplier", "nation")
    )
    supp_n = (
        t["supplier"]
        .join(
            F.broadcast(t["nation"]),
            F.col("s_nationkey") == F.col("n_nationkey"),
        )
        .select("s_suppkey", F.col("n_name").alias("supp_nation"))
    )
    cust_n = (
        t["customer"]
        .join(
            F.broadcast(t["nation"]),
            F.col("c_nationkey") == F.col("n_nationkey"),
        )
        .select("c_custkey", F.col("n_name").alias("cust_nation"))
    )
    li = t["lineitem"].filter(
        (F.col("l_shipdate") >= F.to_timestamp(F.lit("1996-01-01")))
        & (F.col("l_shipdate") < F.to_timestamp(F.lit("1998-01-01")))
    )
    pair = (F.col("supp_nation") == "NATION_1") & (
        F.col("cust_nation") == "NATION_2"
    ) | (F.col("supp_nation") == "NATION_2") & (
        F.col("cust_nation") == "NATION_1"
    )
    return (
        li.join(
            t["orders"].select("o_orderkey", "o_custkey"),
            F.col("l_orderkey") == F.col("o_orderkey"),
        )
        .join(F.broadcast(supp_n), F.col("l_suppkey") == F.col("s_suppkey"))
        .join(F.broadcast(cust_n), F.col("o_custkey") == F.col("c_custkey"))
        .filter(pair)
        .groupBy(
            "supp_nation", "cust_nation", F.year("l_shipdate").alias("l_year")
        )
        .agg(_r2(F.sum(_revenue())).alias("revenue"))
        .orderBy("supp_nation", "cust_nation", "l_year")
    )


def td_q8_market_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q8 shape: one nation's share of a region's market for one
    part type, by order year — the conditional-sum-ratio pattern.
    Share = sum(rev where supplier ∈ NATION_3) / sum(rev), emitted in
    basis points (floor(x·10⁴+0.5) as BIGINT) so the double division
    compares bit-stably against the oracle."""
    t = load_testdata(
        spark,
        sf_dir,
        ("lineitem", "orders", "customer", "supplier", "nation", "region", "part"),
    )
    america = (
        t["nation"]
        .join(
            F.broadcast(
                t["region"]
                .filter(F.col("r_name") == "AMERICA")
                .select("r_regionkey")
            ),
            F.col("n_regionkey") == F.col("r_regionkey"),
        )
        .select("n_nationkey")
    )
    cust = t["customer"].join(
        F.broadcast(america), F.col("c_nationkey") == F.col("n_nationkey")
    ).select("c_custkey")
    supp_n = (
        t["supplier"]
        .join(
            F.broadcast(t["nation"].select("n_nationkey", "n_name")),
            F.col("s_nationkey") == F.col("n_nationkey"),
        )
        .select("s_suppkey", F.col("n_name").alias("supp_nation"))
    )
    parts = t["part"].filter(F.col("p_type") == "ECONOMY").select("p_partkey")
    rev = _revenue()
    joined = (
        t["lineitem"]
        .join(F.broadcast(parts), F.col("l_partkey") == F.col("p_partkey"))
        .join(
            t["orders"].select("o_orderkey", "o_custkey", "o_orderdate"),
            F.col("l_orderkey") == F.col("o_orderkey"),
        )
        .join(F.broadcast(cust), F.col("o_custkey") == F.col("c_custkey"))
        .join(F.broadcast(supp_n), F.col("l_suppkey") == F.col("s_suppkey"))
    )
    return (
        joined.groupBy(F.year("o_orderdate").alias("o_year"))
        .agg(
            F.floor(
                F.sum(
                    F.when(F.col("supp_nation") == "NATION_3", rev).otherwise(
                        F.lit(0.0)
                    )
                )
                / F.sum(rev)
                * 10000
                + F.lit(0.5)
            ).alias("mkt_share_bp")
        )
        .orderBy("o_year")
    )


def td_q10_returned_items(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q10 shape: top-20 customers by lost revenue on returned
    items in one quarter. Customer/nation dims broadcast; lineitem
    pre-filters on the return flag; TakeOrderedAndProject keeps the
    top-k sort bounded at k rows per partition."""
    t = load_testdata(
        spark, sf_dir, ("lineitem", "orders", "customer", "nation")
    )
    orders = t["orders"].filter(
        (F.col("o_orderdate") >= F.to_timestamp(F.lit("1997-07-01")))
        & (F.col("o_orderdate") < F.to_timestamp(F.lit("1997-10-01")))
    )
    li = t["lineitem"].filter(F.col("l_returnflag") == "R")
    cust = t["customer"].join(
        F.broadcast(t["nation"].select("n_nationkey", "n_name")),
        F.col("c_nationkey") == F.col("n_nationkey"),
    )
    return (
        li.select("l_orderkey", _revenue().alias("_rev"))
        .join(
            orders.select("o_orderkey", "o_custkey"),
            F.col("l_orderkey") == F.col("o_orderkey"),
        )
        .join(
            F.broadcast(
                cust.select("c_custkey", "c_name", "c_acctbal", "n_name")
            ),
            F.col("o_custkey") == F.col("c_custkey"),
        )
        .groupBy("c_custkey", "c_name", "c_acctbal", "n_name")
        .agg(_r2(F.sum("_rev")).alias("revenue"))
        .orderBy(F.desc("revenue"), "c_custkey")
        .limit(20)
    )


def td_q14_promo_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q14 shape: promotional revenue share for one ship month —
    CASE-conditional aggregate over a broadcast part join, emitted in
    basis points for bit-stable comparison."""
    t = load_testdata(spark, sf_dir, ("lineitem", "part"))
    li = t["lineitem"].filter(
        (F.col("l_shipdate") >= F.to_timestamp(F.lit("1997-09-01")))
        & (F.col("l_shipdate") < F.to_timestamp(F.lit("1997-10-01")))
    )
    rev = _revenue()
    joined = li.join(
        F.broadcast(t["part"].select("p_partkey", "p_type")),
        F.col("l_partkey") == F.col("p_partkey"),
    )
    return joined.agg(
        F.floor(
            F.sum(F.when(F.col("p_type") == "PROMO", rev).otherwise(F.lit(0.0)))
            / F.sum(rev)
            * 10000
            + F.lit(0.5)
        ).alias("promo_share_bp"),
        F.count(F.lit(1)).alias("n_items"),
    )


def td_q16_supplier_part_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q16 shape: distinct-supplier counts per (brand, type,
    size) for selected sizes, excluding one brand and a supplier
    denylist — the NOT-IN becomes a broadcast LEFT ANTI join (the
    denylist is tiny by construction), and the count-distinct is a
    two-phase hash aggregate (partials on (grp, suppkey), then final
    count) rather than a global sort."""
    t = load_testdata(spark, sf_dir, ("lineitem", "part", "supplier"))
    parts = t["part"].filter(
        (F.col("p_brand") != "Brand#5")
        & F.col("p_size").isin(1, 9, 14, 19, 23, 36, 45, 49)
    )
    deny = t["supplier"].filter(F.col("s_acctbal") < 0).select("s_suppkey")
    return (
        t["lineitem"]
        .select("l_partkey", "l_suppkey")
        .join(
            F.broadcast(deny),
            F.col("l_suppkey") == F.col("s_suppkey"),
            "left_anti",
        )
        .join(
            F.broadcast(parts.select("p_partkey", "p_brand", "p_type", "p_size")),
            F.col("l_partkey") == F.col("p_partkey"),
        )
        .groupBy("p_brand", "p_type", "p_size")
        .agg(F.count_distinct("l_suppkey").alias("supplier_cnt"))
        .orderBy(F.desc("supplier_cnt"), "p_brand", "p_type", "p_size")
    )


def td_q18_large_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q18 shape: customers with orders whose total quantity
    exceeds a threshold — the HAVING-subquery pattern. The qualifying
    order set is computed once (map-side-combined sum per order key,
    filter > 300) and semi-joined back; the outer aggregate then runs
    only over qualifying orders, so the second pass over lineitem
    touches a ~1% row subset."""
    t = load_testdata(spark, sf_dir, ("lineitem", "orders", "customer"))
    li = t["lineitem"].select("l_orderkey", "l_quantity")
    big = (
        li.groupBy("l_orderkey")
        .agg(F.sum("l_quantity").alias("_qty"))
        .filter(F.col("_qty") > 300)
        .select("l_orderkey")
    )
    orders = t["orders"].join(
        big.withColumnRenamed("l_orderkey", "_ok"),
        F.col("o_orderkey") == F.col("_ok"),
        "left_semi",
    )
    return (
        li.join(
            orders.select(
                "o_orderkey", "o_custkey", "o_orderdate", "o_totalprice"
            ),
            F.col("l_orderkey") == F.col("o_orderkey"),
        )
        .join(
            F.broadcast(t["customer"].select("c_custkey", "c_name")),
            F.col("o_custkey") == F.col("c_custkey"),
        )
        .groupBy(
            "c_name",
            "c_custkey",
            "o_orderkey",
            F.date_format("o_orderdate", "yyyy-MM-dd").alias("orderdate"),
            "o_totalprice",
        )
        .agg(_r2(F.sum("l_quantity")).alias("total_qty"))
        .orderBy(F.desc("o_totalprice"), "o_orderkey")
        .limit(100)
    )


def td_q19_disjunctive_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q19 shape: revenue under an OR of three (brand,
    size-range, quantity-range) conjunctions. The part side of each
    disjunct (brand + size) pushes into the broadcast dim scan as
    `(b₁∧s₁)∨(b₂∧s₂)∨(b₃∧s₃)`; the mixed fact⋈dim residual applies
    after the join — one broadcast, no shuffle before the 1-row agg."""
    t = load_testdata(spark, sf_dir, ("lineitem", "part"))
    p = F.broadcast(t["part"].select("p_partkey", "p_brand", "p_size"))
    j = t["lineitem"].join(p, F.col("l_partkey") == F.col("p_partkey"))
    d1 = (
        (F.col("p_brand") == "Brand#12")
        & F.col("p_size").between(1, 5)
        & F.col("l_quantity").between(1, 11)
    )
    d2 = (
        (F.col("p_brand") == "Brand#23")
        & F.col("p_size").between(1, 10)
        & F.col("l_quantity").between(10, 20)
    )
    d3 = (
        (F.col("p_brand") == "Brand#34")
        & F.col("p_size").between(1, 15)
        & F.col("l_quantity").between(20, 30)
    )
    return j.filter(d1 | d2 | d3).agg(
        _r2(F.sum(_revenue())).alias("revenue"),
        F.count(F.lit(1)).alias("n_items"),
    )


def td_q22_dormant_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q22 shape: high-balance customers in selected country
    groups with no recent orders — scalar-subquery threshold (global
    positive-balance average, computed once and broadcast as a 1-row
    frame) plus a LEFT ANTI join against recent orders. No correlated
    per-row subquery survives into the physical plan."""
    t = load_testdata(spark, sf_dir, ("customer", "orders"))
    cust = t["customer"].filter((F.col("c_nationkey") % 5).isin(0, 1, 2))
    avg_bal = (
        t["customer"]
        .filter(F.col("c_acctbal") > 0)
        .agg(F.avg("c_acctbal").alias("_avg_bal"))
    )
    recent = t["orders"].filter(
        F.col("o_orderdate") >= F.to_timestamp(F.lit("1999-01-01"))
    )
    return (
        cust.crossJoin(F.broadcast(avg_bal))
        .filter(F.col("c_acctbal") > F.col("_avg_bal"))
        .join(
            recent.select("o_custkey"),
            F.col("c_custkey") == F.col("o_custkey"),
            "left_anti",
        )
        .groupBy(F.col("c_nationkey").alias("cntrycode"))
        .agg(
            F.count(F.lit(1)).alias("numcust"),
            _r2(F.sum("c_acctbal")).alias("totacctbal"),
        )
        .orderBy("cntrycode")
    )


def td_q2_min_balance_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q2 shape: groupwise argmin — for each size-15 part, the
    ASIA-region supplier (among those that have actually shipped it)
    with the lowest account balance. The correlated MIN subquery is
    DECORRELATED into a per-part ranking window over the distinct
    (part, supplier) shipping history; dims broadcast, the only fact
    shuffle is the distinct pair projection."""
    t = load_testdata(
        spark, sf_dir, ("lineitem", "part", "supplier", "nation", "region")
    )
    parts = t["part"].filter(F.col("p_size") == 15).select(
        "p_partkey", "p_name"
    )
    asia_supp = (
        t["supplier"]
        .join(
            F.broadcast(
                t["nation"]
                .join(
                    F.broadcast(
                        t["region"]
                        .filter(F.col("r_name") == "ASIA")
                        .select("r_regionkey")
                    ),
                    F.col("n_regionkey") == F.col("r_regionkey"),
                )
                .select("n_nationkey", "n_name")
            ),
            F.col("s_nationkey") == F.col("n_nationkey"),
        )
        .select("s_suppkey", "s_name", "s_acctbal", "n_name")
    )
    pairs = (
        t["lineitem"]
        .join(F.broadcast(parts), F.col("l_partkey") == F.col("p_partkey"))
        .select("p_partkey", "p_name", "l_suppkey")
        .distinct()
    )
    w = Window.partitionBy("p_partkey").orderBy(
        F.asc("s_acctbal"), F.asc("s_suppkey")
    )
    return (
        pairs.join(
            F.broadcast(asia_supp), F.col("l_suppkey") == F.col("s_suppkey")
        )
        .withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") == 1)
        .select("p_partkey", "p_name", "s_suppkey", "s_name", "s_acctbal", "n_name")
        .orderBy(F.desc("s_acctbal"), "p_partkey")
        .limit(100)
    )


def td_q20_excess_shippers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q20 shape: the nested-semijoin chain — suppliers that
    shipped more than 40 units of any 'gizmo' part during 1997. The
    inner aggregate (per supplier×part shipped quantity) reduces the
    fact before any join with the supplier dim; the outer EXISTS is a
    LEFT SEMI join on the distinct qualifying supplier keys."""
    t = load_testdata(spark, sf_dir, ("lineitem", "part", "supplier"))
    gizmo = (
        t["part"]
        .filter(F.col("p_name").like("%gizmo%"))
        .select("p_partkey")
    )
    qualifying = (
        t["lineitem"]
        .filter(
            (F.col("l_shipdate") >= F.to_timestamp(F.lit("1997-01-01")))
            & (F.col("l_shipdate") < F.to_timestamp(F.lit("1998-01-01")))
        )
        .join(F.broadcast(gizmo), F.col("l_partkey") == F.col("p_partkey"))
        .groupBy("l_suppkey", "l_partkey")
        .agg(F.sum("l_quantity").alias("_qty"))
        .filter(F.col("_qty") > 40)
        .select("l_suppkey")
        .distinct()
    )
    return (
        t["supplier"]
        .join(
            qualifying,
            F.col("s_suppkey") == F.col("l_suppkey"),
            "left_semi",
        )
        .select("s_suppkey", "s_name", F.col("s_acctbal"))
        .orderBy("s_suppkey")
    )


def td_q21_sole_late_shipper(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q21 shape: the EXISTS/NOT-EXISTS pair — suppliers who were
    the ONLY late shipper (>60 days after the order date) on a
    multi-supplier order. Both correlated subqueries collapse into ONE
    per-(order, supplier) aggregate followed by a per-order conditional
    count: n_suppliers ≥ 2, n_late_suppliers = 1, and the culprit is
    the supplier with the late flag. Two keyed shuffles on the order
    key, both map-side combinable — no row-vs-row self-join survives."""
    t = load_testdata(spark, sf_dir, ("lineitem", "orders", "supplier"))
    li = (
        t["lineitem"]
        .join(
            t["orders"].select("o_orderkey", "o_orderdate"),
            F.col("l_orderkey") == F.col("o_orderkey"),
        )
        .select(
            "l_orderkey",
            "l_suppkey",
            (
                F.col("l_shipdate")
                > F.col("o_orderdate") + F.expr("INTERVAL 60 DAYS")
            )
            .cast("int")
            .alias("_late"),
        )
    )
    per_os = li.groupBy("l_orderkey", "l_suppkey").agg(
        F.max("_late").alias("_late")
    )
    per_o = per_os.groupBy("l_orderkey").agg(
        F.count(F.lit(1)).alias("_n_supp"),
        F.sum("_late").alias("_n_late"),
        F.max(
            F.when(F.col("_late") == 1, F.col("l_suppkey"))
        ).alias("_late_supp"),
    )
    waiting = per_o.filter(
        (F.col("_n_supp") >= 2) & (F.col("_n_late") == 1)
    )
    return (
        waiting.groupBy("_late_supp")
        .agg(F.count(F.lit(1)).alias("numwait"))
        .join(
            F.broadcast(t["supplier"].select("s_suppkey", "s_name")),
            F.col("_late_supp") == F.col("s_suppkey"),
        )
        .select("s_suppkey", "s_name", "numwait")
        .orderBy(F.desc("numwait"), "s_suppkey")
        .limit(20)
    )


def td_q15_top_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q15 shape: the top-revenue-supplier view — an aggregate
    reused twice (once per supplier, once for the global MAX) with the
    scalar maximum applied as a 1-row broadcast, so the per-supplier
    aggregate is computed ONCE and the correlated `revenue = (SELECT
    MAX…)` never becomes a per-row subquery. Ties: every supplier at
    the max is returned (original Q15 semantics)."""
    t = load_testdata(spark, sf_dir, ("lineitem", "supplier"))
    rev = ckpt.checkpoint(
        t["lineitem"]
        .filter(
            (F.col("l_shipdate") >= F.to_timestamp(F.lit("1997-01-01")))
            & (F.col("l_shipdate") < F.to_timestamp(F.lit("1997-04-01")))
        )
        .groupBy("l_suppkey")
        .agg(_r2(F.sum(_revenue())).alias("total_revenue")),
        eager=False,  # reuse: supplier rows + global max
    )
    mx = rev.agg(F.max("total_revenue").alias("_mx"))
    return (
        rev.crossJoin(F.broadcast(mx))
        .filter(F.col("total_revenue") == F.col("_mx"))
        .join(
            F.broadcast(t["supplier"].select("s_suppkey", "s_name")),
            F.col("l_suppkey") == F.col("s_suppkey"),
        )
        .select("s_suppkey", "s_name", "total_revenue")
        .orderBy("s_suppkey")
    )


def td_q9_product_profit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q9 shape: profit by supplier nation and order year for a
    part-name family — the 5-way join with a computed measure. The
    testdata has no partsupp, so supply cost is proxied as 10% of
    p_retailprice per unit (same plan shape: every dim broadcasts, the
    only shuffles are fact⋈orders and the (nation, year) aggregate)."""
    t = load_testdata(
        spark, sf_dir, ("lineitem", "part", "supplier", "orders", "nation")
    )
    gizmo = (
        t["part"]
        .filter(F.col("p_name").like("%gizmo%"))
        .select("p_partkey", "p_retailprice")
    )
    supp_n = (
        t["supplier"]
        .join(
            F.broadcast(t["nation"].select("n_nationkey", "n_name")),
            F.col("s_nationkey") == F.col("n_nationkey"),
        )
        .select("s_suppkey", "n_name")
    )
    profit = _revenue() - 0.1 * F.col("p_retailprice") * F.col("l_quantity")
    # integer-quantize BEFORE the sum (module convention, same as
    # text_unigram_logprob): a double sum's order differs between
    # engines, and this measure mixes signs — one ulp near a .xx5
    # boundary flips the rounded cent. Per-row floor(x·10⁴+0.5) is the
    # identical double op-sequence in both engines; the bigint sum is
    # then exact and order-free.
    profit_q = F.floor(profit * 10000 + F.lit(0.5)).cast("long")
    return (
        t["lineitem"]
        .join(F.broadcast(gizmo), F.col("l_partkey") == F.col("p_partkey"))
        .join(F.broadcast(supp_n), F.col("l_suppkey") == F.col("s_suppkey"))
        .join(
            t["orders"].select("o_orderkey", "o_orderdate"),
            F.col("l_orderkey") == F.col("o_orderkey"),
        )
        .groupBy(
            F.col("n_name").alias("nation"),
            F.year("o_orderdate").alias("o_year"),
        )
        .agg(
            (F.floor(F.sum(profit_q) / 100.0 + F.lit(0.5)) / 100).alias(
                "sum_profit"
            )
        )
        .orderBy("nation", F.desc("o_year"))
    )


def td_q11_important_parts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q11 shape: the HAVING-scalar-subquery share filter — parts
    whose revenue exceeds a fixed fraction of TOTAL revenue. The
    testdata has no partsupp, so the "inventory value" is lineitem
    revenue per part (same plan shape: one keyed aggregate reused
    against its own global sum, applied as a 1-row broadcast — the
    correlated subquery never becomes per-row work, and the fact table
    is scanned ONCE thanks to the localCheckpoint reuse).
    Reference parity note: the reference engine has no Q11 analog; this
    extends the OLAP sweep (SURVEY.md §2 extension layer)."""
    t = load_testdata(spark, sf_dir, ("lineitem", "part"))
    # integer cents from the aggregate edge onward: the global total is
    # then an EXACT bigint sum (order-free across engines) and the
    # 0.1%-share filter is pure integer arithmetic — no double-sum
    # boundary can flip a part in one engine only
    per_part = ckpt.checkpoint(
        t["lineitem"]
        .groupBy("l_partkey")
        .agg(
            F.floor(F.sum(_revenue()) * 100 + F.lit(0.5))
            .cast("long")
            .alias("_cents")
        ),
        eager=False,  # reuse: per-part rows + global sum
    )
    total = per_part.agg(
        F.sum("_cents").alias("_tot"), F.count(F.lit(1)).alias("_np")
    )
    return (
        per_part.crossJoin(F.broadcast(total))
        # scale-free share cut: value > 1.25× the mean part value
        # (TPC-H's 0.0001/SF fraction is scale-dependent by design; the
        # ×-mean form returns a stable "important" top-decile-ish subset
        # at every SF — the synthetic per-part revenue is near-uniform,
        # max/mean ≈ 1.75) — still pure bigint arithmetic, no boundary
        .filter(F.col("_cents") * F.col("_np") * 4 > F.col("_tot") * 5)
        .withColumn("part_value", F.col("_cents") / 100.0)
        .join(
            F.broadcast(t["part"].select("p_partkey", "p_name")),
            F.col("l_partkey") == F.col("p_partkey"),
        )
        .select("p_partkey", "p_name", "part_value")
        .orderBy(F.desc("part_value"), "p_partkey")
    )


def td_q12_late_priority_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q12 shape: the CASE-sum priority split over late
    shipments. The testdata lineitem has no shipmode/commitdate, so the
    grouping key is l_linestatus and "late" is shipped > 45 days after
    the order date (same plan: one fact⋈orders join — orders projected
    to two columns, broadcastable at dim-like selectivity after the
    date filter is pushed — then a 2×|groups| CASE-sum aggregate with
    map-side partial reduction)."""
    t = load_testdata(spark, sf_dir, ("lineitem", "orders"))
    o = t["orders"].select("o_orderkey", "o_orderdate", "o_orderpriority")
    joined = t["lineitem"].join(
        o, F.col("l_orderkey") == F.col("o_orderkey")
    )
    late = joined.filter(
        F.col("l_shipdate") > F.col("o_orderdate") + F.expr("INTERVAL 45 DAYS")
    )
    is_high = F.col("o_orderpriority").isin("1-URGENT", "2-HIGH")
    return (
        late.groupBy("l_linestatus")
        .agg(
            F.sum(F.when(is_high, 1).otherwise(0)).alias("high_line_count"),
            F.sum(F.when(is_high, 0).otherwise(1)).alias("low_line_count"),
        )
        .orderBy("l_linestatus")
    )


def td_stats_correlation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Numeric-profile correlations over the fact table: Pearson r for
    the measure pairs an analyst profiles first. corr() is a single
    map-side-combinable moment aggregate (count/sum/sumsq/cross-sum per
    partition, merged once) — one pass, one 1-row shuffle, no window.
    Rounded to 4dp at the aggregate edge: the per-partition moment sums
    are order-free doubles at this precision."""
    li = load_testdata(spark, sf_dir, ("lineitem",))["lineitem"]
    r4 = lambda c: F.floor(c * 10000 + F.lit(0.5)) / 10000  # noqa: E731

    def corr(x: str, y: str):
        # covar_pop/(σx·σy) ≡ Pearson r, but NULL-safe on constant
        # columns: builtin corr() DIVIDE_BY_ZEROs under ANSI when a
        # variance is 0, while DuckDB's corr returns NULL — try_divide
        # aligns the engines (var_pop is exactly 0.0 on constants)
        return F.try_divide(
            F.covar_pop(x, y), F.sqrt(F.var_pop(x)) * F.sqrt(F.var_pop(y))
        )

    return li.agg(
        r4(corr("l_quantity", "l_extendedprice")).alias("corr_qty_price"),
        r4(corr("l_extendedprice", "l_discount")).alias("corr_price_disc"),
        r4(corr("l_quantity", "l_discount")).alias("corr_qty_disc"),
        F.count(F.lit(1)).alias("n_rows"),
    )
