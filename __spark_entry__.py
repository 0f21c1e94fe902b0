"""Driver contract for the spark-graft builder (PySpark target).

``entry(spark)`` smoke-runs the flagship query; ``queries()`` maps each
implemented operator (SURVEY.md §2) to a (spark, sf_dir) -> DataFrame
callable; ``oracle_sql()`` gives the DuckDB-equivalent ANSI SQL the
driver compares against (row-count + schema + order-insensitive
value-hash).

Column-name discipline: every computed column is aliased identically in
the Spark plan and the oracle SQL. Money aggregates are rounded to 2
decimals at the aggregate edge in BOTH engines so double sums compare
stably.
"""

from __future__ import annotations

import functools
import glob
import json
import os
import sys
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from sales_data_etl_pipeline_spark.plans import analytics, cleaning_demo, llm_demo


def entry(spark: SparkSession) -> DataFrame:
    """Flagship query: revenue per supplier (A1 shape) on sf0.001.

    Exercises the engine spine: parquet scan -> partial hash agg ->
    shuffle on key -> final agg -> broadcast dimension join -> top-order.
    """
    return analytics.td_sales_by_employee(spark, "/root/testdata/sf0.001")


# Each round's external oracle check covers only the first 50 names of
# queries(). Entries whose code changed since their last green row in a
# committed CORRECTNESS_r*.json go first, in this order: add a name when
# its code changes (and commit the full local sweep,
# tools/check_correctness.py -> CORRECTNESS_LOCAL.json); drop it once a
# CORRECTNESS_r*.json row shows it green after the change.
_CHANGED = [
    "dedup_embedding_cosine",
    "dedup_embedding_lsh",
    "dedup_incremental_prepared",
    "dedup_semantic",
    "embedding_kmeans_assign",
    "embedding_kmeans_train",
    "embedding_knn_label",
    "embedding_pca_power",
    "embedding_pq_encode",
    "graph_label_propagation",
    "graph_pagerank",
    "similarity_knn_graph",
    "similarity_range_join",
    "similarity_range_topk",
    "similarity_recall_eval",
    "similarity_recall_hamming",
    "similarity_recall_hamming12",
    "similarity_topk",
    "similarity_topk_hamming",
    "similarity_topk_hamming_rerank",
    "similarity_topk_ivf",
    "similarity_topk_ivf_trained",
    "similarity_topk_ivfpq",
    "similarity_topk_ivfpq_residual",
    "similarity_topk_lsh",
    "similarity_topk_pq",
    "clean_et_chain",
    "clean_keys_chain",
    "corpus_dedup_pipeline",
    "corpus_domain_mixture",
    "corpus_pack_sequences",
    "corpus_prep_pipeline",
    "corpus_shuffle_deterministic",
    "corpus_token_shards",
    "dedup_cluster_representatives",
    "dedup_clusters",
    "dedup_containment",
    "dedup_incremental",
    "events_rfm_segmentation",
    "events_rolling_active_users",
    "events_user_value_deciles",
    "graph_kcore",
    "graph_link_prediction",
    "graph_link_prediction_aa",
    "graph_triangle_count",
    "multimodal_phash_pairs",
    "q11_important_parts",
    "q15_top_supplier",
    "table_zorder_layout",
    "streaming_dedup",
    "streaming_stream_join",
    "streaming_user_totals",
    "text_unigram_logprob",
    "corpus_bloom_membership",
    "corpus_chunk_documents",
    "corpus_curriculum_order",
    "corpus_domain_cap",
    "corpus_dsir_weights",
    "dedup_incremental_containment",
    "dedup_incremental_join",
    "dedup_levenshtein",
    "dedup_minhash_containment",
    "dedup_minhash_lsh",
    "dedup_ngram_jaccard",
    "dedup_simhash",
    "dedup_winnowing",
    "events_asof_join",
    "events_asof_join_forward",
    "events_attribution_linear",
    "events_funnel",
    "events_heavy_hitters_cms",
    "events_interval_join",
    "events_markov_transitions",
    "events_range_count",
    "events_session_funnel",
    "streaming_dedup_minhash",
    "streaming_dedup_minhash_append",
    "streaming_session_funnel",
    "text_bigram_logprob",
    "text_bpe_apply",
    "text_bpe_apply_oov",
    "text_bpe_token_count",
    "text_bpe_train",
    "text_char_diversity",
    "text_dup_span_removal",
    "text_dup_span_stats",
    "text_fingerprint",
    "text_gopher_quality",
    "text_perplexity_buckets",
    "text_trigram_backoff",
    "text_winnow_fingerprints",
]


def is_green(row: dict) -> bool:
    """The verdict on one ``CORRECTNESS_r*.json`` row: all three match."""
    return bool(row["rows_match"] and row["schema_match"] and row["hash_match"])


def last_green_rounds() -> dict[str, int]:
    """entry -> newest round with a green row in the committed
    ``CORRECTNESS_r*.json`` files."""
    green: dict[str, int] = {}
    here = os.path.dirname(os.path.abspath(__file__))
    for path in glob.glob(os.path.join(here, "CORRECTNESS_r*.json")):
        rnd = int(path.rsplit("_r", 1)[1].split(".")[0])
        with open(path) as f:
            for name, row in json.load(f).items():
                if is_green(row):
                    green[name] = max(green.get(name, 0), rnd)
    return green


# One entry per implemented operator from SURVEY.md §2.
_REGISTRY: dict[str, Callable[[SparkSession, str], DataFrame]] = {
    # §2.4/2.6 analytics layer (reference save_data_pdf_report.py:64-222)
    "sales_by_employee": analytics.td_sales_by_employee,
    "average_ticket_by_product": analytics.td_average_ticket_by_product,
    "sales_by_category": analytics.td_sales_by_category,
    "top5_employees": analytics.td_top5_employees,
    "sales_by_period": analytics.td_sales_by_period,
    "sales_by_employee_sql": analytics.td_sales_by_employee_sql,
    "sales_rollup": analytics.td_sales_rollup,
    "sales_cube": analytics.td_sales_cube,
    "sales_pivot": analytics.td_sales_pivot,
    "sales_monthly_growth": analytics.td_sales_monthly_growth,
    "top_products_per_brand": analytics.td_top_products_per_brand,
    "sales_by_region_nation": analytics.td_sales_by_region_nation,
    "customers_above_avg": analytics.td_customers_above_avg,
    "q1_pricing_summary": analytics.td_q1_pricing_summary,
    "q3_unshipped_orders": analytics.td_q3_unshipped_orders,
    "q5_local_supplier_volume": analytics.td_q5_local_supplier_volume,
    "q13_customer_distribution": analytics.td_q13_customer_distribution,
    "q17_small_quantity_revenue": analytics.td_q17_small_quantity_revenue,
    "q4_priority_late_ship": analytics.td_q4_priority_late_ship,
    "q6_forecast_revenue": analytics.td_q6_forecast_revenue,
    "q7_volume_shipping": analytics.td_q7_volume_shipping,
    "q8_market_share": analytics.td_q8_market_share,
    "q10_returned_items": analytics.td_q10_returned_items,
    "q14_promo_revenue": analytics.td_q14_promo_revenue,
    "q16_supplier_part_counts": analytics.td_q16_supplier_part_counts,
    "q18_large_orders": analytics.td_q18_large_orders,
    "q19_disjunctive_revenue": analytics.td_q19_disjunctive_revenue,
    "q22_dormant_customers": analytics.td_q22_dormant_customers,
    "q2_min_balance_supplier": analytics.td_q2_min_balance_supplier,
    "q20_excess_shippers": analytics.td_q20_excess_shippers,
    "q21_sole_late_shipper": analytics.td_q21_sole_late_shipper,
    "q15_top_supplier": analytics.td_q15_top_supplier,
    "q9_product_profit": analytics.td_q9_product_profit,
    "q11_important_parts": analytics.td_q11_important_parts,
    "q12_late_priority_split": analytics.td_q12_late_priority_split,
    "stats_correlation": analytics.td_stats_correlation,
    # §2.2/2.5 cleaning layer (reference extract-transform-data/et_*.py)
    **cleaning_demo.QUERIES,
    # extension layer: text analysis / dedup / similarity / event windows
    **llm_demo.QUERIES,
}


@functools.cache
def _verify_order() -> tuple[str, ...]:
    """``_CHANGED`` first, then the rest stalest-first: oldest last green
    round, never-green (round 0) at the front, ties in registry order.
    Computed once, on the first ``queries()`` call."""
    green = last_green_rounds()
    rest = [k for k in _REGISTRY if k not in _CHANGED]
    return (*_CHANGED, *sorted(rest, key=lambda k: green.get(k, 0)))


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    """Every registry entry, in verification order."""
    return {k: _REGISTRY[k] for k in _verify_order()}


def oracle_sql() -> dict[str, str]:
    """DuckDB-runnable ANSI SQL equivalents, same aliases as queries()."""
    revenue = "l_extendedprice * (1 - l_discount)"
    sales_by_employee = f"""
        SELECT s.s_suppkey AS id_empregado,
               s.s_name AS nome,
               COALESCE(ROUND(SUM({revenue}), 2), 0.0) AS valor_total
        FROM lineitem l
        JOIN supplier s ON l.l_suppkey = s.s_suppkey
        GROUP BY s.s_suppkey, s.s_name
        ORDER BY valor_total DESC, id_empregado ASC
    """
    r2 = "floor({x} * 100 + 0.5) / 100"
    return {
        **cleaning_demo.ORACLES,
        **llm_demo.ORACLES,
        "q1_pricing_summary": f"""
            SELECT l_returnflag, l_linestatus,
                   {r2.format(x='SUM(l_quantity)')} AS sum_qty,
                   {r2.format(x='SUM(l_extendedprice)')} AS sum_base_price,
                   {r2.format(x=f'SUM({revenue})')} AS sum_disc_price,
                   {r2.format(x=f'SUM({revenue} * (1 + l_tax))')} AS sum_charge,
                   {r2.format(x='AVG(l_quantity)')} AS avg_qty,
                   {r2.format(x='AVG(l_extendedprice)')} AS avg_price,
                   CAST(floor(AVG(l_discount) * 10000 + 0.5) AS BIGINT)
                       AS avg_disc_bp,
                   COUNT(*) AS count_order
            FROM lineitem WHERE l_shipdate <= TIMESTAMP '1998-09-02'
            GROUP BY l_returnflag, l_linestatus
            ORDER BY l_returnflag, l_linestatus
        """,
        "q3_unshipped_orders": f"""
            SELECT l.l_orderkey,
                   strftime(o.o_orderdate, '%Y-%m-%d') AS orderdate,
                   o.o_orderpriority,
                   {r2.format(x=f'SUM({revenue})')} AS revenue
            FROM lineitem l
            JOIN orders o ON l.l_orderkey = o.o_orderkey
            JOIN customer c ON o.o_custkey = c.c_custkey
            WHERE c.c_mktsegment = 'AUTOMOBILE'
              AND o.o_orderdate < TIMESTAMP '1997-06-15'
              AND l.l_shipdate > TIMESTAMP '1997-06-15'
            GROUP BY l.l_orderkey, orderdate, o.o_orderpriority
            ORDER BY revenue DESC, orderdate, l.l_orderkey LIMIT 10
        """,
        "q5_local_supplier_volume": f"""
            SELECT n.n_name, {r2.format(x=f'SUM({revenue})')} AS revenue
            FROM lineitem l
            JOIN orders o ON l.l_orderkey = o.o_orderkey
            JOIN supplier s ON l.l_suppkey = s.s_suppkey
            JOIN customer c ON o.o_custkey = c.c_custkey
            JOIN nation n ON s.s_nationkey = n.n_nationkey
            JOIN region r ON n.n_regionkey = r.r_regionkey
            WHERE r.r_name = 'ASIA'
              AND c.c_nationkey = s.s_nationkey
              AND o.o_orderdate >= TIMESTAMP '1996-01-01'
              AND o.o_orderdate < TIMESTAMP '1997-01-01'
            GROUP BY n.n_name ORDER BY revenue DESC, n.n_name
        """,
        "q13_customer_distribution": """
            SELECT c_count, COUNT(*) AS custdist FROM (
                SELECT c.c_custkey, COUNT(o.o_orderkey) AS c_count
                FROM customer c LEFT JOIN orders o
                  ON c.c_custkey = o.o_custkey
                GROUP BY c.c_custkey)
            GROUP BY c_count ORDER BY custdist DESC, c_count DESC
        """,
        "q17_small_quantity_revenue": f"""
            WITH bp AS (SELECT p_partkey FROM part WHERE p_brand = 'Brand#23'),
            li AS (SELECT l.* FROM lineitem l JOIN bp
                     ON l.l_partkey = bp.p_partkey),
            a AS (SELECT l_partkey, AVG(l_quantity) * 0.2 AS thresh
                  FROM li GROUP BY l_partkey)
            SELECT {r2.format(x='SUM(l.l_extendedprice)')} / 7.0 AS avg_yearly,
                   COUNT(*) AS n_items
            FROM li l JOIN a ON l.l_partkey = a.l_partkey
            WHERE l.l_quantity < a.thresh
        """,
        "q4_priority_late_ship": """
            SELECT o_orderpriority, COUNT(*) AS order_count
            FROM orders o
            WHERE o.o_orderdate >= TIMESTAMP '1997-01-01'
              AND o.o_orderdate < TIMESTAMP '1997-04-01'
              AND EXISTS (SELECT 1 FROM lineitem l
                          WHERE l.l_orderkey = o.o_orderkey
                            AND l.l_shipdate > o.o_orderdate
                                              + INTERVAL 30 DAY)
            GROUP BY o_orderpriority ORDER BY o_orderpriority
        """,
        "q6_forecast_revenue": f"""
            SELECT {r2.format(x='SUM(l_extendedprice * l_discount)')}
                       AS revenue,
                   COUNT(*) AS n_items
            FROM lineitem
            WHERE l_shipdate >= TIMESTAMP '1997-01-01'
              AND l_shipdate < TIMESTAMP '1998-01-01'
              AND l_discount >= 0.05 AND l_discount <= 0.07
              AND l_quantity < 24
        """,
        "q7_volume_shipping": f"""
            SELECT n1.n_name AS supp_nation, n2.n_name AS cust_nation,
                   EXTRACT(YEAR FROM l.l_shipdate) AS l_year,
                   {r2.format(x=f'SUM({revenue})')} AS revenue
            FROM lineitem l
            JOIN orders o ON l.l_orderkey = o.o_orderkey
            JOIN supplier s ON l.l_suppkey = s.s_suppkey
            JOIN customer c ON o.o_custkey = c.c_custkey
            JOIN nation n1 ON s.s_nationkey = n1.n_nationkey
            JOIN nation n2 ON c.c_nationkey = n2.n_nationkey
            WHERE l.l_shipdate >= TIMESTAMP '1996-01-01'
              AND l.l_shipdate < TIMESTAMP '1998-01-01'
              AND ((n1.n_name = 'NATION_1' AND n2.n_name = 'NATION_2')
                OR (n1.n_name = 'NATION_2' AND n2.n_name = 'NATION_1'))
            GROUP BY supp_nation, cust_nation, l_year
            ORDER BY supp_nation, cust_nation, l_year
        """,
        "q8_market_share": f"""
            SELECT EXTRACT(YEAR FROM o.o_orderdate) AS o_year,
                   CAST(floor(
                       SUM(CASE WHEN n1.n_name = 'NATION_3'
                                THEN {revenue} ELSE 0.0 END)
                       / SUM({revenue}) * 10000 + 0.5) AS BIGINT)
                       AS mkt_share_bp
            FROM lineitem l
            JOIN part p ON l.l_partkey = p.p_partkey
            JOIN orders o ON l.l_orderkey = o.o_orderkey
            JOIN customer c ON o.o_custkey = c.c_custkey
            JOIN nation n2 ON c.c_nationkey = n2.n_nationkey
            JOIN region r ON n2.n_regionkey = r.r_regionkey
            JOIN supplier s ON l.l_suppkey = s.s_suppkey
            JOIN nation n1 ON s.s_nationkey = n1.n_nationkey
            WHERE r.r_name = 'AMERICA' AND p.p_type = 'ECONOMY'
            GROUP BY o_year ORDER BY o_year
        """,
        "q10_returned_items": f"""
            SELECT c.c_custkey, c.c_name, c.c_acctbal, n.n_name,
                   {r2.format(x=f'SUM({revenue})')} AS revenue
            FROM lineitem l
            JOIN orders o ON l.l_orderkey = o.o_orderkey
            JOIN customer c ON o.o_custkey = c.c_custkey
            JOIN nation n ON c.c_nationkey = n.n_nationkey
            WHERE l.l_returnflag = 'R'
              AND o.o_orderdate >= TIMESTAMP '1997-07-01'
              AND o.o_orderdate < TIMESTAMP '1997-10-01'
            GROUP BY c.c_custkey, c.c_name, c.c_acctbal, n.n_name
            ORDER BY revenue DESC, c.c_custkey LIMIT 20
        """,
        "q14_promo_revenue": f"""
            SELECT CAST(floor(
                       SUM(CASE WHEN p.p_type = 'PROMO'
                                THEN {revenue} ELSE 0.0 END)
                       / SUM({revenue}) * 10000 + 0.5) AS BIGINT)
                       AS promo_share_bp,
                   COUNT(*) AS n_items
            FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey
            WHERE l.l_shipdate >= TIMESTAMP '1997-09-01'
              AND l.l_shipdate < TIMESTAMP '1997-10-01'
        """,
        "q16_supplier_part_counts": """
            SELECT p.p_brand, p.p_type, p.p_size,
                   COUNT(DISTINCT l.l_suppkey) AS supplier_cnt
            FROM lineitem l
            JOIN part p ON l.l_partkey = p.p_partkey
            WHERE p.p_brand <> 'Brand#5'
              AND p.p_size IN (1, 9, 14, 19, 23, 36, 45, 49)
              AND l.l_suppkey NOT IN
                  (SELECT s_suppkey FROM supplier WHERE s_acctbal < 0)
            GROUP BY p.p_brand, p.p_type, p.p_size
            ORDER BY supplier_cnt DESC, p.p_brand, p.p_type, p.p_size
        """,
        "q18_large_orders": f"""
            SELECT c.c_name, c.c_custkey, o.o_orderkey,
                   strftime(o.o_orderdate, '%Y-%m-%d') AS orderdate,
                   o.o_totalprice,
                   {r2.format(x='SUM(l.l_quantity)')} AS total_qty
            FROM lineitem l
            JOIN orders o ON l.l_orderkey = o.o_orderkey
            JOIN customer c ON o.o_custkey = c.c_custkey
            WHERE o.o_orderkey IN
                  (SELECT l_orderkey FROM lineitem
                   GROUP BY l_orderkey HAVING SUM(l_quantity) > 300)
            GROUP BY c.c_name, c.c_custkey, o.o_orderkey, orderdate,
                     o.o_totalprice
            ORDER BY o.o_totalprice DESC, o.o_orderkey LIMIT 100
        """,
        "q19_disjunctive_revenue": f"""
            SELECT {r2.format(x=f'SUM({revenue})')} AS revenue,
                   COUNT(*) AS n_items
            FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey
            WHERE (p.p_brand = 'Brand#12' AND p.p_size BETWEEN 1 AND 5
                   AND l.l_quantity BETWEEN 1 AND 11)
               OR (p.p_brand = 'Brand#23' AND p.p_size BETWEEN 1 AND 10
                   AND l.l_quantity BETWEEN 10 AND 20)
               OR (p.p_brand = 'Brand#34' AND p.p_size BETWEEN 1 AND 15
                   AND l.l_quantity BETWEEN 20 AND 30)
        """,
        "q22_dormant_customers": f"""
            WITH a AS (SELECT AVG(c_acctbal) AS avg_bal FROM customer
                       WHERE c_acctbal > 0)
            SELECT c.c_nationkey AS cntrycode,
                   COUNT(*) AS numcust,
                   {r2.format(x='SUM(c.c_acctbal)')} AS totacctbal
            FROM customer c, a
            WHERE c.c_nationkey % 5 IN (0, 1, 2)
              AND c.c_acctbal > a.avg_bal
              AND NOT EXISTS (SELECT 1 FROM orders o
                              WHERE o.o_custkey = c.c_custkey
                                AND o.o_orderdate >= TIMESTAMP '1999-01-01')
            GROUP BY cntrycode ORDER BY cntrycode
        """,
        "q2_min_balance_supplier": """
            WITH pairs AS (
                SELECT DISTINCT p.p_partkey, p.p_name, l.l_suppkey
                FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey
                WHERE p.p_size = 15),
            asup AS (
                SELECT s.s_suppkey, s.s_name, s.s_acctbal, n.n_name
                FROM supplier s
                JOIN nation n ON s.s_nationkey = n.n_nationkey
                JOIN region r ON n.n_regionkey = r.r_regionkey
                WHERE r.r_name = 'ASIA'),
            ranked AS (
                SELECT pr.p_partkey, pr.p_name, a.s_suppkey, a.s_name,
                       a.s_acctbal, a.n_name,
                       row_number() OVER (PARTITION BY pr.p_partkey
                           ORDER BY a.s_acctbal, a.s_suppkey) AS rn
                FROM pairs pr JOIN asup a ON pr.l_suppkey = a.s_suppkey)
            SELECT p_partkey, p_name, s_suppkey, s_name, s_acctbal, n_name
            FROM ranked WHERE rn = 1
            ORDER BY s_acctbal DESC, p_partkey LIMIT 100
        """,
        "q20_excess_shippers": """
            SELECT s.s_suppkey, s.s_name, s.s_acctbal
            FROM supplier s
            WHERE s.s_suppkey IN (
                SELECT l.l_suppkey
                FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey
                WHERE p.p_name LIKE '%gizmo%'
                  AND l.l_shipdate >= TIMESTAMP '1997-01-01'
                  AND l.l_shipdate < TIMESTAMP '1998-01-01'
                GROUP BY l.l_suppkey, l.l_partkey
                HAVING SUM(l.l_quantity) > 40)
            ORDER BY s.s_suppkey
        """,
        "q15_top_supplier": f"""
            WITH rev AS (
                SELECT l_suppkey,
                       {r2.format(x=f'SUM({revenue})')} AS total_revenue
                FROM lineitem
                WHERE l_shipdate >= TIMESTAMP '1997-01-01'
                  AND l_shipdate < TIMESTAMP '1997-04-01'
                GROUP BY l_suppkey)
            SELECT s.s_suppkey, s.s_name, r.total_revenue
            FROM supplier s JOIN rev r ON s.s_suppkey = r.l_suppkey
            WHERE r.total_revenue = (SELECT MAX(total_revenue) FROM rev)
            ORDER BY s.s_suppkey
        """,
        "q9_product_profit": f"""
            -- per-row integer quantization before the sum: see the plan
            SELECT n.n_name AS nation,
                   EXTRACT(YEAR FROM o.o_orderdate) AS o_year,
                   floor(SUM(CAST(floor(({revenue}
                            - 0.1 * p.p_retailprice * l.l_quantity)
                            * 10000 + 0.5) AS BIGINT)) / 100.0 + 0.5) / 100
                       AS sum_profit
            FROM lineitem l
            JOIN part p ON l.l_partkey = p.p_partkey
            JOIN supplier s ON l.l_suppkey = s.s_suppkey
            JOIN orders o ON l.l_orderkey = o.o_orderkey
            JOIN nation n ON s.s_nationkey = n.n_nationkey
            WHERE p.p_name LIKE '%gizmo%'
            GROUP BY nation, o_year
            ORDER BY nation, o_year DESC
        """,
        "q21_sole_late_shipper": """
            WITH li AS (
                SELECT l.l_orderkey, l.l_suppkey,
                       CASE WHEN l.l_shipdate > o.o_orderdate
                                                + INTERVAL 60 DAY
                            THEN 1 ELSE 0 END AS late
                FROM lineitem l
                JOIN orders o ON l.l_orderkey = o.o_orderkey),
            per_os AS (
                SELECT l_orderkey, l_suppkey, MAX(late) AS late
                FROM li GROUP BY 1, 2),
            per_o AS (
                SELECT l_orderkey,
                       COUNT(*) AS n_supp,
                       SUM(late) AS n_late,
                       MAX(CASE WHEN late = 1 THEN l_suppkey END)
                           AS late_supp
                FROM per_os GROUP BY 1)
            SELECT s.s_suppkey, s.s_name, COUNT(*) AS numwait
            FROM per_o p JOIN supplier s ON p.late_supp = s.s_suppkey
            WHERE p.n_supp >= 2 AND p.n_late = 1
            GROUP BY s.s_suppkey, s.s_name
            ORDER BY numwait DESC, s.s_suppkey LIMIT 20
        """,
        "q11_important_parts": f"""
            -- integer cents throughout: the global total is an exact
            -- bigint sum, so the 0.1%-share filter has no double-sum
            -- boundary (mirrors the plan exactly)
            WITH per AS (
                SELECT l_partkey,
                       CAST(floor(SUM({revenue}) * 100 + 0.5) AS BIGINT)
                           AS _cents
                FROM lineitem GROUP BY l_partkey),
            tot AS (SELECT CAST(SUM(_cents) AS BIGINT) AS _tot,
                           COUNT(*) AS _np FROM per)
            SELECT p.p_partkey, p.p_name, per._cents / 100.0 AS part_value
            FROM per JOIN part p ON per.l_partkey = p.p_partkey, tot
            WHERE per._cents * tot._np * 4 > tot._tot * 5
            ORDER BY part_value DESC, p.p_partkey
        """,
        "q12_late_priority_split": """
            SELECT l.l_linestatus,
                   CAST(SUM(CASE WHEN o.o_orderpriority
                                 IN ('1-URGENT', '2-HIGH')
                            THEN 1 ELSE 0 END) AS BIGINT) AS high_line_count,
                   CAST(SUM(CASE WHEN o.o_orderpriority
                                 IN ('1-URGENT', '2-HIGH')
                            THEN 0 ELSE 1 END) AS BIGINT) AS low_line_count
            FROM lineitem l
            JOIN orders o ON l.l_orderkey = o.o_orderkey
            WHERE l.l_shipdate > o.o_orderdate + INTERVAL 45 DAY
            GROUP BY l.l_linestatus ORDER BY l.l_linestatus
        """,
        "stats_correlation": """
            SELECT floor(corr(l_quantity, l_extendedprice) * 10000 + 0.5)
                       / 10000 AS corr_qty_price,
                   floor(corr(l_extendedprice, l_discount) * 10000 + 0.5)
                       / 10000 AS corr_price_disc,
                   floor(corr(l_quantity, l_discount) * 10000 + 0.5)
                       / 10000 AS corr_qty_disc,
                   COUNT(*) AS n_rows
            FROM lineitem
        """,
        "sales_by_employee": sales_by_employee,
        "sales_by_employee_sql": sales_by_employee,
        "sales_rollup": f"""
            -- HAVING count>0: on EMPTY input DuckDB (per the SQL
            -- standard) still emits the () grand-total grouping-set row
            -- while Spark emits nothing; the guard is vacuous on any
            -- non-empty input (every rollup group aggregates >= 1 row)
            -- and aligns the engines on the empty-partition edge
            SELECT COALESCE(p.p_brand, 'ALL') AS brand,
                   COALESCE(p.p_type, 'ALL') AS tipo,
                   ROUND(SUM({revenue}), 2) AS revenue
            FROM lineitem l
            JOIN part p ON l.l_partkey = p.p_partkey
            GROUP BY ROLLUP (p.p_brand, p.p_type)
            HAVING COUNT(*) > 0
            ORDER BY brand, tipo
        """,
        "sales_cube": f"""
            -- same empty-input alignment guard as sales_rollup
            SELECT COALESCE(p.p_brand, 'ALL') AS brand,
                   COALESCE(p.p_type, 'ALL') AS tipo,
                   ROUND(SUM({revenue}), 2) AS revenue
            FROM lineitem l
            JOIN part p ON l.l_partkey = p.p_partkey
            GROUP BY CUBE (p.p_brand, p.p_type)
            HAVING COUNT(*) > 0
            ORDER BY brand, tipo
        """,
        "sales_pivot": """
            -- CAST AS BIGINT: DuckDB integer SUM is HUGEINT (float64 in
            -- pandas), Spark's pivot-count is bigint — align the reprs.
            SELECT o_orderpriority,
                   CAST(SUM(CASE WHEN o_orderstatus = 'F' THEN 1 ELSE 0 END)
                        AS BIGINT) AS n_f,
                   CAST(SUM(CASE WHEN o_orderstatus = 'O' THEN 1 ELSE 0 END)
                        AS BIGINT) AS n_o,
                   CAST(SUM(CASE WHEN o_orderstatus = 'P' THEN 1 ELSE 0 END)
                        AS BIGINT) AS n_p
            FROM orders GROUP BY o_orderpriority ORDER BY o_orderpriority
        """,
        "average_ticket_by_product": f"""
            SELECT p.p_partkey AS id_produto,
                   p.p_name AS nome,
                   COALESCE(ROUND(SUM({revenue}) / COUNT(*), 2), 0.0) AS ticket_medio
            FROM lineitem l
            JOIN part p ON l.l_partkey = p.p_partkey
            GROUP BY p.p_partkey, p.p_name
            ORDER BY TRY_CAST(regexp_extract(p.p_name, '(\\d+)', 1) AS BIGINT) ASC NULLS LAST
        """,
        "sales_by_category": """
            SELECT p.p_type AS categoria,
                   COUNT(*) AS quantidade_vendas
            FROM lineitem l
            JOIN part p ON l.l_partkey = p.p_partkey
            GROUP BY p.p_type
            ORDER BY quantidade_vendas DESC, categoria ASC
        """,
        "top5_employees": f"""
            SELECT * FROM ({sales_by_employee}) t
            ORDER BY valor_total DESC, id_empregado ASC
            LIMIT 5
        """,
        "sales_by_period": f"""
            SELECT strftime(l_shipdate, '%Y-%m') AS periodo,
                   COUNT(*) AS quantidade_vendas,
                   ROUND(SUM({revenue}), 2) AS valor_total
            FROM lineitem
            WHERE l_shipdate IS NOT NULL
            GROUP BY periodo
            ORDER BY periodo
        """,
        "sales_monthly_growth": f"""
            WITH m AS (
                SELECT strftime(l_shipdate, '%Y-%m') AS periodo,
                       ROUND(SUM({revenue}), 2) AS valor_total
                FROM lineitem
                WHERE l_shipdate IS NOT NULL
                GROUP BY periodo)
            SELECT periodo, valor_total,
                   floor(SUM(valor_total) OVER (ORDER BY periodo
                         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                         * 100 + 0.5) / 100 AS cum_total,
                   floor((valor_total - LAG(valor_total) OVER (ORDER BY periodo))
                         / LAG(valor_total) OVER (ORDER BY periodo)
                         * 1000000 + 0.5) / 1000000 AS growth
            FROM m ORDER BY periodo
        """,
        "sales_by_region_nation": f"""
            SELECT r.r_name, n.n_name,
                   COUNT(*) AS n_items,
                   ROUND(SUM({revenue}), 2) AS revenue
            FROM lineitem l
            JOIN orders o ON l.l_orderkey = o.o_orderkey
            JOIN customer c ON o.o_custkey = c.c_custkey
            JOIN nation n ON c.c_nationkey = n.n_nationkey
            JOIN region r ON n.n_regionkey = r.r_regionkey
            WHERE c.c_mktsegment = 'BUILDING'
            GROUP BY r.r_name, n.n_name
            ORDER BY r.r_name, n.n_name
        """,
        "customers_above_avg": """
            WITH pc AS (
                SELECT o_custkey, ROUND(SUM(o_totalprice), 2) AS total
                FROM orders GROUP BY o_custkey)
            SELECT c.c_custkey AS custkey, c.c_name AS name, pc.total
            FROM pc JOIN customer c ON pc.o_custkey = c.c_custkey
            WHERE pc.total > (SELECT AVG(total) FROM pc)
            ORDER BY custkey
        """,
        "top_products_per_brand": f"""
            WITH pp AS (
                SELECT p.p_brand, p.p_partkey,
                       ROUND(SUM({revenue}), 2) AS revenue
                FROM lineitem l
                JOIN part p ON l.l_partkey = p.p_partkey
                GROUP BY p.p_brand, p.p_partkey),
            r AS (SELECT p_brand, p_partkey, revenue,
                         ROW_NUMBER() OVER (PARTITION BY p_brand
                             ORDER BY revenue DESC, p_partkey ASC) AS rank
                  FROM pp)
            SELECT p_brand, p_partkey, revenue, rank
            FROM r WHERE rank <= 3 ORDER BY p_brand, rank
        """,
    }
