"""Cleaning operators exercised on the driver testdata (oracle-checked).

The testdata has no dirt, so each demo injects deterministic dirt
(key-modulus NULLing — same expression in the Spark plan and the DuckDB
oracle) and then cleans it with the corresponding operator from
``operators.cleaning``. This gives every cleaning operator from
SURVEY.md §2.2/2.5 a hash-checked correctness entry.

Each function: ``(spark, sf_dir) -> DataFrame``.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from sales_data_etl_pipeline_spark.functions import coerce_numeric
from sales_data_etl_pipeline_spark.operators import cleaning
from sales_data_etl_pipeline_spark.sources.tables import load_testdata


# --- P2/P3/P4/P5/P7: dimension-normalization chain ---------------------------
# r12 consolidation (r11 verdict #5): the former micro-gates
# clean_fill_constant, clean_canonical_name, clean_fill_missing_name,
# clean_coerce_numeric and clean_clamp_range fold into this ONE
# composition — the reference's et_empregados/et_produtos dimension-
# cleaning shape (load → constant fill → canonical rewrite → missing-
# name fill → numeric coercion → range clamp) run as one lazy plan.
# Each constituent operator keeps its own unit tests in
# tests/test_cleaning.py; the gate verifies the composed semantics.


def clean_normalize_chain(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Five §2.2 projection cleaners composed on ONE customer scan
    (P2 constant fill, P4 missing-name fill, P3 canonical rewrite,
    P5 numeric coercion, P7 range clamp). All five are per-row
    projections, so the composed plan is a single WholeStageCodegen
    over one parquet scan — zero shuffles, the shape the reference
    runs eagerly stage by stage (``et_empregados.py``/
    ``et_produtos.py``)."""
    cust = load_testdata(spark, sf_dir, ("customer",))["customer"]
    dirty = cust.select(
        "c_custkey",
        F.when(F.col("c_custkey") % 5 == 0, F.lit(None))
        .otherwise(F.col("c_mktsegment"))
        .alias("segmento"),
        F.when(F.col("c_custkey") % 7 == 0, F.lit("  "))
        .otherwise(F.col("c_name"))
        .alias("nome"),
        # the driver customer table carries no address column; the
        # canonical rewrite (P3) is UNCONDITIONAL, so the pre-image is
        # immaterial — a NULL placeholder exercises it identically
        F.lit(None).cast("string").alias("endereco"),
        F.when(F.col("c_custkey") % 10 == 0, F.lit("N/A"))
        .otherwise(F.col("c_nationkey").cast("string"))
        .alias("raw"),
        "c_acctbal",
    )
    df = cleaning.fill_constant(dirty, "segmento", "Desconhecida")
    df = cleaning.fill_missing_name(df, "nome", "Cliente", "c_custkey")
    df = cleaning.canonical_name(df, "endereco", "Endereco", "c_custkey")
    df = df.withColumn("valor", coerce_numeric("raw")).drop("raw")
    df = cleaning.clamp_range(
        df, "c_acctbal", 0.0, 5000.0, flag_col="ajustado"
    )
    return df.select(
        "c_custkey", "segmento", "nome", "endereco", "valor",
        "c_acctbal", "ajustado",
    )


# --- W2/W3: key-repair chain -------------------------------------------------
# r12 consolidation: the former micro-gates clean_duplicate_keys (W3)
# and clean_sequential_ids (W2) fold into one detect→repair→annotate
# composition. (W1 keep-first dedup, P6 derived column, A6–A10 median
# imputations and the F7 date cascade live in clean_et_chain.)


def clean_keys_chain(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Key repair as the reference runs it, composed: inject NULL ids
    (s_suppkey % 9) and COLLIDING ids (% 11 → all become 1), detect the
    collisions with the W3 duplicate-key report, backfill the NULLs
    max+1, max+2… in name order (W2), and annotate every surviving row
    with whether its id was in conflict. One supplier scan feeding two
    consumers (the dup-key aggregate and the repair branch) — the
    aggregate side is a map-side-combinable count, the repair side is
    the W2 ordered window (max id and running NULL count)."""
    sup = load_testdata(spark, sf_dir, ("supplier",))["supplier"]
    dirty = sup.select(
        F.when(F.col("s_suppkey") % 9 == 0, F.lit(None))
        .when(F.col("s_suppkey") % 11 == 0, F.lit(1))
        .otherwise(F.col("s_suppkey"))
        .alias("id_empregado"),
        F.col("s_name").alias("nome"),
    )
    report = (
        cleaning.duplicate_keys(dirty, ["id_empregado"])
        .filter(F.col("id_empregado").isNotNull())
        .select(F.col("id_empregado").alias("_dup_id"))
    )
    repaired = cleaning.backfill_sequential_ids(dirty, "id_empregado", "nome")
    return (
        repaired.join(
            F.broadcast(report),
            repaired.id_empregado == F.col("_dup_id"),
            "left",
        )
        .select(
            "id_empregado",
            "nome",
            F.col("_dup_id").isNotNull().alias("conflito"),
        )
    )


# --- composed ET chain (the §3.2 shape at testdata scale) -------------------


def clean_et_chain(
    spark: SparkSession, sf_dir: str, *, exact: bool = True
) -> DataFrame:
    """The full vendas-ET composition on testdata: keep-first dedup →
    date cascade → grouped unit-value median via dimension join → total
    derivation. One lazy plan, mirroring ``plans.pipeline.extract_treat_
    vendas`` — the chain the reference runs eagerly stage by stage
    (``et_vendas.py:432-471``).

    The medians are windows over the deduplicated rows, so the chain is
    one plan with one scan per table and no side aggregate to re-run:
    the group windows shuffle by their key and the global ones gather
    the rows into one partition. ``exact=False`` switches both median
    imputations to ``approx_percentile`` (t-digest), a bounded sketch
    per window partition in place of exact ``percentile``'s sorted
    value buffer; under a window the sketch does not combine
    map-side."""
    t = load_testdata(spark, sf_dir, ("lineitem", "part"))
    li = t["lineitem"].select(
        "l_orderkey",
        "l_linenumber",
        "l_suppkey",
        "l_partkey",
        F.col("l_quantity").alias("quantidade"),
        F.when(F.col("l_orderkey") % 13 == 0, F.lit(None))
        .otherwise(F.col("l_shipdate").cast("date"))
        .alias("data"),
        F.when(F.col("l_orderkey") % 7 == 0, F.lit(None))
        .otherwise(F.col("l_extendedprice") / F.col("l_quantity"))
        .alias("valor_unitario"),
        F.when(F.col("l_orderkey") % 7 == 0, F.lit(None))
        .otherwise(F.col("l_extendedprice"))
        .alias("valor_total"),
    )
    df = cleaning.dedup_keep_first(
        li, ["l_orderkey"], ["l_linenumber", "l_partkey", "quantidade"]
    )
    df = cleaning.fill_date_cascade(
        df, "data", "l_suppkey", fallback_date="2000-01-01", exact=exact
    )
    df = df.join(
        F.broadcast(t["part"].select(F.col("p_partkey"), F.col("p_type"))),
        df.l_partkey == F.col("p_partkey"),
        "left",
    ).drop("p_partkey")
    df = cleaning.fill_group_median(
        df, "valor_unitario", "p_type", round_digits=2, exact=exact
    )
    df = df.drop("p_type")
    df = cleaning.derive_if_null(
        df, "valor_total", F.round(F.col("quantidade") * F.col("valor_unitario"), 2)
    )
    return df.select(
        "l_orderkey", "l_linenumber", "l_suppkey", "l_partkey",
        "quantidade", "data", "valor_unitario", "valor_total",
        "data_imputada", "metodo_imputacao",
    )


# r12 consolidation (r11 verdict #5): the registry carries THREE
# composition gates instead of eleven micro-gates + one chain — same
# operator coverage (W1/P6/A6-A10/F7 in clean_et_chain, P2-P5/P7 in
# clean_normalize_chain, W2/W3 in clean_keys_chain), each constituent
# still unit-tested in tests/test_cleaning.py.
QUERIES = {
    "clean_et_chain": clean_et_chain,
    "clean_normalize_chain": clean_normalize_chain,
    "clean_keys_chain": clean_keys_chain,
}


ORACLES = {
    "clean_et_chain": """
        WITH dirty AS (
            SELECT l_orderkey, l_linenumber, l_suppkey, l_partkey,
                   l_quantity AS quantidade,
                   CASE WHEN l_orderkey % 13 = 0 THEN NULL
                        ELSE CAST(l_shipdate AS DATE) END AS data,
                   CASE WHEN l_orderkey % 7 = 0 THEN NULL
                        ELSE l_extendedprice / l_quantity END AS valor_unitario,
                   CASE WHEN l_orderkey % 7 = 0 THEN NULL
                        ELSE l_extendedprice END AS valor_total
            FROM lineitem),
        dedup AS (
            SELECT * FROM dirty
            QUALIFY row_number() OVER (PARTITION BY l_orderkey
                ORDER BY l_linenumber, l_partkey, quantidade) = 1),
        dgrp AS (SELECT l_suppkey,
                        median(date_diff('day', DATE '1970-01-01', data)) AS grp_days
                 FROM dedup WHERE data IS NOT NULL GROUP BY 1),
        dglob AS (SELECT median(date_diff('day', DATE '1970-01-01', data)) AS glob_days
                  FROM dedup WHERE data IS NOT NULL),
        dated AS (
            SELECT d.*,
                   CASE WHEN d.data IS NULL THEN
                        COALESCE(DATE '1970-01-01' + CAST(floor(g.grp_days) AS INT),
                                 DATE '1970-01-01' + CAST(floor(gl.glob_days) AS INT),
                                 DATE '2000-01-01')
                   ELSE d.data END AS data_f,
                   (d.data IS NULL) AS data_imputada,
                   CASE WHEN d.data IS NULL THEN
                        CASE WHEN g.grp_days IS NOT NULL THEN 'mediana_empregado'
                             WHEN gl.glob_days IS NOT NULL THEN 'mediana_global'
                             ELSE 'data_atual' END
                   END AS metodo_imputacao
            FROM dedup d LEFT JOIN dgrp g USING (l_suppkey) CROSS JOIN dglob gl),
        joined AS (SELECT dated.*, p.p_type
                   FROM dated LEFT JOIN part p ON dated.l_partkey = p.p_partkey),
        ugrp AS (SELECT p_type, median(valor_unitario) AS grp_med
                 FROM joined GROUP BY 1),
        uglob AS (SELECT median(valor_unitario) AS glob_med FROM joined),
        unitfix AS (
            SELECT j.*,
                   CASE WHEN j.valor_unitario IS NULL
                        THEN ROUND(COALESCE(g.grp_med, gl.glob_med), 2)
                        ELSE j.valor_unitario END AS vu_f
            FROM joined j LEFT JOIN ugrp g USING (p_type) CROSS JOIN uglob gl)
        SELECT l_orderkey, l_linenumber, l_suppkey, l_partkey, quantidade,
               data_f AS data, vu_f AS valor_unitario,
               CASE WHEN valor_total IS NULL THEN ROUND(quantidade * vu_f, 2)
                    ELSE valor_total END AS valor_total,
               data_imputada, metodo_imputacao
        FROM unitfix
    """,
    "clean_normalize_chain": """
        WITH dirty AS (
            SELECT c_custkey,
                   CASE WHEN c_custkey % 5 = 0 THEN NULL
                        ELSE c_mktsegment END AS segmento,
                   CASE WHEN c_custkey % 7 = 0 THEN '  '
                        ELSE c_name END AS nome,
                   CASE WHEN c_custkey % 10 = 0 THEN 'N/A'
                        ELSE CAST(c_nationkey AS VARCHAR) END AS raw,
                   c_acctbal
            FROM customer)
        SELECT c_custkey,
               CASE WHEN segmento IS NULL OR trim(segmento) = ''
                    THEN 'Desconhecida' ELSE segmento END AS segmento,
               CASE WHEN nome IS NULL OR trim(nome) = ''
                    THEN 'Cliente ' || CAST(c_custkey AS VARCHAR)
                    ELSE nome END AS nome,
               'Endereco ' || CAST(c_custkey AS VARCHAR) AS endereco,
               TRY_CAST(raw AS DOUBLE) AS valor,
               GREATEST(LEAST(c_acctbal, 5000.0), 0.0) AS c_acctbal,
               (c_acctbal < 0.0 OR c_acctbal > 5000.0) AS ajustado
        FROM dirty
    """,
    "clean_keys_chain": """
        WITH dirty AS (
            SELECT CASE WHEN s_suppkey % 9 = 0 THEN NULL
                        WHEN s_suppkey % 11 = 0 THEN 1
                        ELSE s_suppkey END AS id_empregado,
                   s_name AS nome
            FROM supplier),
        mx AS (SELECT COALESCE(MAX(id_empregado), 0) AS m FROM dirty),
        repaired AS (
            SELECT id_empregado, nome FROM dirty
            WHERE id_empregado IS NOT NULL
            UNION ALL
            SELECT mx.m + row_number() OVER (ORDER BY nome) AS id_empregado,
                   nome
            FROM dirty, mx WHERE id_empregado IS NULL),
        dups AS (
            SELECT id_empregado AS dup_id FROM dirty
            WHERE id_empregado IS NOT NULL
            GROUP BY 1 HAVING COUNT(*) > 1)
        SELECT r.id_empregado, r.nome,
               (d.dup_id IS NOT NULL) AS conflito
        FROM repaired r LEFT JOIN dups d ON r.id_empregado = d.dup_id
    """,
}
