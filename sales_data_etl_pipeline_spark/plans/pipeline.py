"""End-to-end reference-parity pipeline: the three ET chains + sinks.

Each ``extract_treat_*`` mirrors one reference module
(``extract-transform-data/et_*.py``) as ONE lazy DataFrame plan — where
the reference mutates eagerly step by step with iterrows loops, here
Catalyst sees the whole chain and fuses the narrow stages
(SURVEY.md §3.2). ``run_pipeline`` then materializes each cleaned table
once, as an eager local checkpoint, the way the reference loads each
cleaned table into PostgreSQL once: the sinks, the report queries and
the PDF all read those rows instead of re-running the chains from the
CSVs. The returned checkpoints are kept to the caller's ``ckpt.scope()``
(the CLI opens one around the report).

Run order matches the reference orchestrator (``pipeline.py:71-96``):
produtos → vendas (needs produtos for category enrichment) → empregados
→ parquet sinks → analytics.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from sales_data_etl_pipeline_spark.functions import (
    coerce_numeric,
    is_blank,
    parse_date_br,
)
from sales_data_etl_pipeline_spark.operators import ckpt, cleaning
from sales_data_etl_pipeline_spark.sources.csv import ROW_ORDINAL


def extract_treat_produtos(raw: DataFrame) -> DataFrame:
    """Products ET (reference ``et_produtos.py``): dedup keep-first →
    canonical name → categoria constant fill → price coercion →
    grouped-median price imputation (leave-one-out is vacuous,
    SURVEY.md §7.4 item 3)."""
    order = ROW_ORDINAL if ROW_ORDINAL in raw.columns else None
    df = cleaning.dedup_keep_first(raw, ["id_produto"], order)
    df = cleaning.canonical_name(df, "nome", "Produto", "id_produto")
    df = cleaning.fill_constant(df, "categoria", "Desconhecida")
    df = df.withColumn("preco", coerce_numeric("preco"))
    df = cleaning.fill_group_median(
        df, "preco", "categoria", round_digits=2, round_mode="half_even"
    )
    return df.select("id_produto", "nome", "preco", "categoria")


def extract_treat_vendas(
    raw: DataFrame, produtos: DataFrame, *, fallback_date: str | None = None
) -> DataFrame:
    """Sales ET (reference ``et_vendas.py:432-471``): dedup → 4-stage date
    cascade → unit-value imputation via category join → total derivation.

    ``fallback_date`` pins the reference's ``pd.Timestamp.now()`` stage
    for deterministic tests (SURVEY.md §7.4 item 5).

    Scale note: the produtos join is a broadcast (dimension ≪ fact); the
    dedup aggregate and the date/unit median windows read the same
    single-partition CSV scan, so the chain is one linear plan with no
    shuffle — one job, beside the produtos broadcast. A multi-file fact
    load would shuffle for the dedup and gather for the global-median
    windows.
    """
    order = ROW_ORDINAL if ROW_ORDINAL in raw.columns else None
    df = cleaning.dedup_keep_first(raw, ["id_venda"], order)

    # --- date cascade (A8/A9/F7 + re-parse stage F4) ----------------------
    # Reference semantics, all four stages (et_vendas.py:137-345): BLANK
    # dates cascade through mediana_empregado → mediana_global →
    # data_atual; NON-blank unparseable strings skip the cascade and get
    # the fallback date labeled 'formato_invalido'. Both populations are
    # excluded from the median pools.
    df = df.withColumn(
        "_data_invalida", ~is_blank("data") & parse_date_br("data").isNull()
    )
    df = df.withColumn("data", parse_date_br("data"))
    df = cleaning.fill_date_cascade(
        df,
        "data",
        "id_empregado",
        fallback_date=fallback_date,
        invalid_col="_data_invalida",
    )
    df = df.drop("_data_invalida")

    # --- unit-value imputation (J1 + A7) ----------------------------------
    df = df.withColumn("valor_unitario", coerce_numeric("valor_unitario"))
    df = df.join(
        F.broadcast(produtos.select("id_produto", "categoria")),
        "id_produto",
        "left",
    )
    df = cleaning.fill_group_median(
        df, "valor_unitario", "categoria", round_digits=2, round_mode="half_even"
    )
    df = df.drop("categoria")

    # --- total derivation (P6) --------------------------------------------
    df = df.withColumn("valor_total", coerce_numeric("valor_total"))
    df = cleaning.derive_if_null(
        df,
        "valor_total",
        F.round(F.col("quantidade") * F.col("valor_unitario"), 2),
    )
    return df.select(
        "id_venda",
        "data",
        "id_produto",
        "id_empregado",
        "quantidade",
        "valor_unitario",
        "valor_total",
        "data_imputada",
        "metodo_imputacao",
    )


def extract_treat_empregados(raw: DataFrame) -> DataFrame:
    """Employees ET (reference ``et_empregados.py``): dedup → sequential ID
    backfill → name/cargo fills → age coercion → grouped-median age
    imputation (rounded to int) → clamp to [18, 70] with flag."""
    order = ROW_ORDINAL if ROW_ORDINAL in raw.columns else None
    df = raw.withColumn("id_empregado", coerce_numeric("id_empregado", "long"))
    # Reference parity: pandas drop_duplicates(subset=['id_empregado'])
    # treats NaN keys as EQUAL (et_empregados.py dedup), so of several
    # blank-id employees only the first survives — the dedup's groupBy
    # pools NULL keys into one group too, keeping its first row.
    df = cleaning.dedup_keep_first(df, ["id_empregado"], order)
    if order:
        df = cleaning.backfill_sequential_ids(df, "id_empregado", order)
    else:
        df = cleaning.backfill_sequential_ids(
            df.withColumn("_ord", F.monotonically_increasing_id()), "id_empregado", "_ord"
        ).drop("_ord")
    df = cleaning.fill_missing_name(df, "nome", "Funcionário", "id_empregado")
    df = cleaning.fill_constant(df, "cargo", "Não Informado")
    df = df.withColumn("idade", coerce_numeric("idade"))
    df = cleaning.fill_group_median(
        df,
        "idade",
        "cargo",
        flag_col="idade_imputada",
        method_col="metodo_imputacao_idade",
        group_method="mediana_cargo",
        round_digits=0,
        round_mode="half_even",
    )
    df = cleaning.clamp_range(df, "idade", 18, 70, flag_col="idade_ajustada")
    df = df.withColumn("idade", F.col("idade").cast("long"))
    return df.select(
        "id_empregado",
        "nome",
        "cargo",
        "idade",
        "idade_imputada",
        "metodo_imputacao_idade",
        "idade_ajustada",
    )


def validate_inputs(*paths: str) -> None:
    """S2 — input existence check (reference ``pipeline.py:41-48``,
    ``et_produtos.py:32-43``): fail fast with a clear error before any
    Spark job is launched."""
    import os

    missing = [p for p in paths if not os.path.exists(p)]
    if missing:
        raise FileNotFoundError(f"input file(s) not found: {', '.join(missing)}")


def run_pipeline(
    spark: SparkSession,
    produtos_csv: str,
    vendas_csv: str,
    empregados_csv: str,
    output_dir: str,
    *,
    fallback_date: str | None = None,
) -> dict[str, DataFrame]:
    """Full ETL run (reference ``pipeline.py:71-96``): ET all three tables,
    write parquet sinks (vendas renamed 'resumo-vendas' per reference
    ``save_data_parquet.py:110-114``), return the clean DataFrames.

    Each cleaned table is an eager checkpoint, taken in run order
    (produtos first: vendas broadcast-joins it), so the sinks and every
    later query read rows cleaned once, over a truncated lineage. The
    returned frames are those checkpoints, kept to the caller's
    ``ckpt.scope()``: its exit frees them (with no scope open the
    ContextCleaner does, once the caller drops them). If a step raises,
    this call's own scope releases every checkpoint taken so far before
    the error propagates."""
    from sales_data_etl_pipeline_spark import schemas
    from sales_data_etl_pipeline_spark.sources.csv import read_csv_with_ordinal
    from sales_data_etl_pipeline_spark.sources.parquet import write_parquet

    validate_inputs(produtos_csv, vendas_csv, empregados_csv)

    with ckpt.scope():
        produtos = ckpt.checkpoint(
            extract_treat_produtos(
                read_csv_with_ordinal(spark, produtos_csv, schemas.PRODUTOS_RAW)
            )
        )
        vendas = ckpt.checkpoint(
            extract_treat_vendas(
                read_csv_with_ordinal(spark, vendas_csv, schemas.VENDAS_RAW),
                produtos,
                fallback_date=fallback_date,
            )
        )
        empregados = ckpt.checkpoint(
            extract_treat_empregados(
                read_csv_with_ordinal(spark, empregados_csv, schemas.EMPREGADOS_RAW)
            )
        )

        write_parquet(produtos, f"{output_dir}/produtos.parquet")
        write_parquet(
            cleaning.drop_audit_columns(vendas), f"{output_dir}/resumo-vendas.parquet"
        )
        write_parquet(
            cleaning.drop_audit_columns(empregados), f"{output_dir}/empregados.parquet"
        )
        ckpt.keep(produtos, vendas, empregados)
    return {"produtos": produtos, "vendas": vendas, "empregados": empregados}


def main() -> None:
    """CLI entry (reference ``python pipeline.py``): ET + sinks + report.

    Usage: python -m sales_data_etl_pipeline_spark.plans.pipeline \
        <produtos.csv> <vendas.csv> <empregados.csv> <output_dir>
    """
    import sys

    from sales_data_etl_pipeline_spark import report
    from sales_data_etl_pipeline_spark.catalog import timed_step
    from sales_data_etl_pipeline_spark.plans import analytics
    from sales_data_etl_pipeline_spark.session import get_spark

    produtos_csv, vendas_csv, empregados_csv, out_dir = sys.argv[1:5]
    spark = get_spark("sales-pipeline")
    with timed_step("pipeline"), ckpt.scope():
        dfs = run_pipeline(spark, produtos_csv, vendas_csv, empregados_csv, out_dir)
        results = {
            "sales_by_employee": analytics.sales_by_employee(
                dfs["vendas"], dfs["empregados"]
            ),
            "average_ticket_by_product": analytics.average_ticket_by_product(
                dfs["vendas"], dfs["produtos"]
            ),
            "sales_by_category": analytics.sales_by_category(
                dfs["vendas"], dfs["produtos"]
            ),
            "top5_employees": analytics.top5_employees(
                dfs["vendas"], dfs["empregados"]
            ),
            "sales_by_period": analytics.sales_by_period(dfs["vendas"]),
        }
        path = report.save_report(results, f"{out_dir}/relatorio-final")
        print(f"report: {path}")


if __name__ == "__main__":
    main()
