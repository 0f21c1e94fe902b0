"""The three workloads: their inputs, one pass, and the output checks.

A pass is a closed loop: one operation at a time, each started when the
previous one returned. ``run_pass(spark, runner, check)`` runs one pass
through ``runner.op``; with ``check=True`` every result is collected to
pandas (the first pass), otherwise each result is computed in full into
Spark's ``noop`` sink. ``verify(spark, results)`` then compares the
collected results against DuckDB, outside any timed region, and returns
the names of the operations whose output was wrong.
"""

from __future__ import annotations

import os
import random

import duckdb

import gen

FALLBACK_DATE = "2025-06-30"  # pins the cleaning chain's "current date" stage

CATALOG_SQL = [
    # the reference's 5 report queries in the test-table form
    "sales_by_employee", "average_ticket_by_product", "sales_by_category",
    "top5_employees", "sales_by_period",
    # TPC-H shapes: wide aggregate, join chains, outer join, IN-subquery
    "q1_pricing_summary", "q3_unshipped_orders", "q5_local_supplier_volume",
    "q13_customer_distribution", "q18_large_orders",
    # grouping sets and pivot
    "sales_rollup", "sales_cube", "sales_pivot",
]
CATALOG_ITERATIVE = [
    "graph_label_propagation",    # dedup + ckpt: MinHash LSH graph, 2 checkpointed iterations
    "similarity_topk_ivfpq",      # similarity + embeddings: IVF-PQ probe and scan
    "similarity_topk",            # similarity: exact cosine top-k through Arrow
    "text_bpe_apply_oov",         # text: batched BPE merges with mid-chain checkpoints
    "multimodal_dhash",           # multimodal: image synthesis and gradient hash
    "corpus_token_shards",        # corpus: tokenize and shard
    "streaming_windowed_counts",  # streaming.events: micro-batches with state
]
SQL_TABLES = ("region", "nation", "customer", "supplier", "part", "orders", "lineitem")
ITERATIVE_TABLES = ("documents", "embeddings", "events")


def noop(df) -> None:
    """Compute a result in full without collecting it (``count()`` would
    let Catalyst prune the columns and aggregates the result needs)."""
    df.write.format("noop").mode("overwrite").save()


def collect(df):
    return df.toPandas()


def warm(spark, cpus: int) -> None:
    """First SQL job and first Arrow crossing: starts the Python workers."""
    (spark.range(cpus * 4, numPartitions=cpus)
     .mapInPandas(lambda it: it, "id long")
     .write.format("noop").mode("overwrite").save())


class Catalog:
    """Entries of the ``queries()`` catalog over a generated star schema."""

    sf = 0.01

    def __init__(self, names: list[str], tables: tuple[str, ...], seed: int, tmp: str,
                 shuffle: bool):
        self.seed = seed
        self.star = os.path.join(tmp, "inputs")
        self.tables = tables
        self.names = list(names)
        if shuffle:
            random.Random(seed).shuffle(self.names)
        self.csv_rows = self.csv_bytes = 0  # no CSV input

    def make_inputs(self) -> None:
        gen.write_star(self.star, self.seed, self.sf, self.tables)

    def run_pass(self, spark, runner, check: bool) -> dict:
        import __spark_entry__ as entry

        queries = entry.queries()
        action = collect if check else noop
        results = {}
        for name in self.names:
            fn = queries[name]
            owner = "analytics" if fn.__module__.endswith(".analytics") else None
            out = runner.op(name, lambda fn=fn: fn(spark, self.star), action, owner)
            if out is not None:
                results[name] = out
        return results

    def verify(self, spark, results: dict) -> list[str]:
        import __spark_entry__ as entry
        from check_correctness import canon_pandas

        oracles = entry.oracle_sql()
        con = duckdb.connect()
        for t in self.tables:
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{self.star}/{t}.parquet')")
        wrong = []
        for name, got in results.items():
            want = con.execute(oracles[name]).fetchdf()
            if (len(got) != len(want) or sorted(got.columns) != sorted(want.columns)
                    or canon_pandas(got) != canon_pandas(want)):
                wrong.append(name)
        con.close()
        return wrong


# --- etl_report ---------------------------------------------------------------

REPORT_SQL = {
    "sales_by_employee": """
        SELECT v.id_empregado, e.nome,
               COALESCE(ROUND(SUM(v.valor_total), 2), 0.0) AS valor_total
        FROM vendas v JOIN empregados e USING (id_empregado) GROUP BY ALL""",
    "average_ticket_by_product": """
        SELECT v.id_produto, p.nome,
               COALESCE(ROUND(SUM(v.valor_total) / COUNT(v.id_venda), 2), 0.0)
                   AS ticket_medio
        FROM vendas v JOIN produtos p USING (id_produto) GROUP BY ALL""",
    "sales_by_category": """
        SELECT p.categoria, COUNT(v.id_venda) AS quantidade_vendas
        FROM vendas v JOIN produtos p USING (id_produto) GROUP BY ALL""",
    "top5_employees": """
        SELECT v.id_empregado, e.nome,
               COALESCE(ROUND(SUM(v.valor_total), 2), 0.0) AS valor_total
        FROM vendas v JOIN empregados e USING (id_empregado) GROUP BY ALL
        ORDER BY valor_total DESC, id_empregado LIMIT 5""",
    "sales_by_period": """
        SELECT strftime(data, '%Y-%m') AS periodo,
               COUNT(id_venda) AS quantidade_vendas,
               ROUND(SUM(valor_total), 2) AS valor_total
        FROM vendas WHERE data IS NOT NULL GROUP BY ALL""",
}

#: Money columns: Spark rounds a .xx5 tie on the shortest decimal form and
#: DuckDB on the binary value, so the two engines may differ by one cent.
CENT = 0.0100001


def same_rows(got, want) -> bool:
    """Order-insensitive equality; float columns within one cent."""
    if len(got) != len(want) or sorted(got.columns) != sorted(want.columns):
        return False
    cols = sorted(got.columns)
    floats = [c for c in cols if got[c].dtype.kind == "f"]
    keys = [c for c in cols if c not in floats] + floats
    a = got[cols].sort_values(keys).reset_index(drop=True)
    b = want[cols].sort_values(keys).reset_index(drop=True)
    for c in cols:
        if c in floats:
            if ((a[c] - b[c].astype(float)).abs() > CENT).any():
                return False
        elif [str(x) for x in a[c]] != [str(x) for x in b[c]]:
            return False
    return True


class EtlReport:
    """The reference's path: dirty CSVs, cleaning, Parquet sinks, report."""

    n_vendas = 10_000

    def __init__(self, seed: int, tmp: str):
        self.seed = seed
        self.csv_dir = os.path.join(tmp, "inputs")
        self.out_dir = os.path.join(tmp, "out")
        self.meta: dict = {}
        self.csv_rows = self.csv_bytes = 0

    def make_inputs(self) -> None:
        self.meta = gen.write_dirty_csvs(self.csv_dir, self.seed, self.n_vendas)
        self.csv_rows = self.csv_bytes = 0
        for t in ("produtos", "vendas", "empregados"):
            path = f"{self.csv_dir}/{t}.csv"
            self.csv_bytes += os.path.getsize(path)
            with open(path, encoding="utf-8") as fh:
                self.csv_rows += sum(1 for _ in fh) - 1

    def run_pass(self, spark, runner, check: bool) -> dict:
        from sales_data_etl_pipeline_spark import report
        from sales_data_etl_pipeline_spark.plans import analytics, pipeline

        csv = [f"{self.csv_dir}/{t}.csv" for t in ("produtos", "vendas", "empregados")]
        dfs = runner.op(
            "run_pipeline",
            lambda: pipeline.run_pipeline(spark, *csv, self.out_dir, fallback_date=FALLBACK_DATE),
            query=False,
        )
        if dfs is None:
            return {}
        v, p, e = dfs["vendas"], dfs["produtos"], dfs["empregados"]
        queries = {
            "sales_by_employee": lambda: analytics.sales_by_employee(v, e),
            "average_ticket_by_product": lambda: analytics.average_ticket_by_product(v, p),
            "sales_by_category": lambda: analytics.sales_by_category(v, p),
            "top5_employees": lambda: analytics.top5_employees(v, e),
            "sales_by_period": lambda: analytics.sales_by_period(v),
        }
        action = collect if check else noop
        results = {"_clean": dfs}
        for name, build in queries.items():
            out = runner.op(name, build, action, "analytics", "analytics.report5_s")
            if out is not None:
                results[name] = out
        runner.op("save_report", lambda: report.save_report(
            {name: build() for name, build in queries.items()},
            f"{self.out_dir}/relatorio-final"), metric="report.save_s", query=False)
        return results

    def verify(self, spark, results: dict) -> list[str]:
        from pyspark.sql import functions as F

        dfs = results.get("_clean")
        if dfs is None:
            return []
        con = duckdb.connect()
        for t, sink in (("produtos", "produtos"), ("vendas", "resumo-vendas"),
                        ("empregados", "empregados")):
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM "
                        f"read_parquet('{self.out_dir}/{sink}.parquet/*.parquet')")
        one = lambda sql: con.execute(sql).fetchone()[0]  # noqa: E731
        m = self.meta
        blank_ids = ",".join(map(str, m["blank_value_ids"])) or "NULL"
        v_flags = dfs["vendas"].agg(F.sum(F.col("data_imputada").cast("int"))).first()[0]
        e_flags = dfs["empregados"].agg(F.sum(F.col("idade_imputada").cast("int"))).first()[0]
        invariants = {
            # zero row loss: only the duplicate copies are dropped
            "rows_produtos": one("SELECT count(*) FROM produtos") == m["produtos"],
            "rows_empregados": one("SELECT count(*) FROM empregados") == m["empregados"],
            "rows_vendas": one("SELECT count(*) FROM vendas") == m["vendas"],
            # imputation flags count exactly the blanks
            "date_flags": v_flags == m["blank_dates"],
            "age_flags": e_flags == m["blank_ages"],
            # nothing left blank, ages clamped
            "no_nulls": one("SELECT count(*) FROM vendas WHERE data IS NULL "
                            "OR valor_unitario IS NULL OR valor_total IS NULL") == 0,
            "ages": one("SELECT count(*) FROM empregados "
                        "WHERE idade IS NULL OR idade < 18 OR idade > 70") == 0,
            # blank totals derived as quantidade x valor_unitario
            "derived_totals": one(
                "SELECT count(*) FROM vendas WHERE id_venda IN (" + blank_ids + ") "
                "AND abs(valor_total - round(quantidade * valor_unitario, 2)) > 1e-9") == 0,
        }
        wrong = [f"invariant:{k}" for k, ok in invariants.items() if not ok]
        for name, sql in REPORT_SQL.items():
            if name in results and not same_rows(results[name], con.execute(sql).fetchdf()):
                wrong.append(name)
        con.close()
        return wrong


def make(workload: str, seed: int, tmp: str):
    if workload == "etl_report":
        return EtlReport(seed, tmp)
    if workload == "catalog_sql":
        return Catalog(CATALOG_SQL, SQL_TABLES, seed, tmp, shuffle=True)
    if workload == "catalog_iterative":
        # A fixed order: the first entry of a pass pays a warm-up cost of
        # its own size, so a seeded order would add spread across seeds.
        return Catalog(CATALOG_ITERATIVE, ITERATIVE_TABLES, seed, tmp, shuffle=False)
    raise ValueError(f"unknown workload {workload!r}")


WORKLOADS = ("etl_report", "catalog_sql", "catalog_iterative")
