"""Golden test: run the full pipeline on the reference's own dirty CSVs
and require bit-for-bit equality with its committed parquet outputs
(the blessed 2025-08-27 run) — including all imputed values.

Skipped when the reference checkout isn't present.
"""

from __future__ import annotations

import os

import duckdb
import pytest

from sales_data_etl_pipeline_spark.operators import ckpt
from sales_data_etl_pipeline_spark.plans import pipeline

REF = "/root/reference"


@pytest.mark.skipif(not os.path.isdir(REF), reason="reference not available")
def test_pipeline_matches_reference_blessed_outputs(spark, tmp_path):
    out = str(tmp_path / "out")
    with ckpt.scope():  # only the sinks are compared
        pipeline.run_pipeline(
            spark,
            f"{REF}/bases-de-dados/produtos.csv",
            f"{REF}/bases-de-dados/vendas.csv",
            f"{REF}/bases-de-dados/empregados.csv",
            out,
        )
    con = duckdb.connect()
    for t, n_expected in [("produtos", 200), ("empregados", 100), ("resumo-vendas", 1000)]:
        mine = f"read_parquet('{out}/{t}.parquet/*.parquet')"
        ref = f"read_parquet('{REF}/parquet-files/{t}.parquet')"
        n = con.execute(f"SELECT count(*) FROM {mine}").fetchone()[0]
        assert n == n_expected, f"{t}: {n} rows"
        diff = con.execute(
            f"SELECT count(*) FROM ((SELECT * FROM {mine} EXCEPT SELECT * FROM {ref})"
            f" UNION ALL (SELECT * FROM {ref} EXCEPT SELECT * FROM {mine}))"
        ).fetchone()[0]
        assert diff == 0, f"{t}: {diff} differing rows vs reference output"
