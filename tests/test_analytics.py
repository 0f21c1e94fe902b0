"""Tests for the analytics layer (reference queries A1–A5, O1–O5).

Fixture mirrors the semantic traps in the reference data: NULL
valor_total rows (A2 sum/count vs avg), NULL dates (A5 filter),
employees with no sales (inner-join drop), name-number sort with a
non-matching name (O5 NULLS LAST).
"""

from __future__ import annotations

import datetime as dt
import re

import pytest

from sales_data_etl_pipeline_spark.plans import analytics
from sales_data_etl_pipeline_spark.schemas import EMPREGADOS, PRODUTOS, VENDAS


@pytest.fixture(scope="module")
def star(spark):
    produtos = spark.createDataFrame(
        [
            (1, "Produto 1", 10.0, "Roupas"),
            (2, "Produto 2", 20.0, "Livros"),
            (3, "Sem Numero", 30.0, "Livros"),
        ],
        PRODUTOS,
    )
    empregados = spark.createDataFrame(
        [
            (1, "Funcionário 1", "Vendedor", 30),
            (2, "Funcionário 2", "Gerente", 40),
            (3, "Funcionário 3", "Vendedor", 50),  # no sales
        ],
        EMPREGADOS,
    )
    d = dt.date
    vendas = spark.createDataFrame(
        [
            (1, d(2025, 1, 10), 1, 1, 2, 10.0, 20.0),
            (2, d(2025, 1, 20), 2, 1, 1, 20.0, 20.0),
            (3, d(2025, 2, 5), 2, 2, 3, 20.0, 60.0),
            (4, d(2025, 2, 6), 3, 2, 1, 30.0, None),  # NULL total
            (5, None, 1, 1, 1, 10.0, 10.0),  # NULL date
        ],
        VENDAS,
    )
    return produtos, empregados, vendas


def test_sales_by_employee(star):
    produtos, empregados, vendas = star
    rows = analytics.sales_by_employee(vendas, empregados).collect()
    got = {(r.id_empregado, r.valor_total) for r in rows}
    assert got == {(1, 50.0), (2, 60.0)}  # employee 3 dropped (inner join)
    assert rows[0].id_empregado == 2  # ordered desc


def test_average_ticket_sum_count_not_avg(star):
    produtos, empregados, vendas = star
    rows = analytics.average_ticket_by_product(vendas, produtos).collect()
    by_id = {r.id_produto: r.ticket_medio for r in rows}
    # product 2: (20+60)/2 = 40; product 3: NULL total counts in denominator
    # → sum 0 (NULL skipped by SUM) / 1 row... SUM of single NULL is NULL →
    # coalesce → 0.0, which is what sum/count+coalesce gives (avg would too
    # here, but the denominator distinction shows on product 1).
    assert by_id[2] == 40.0
    assert by_id[3] == 0.0
    assert by_id[1] == 15.0  # (20+10)/2
    # O5 ordering: numbered names ascending, non-numbered last
    assert [r.id_produto for r in rows] == [1, 2, 3]


def test_sales_by_category(star):
    produtos, empregados, vendas = star
    rows = analytics.sales_by_category(vendas, produtos).collect()
    got = {(r.categoria, r.quantidade_vendas) for r in rows}
    assert got == {("Roupas", 2), ("Livros", 3)}
    assert rows[0].categoria == "Livros"


def test_sales_by_category_ties_in_category_order(spark):
    """Tied counts list in ``categoria`` order. The sort keys are
    asserted too: unordered ties can come out in name order by chance."""
    produtos = spark.createDataFrame(
        [(i, f"Produto {i}", 1.0, c) for i, c in enumerate(["Zeta", "Alfa", "Mu", "Top"], 1)],
        PRODUTOS,
    )
    sold = [1, 1, 2, 2, 3, 3, 4, 4, 4]
    vendas = spark.createDataFrame(
        [(i, dt.date(2025, 1, 1), p, 1, 1, 1.0, 1.0) for i, p in enumerate(sold, 1)],
        VENDAS,
    )
    df = analytics.sales_by_category(vendas, produtos)
    got = [(r.categoria, r.quantidade_vendas) for r in df.collect()]
    assert got == [("Top", 3), ("Alfa", 2), ("Mu", 2), ("Zeta", 2)]
    sort = df._jdf.queryExecution().analyzed().toString().splitlines()[0]
    assert re.sub(r"#\d+L?", "", sort) == (
        "Sort [quantidade_vendas DESC NULLS LAST, categoria ASC NULLS FIRST], true"
    )


def test_top5_limit(star):
    produtos, empregados, vendas = star
    assert analytics.top5_employees(vendas, empregados).count() == 2


def test_sales_by_period_null_dates_excluded(star):
    produtos, empregados, vendas = star
    rows = analytics.sales_by_period(vendas).collect()
    assert [r.periodo for r in rows] == ["2025-01", "2025-02"]
    by_p = {r.periodo: (r.quantidade_vendas, r.valor_total) for r in rows}
    assert by_p["2025-01"] == (2, 40.0)
    assert by_p["2025-02"] == (2, 60.0)  # NULL total sums away, row still counted
