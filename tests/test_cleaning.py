"""Cleaning-layer tests: operator units + full dirty-CSV pipeline parity.

The pipeline test regenerates the reference's dirt profile (FIXTURES.md §4)
as CSV files and asserts the invariants the reference verifies via logs
(SURVEY.md §5): zero row loss, flag counts == blank counts, clamp bounds,
dedup counts, total = qty × unit where blank.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from sales_data_etl_pipeline_spark.operators import ckpt, cleaning
from sales_data_etl_pipeline_spark.plans import pipeline


# --------------------------- operator units --------------------------------


def test_dedup_keep_first_deterministic(spark):
    df = spark.createDataFrame(
        [(1, "a", 0), (1, "b", 1), (2, "c", 2), (1, "d", 3)],
        "id long, v string, ord long",
    )
    out = cleaning.dedup_keep_first(df, ["id"], "ord").orderBy("id").collect()
    assert [(r.id, r.v) for r in out] == [(1, "a"), (2, "c")]


def test_duplicate_keys(spark):
    df = spark.createDataFrame([(1,), (1,), (2,), (3,), (3,), (3,)], "id long")
    out = {(r.id, r.n_occurrences) for r in cleaning.duplicate_keys(df, ["id"]).collect()}
    assert out == {(1, 2), (3, 3)}


def test_fill_group_median_cascade(spark):
    df = spark.createDataFrame(
        [
            ("a", 1.0), ("a", 3.0), ("a", None),   # group median 2.0
            ("b", None),                            # no valid in group → global
            ("c", 10.0),
            # NULL keys form no group: their own median would be 51.5
            (None, 3.0), (None, 100.0), (None, None),
        ],
        "g string, v double",
    )
    out = cleaning.fill_group_median(
        df, "v", "g", flag_col="imp", method_col="met"
    ).collect()
    by_g = {}
    for r in out:
        by_g.setdefault(r.g, []).append(r)
    a_filled = [r for r in by_g["a"] if r.imp][0]
    assert a_filled.v == 2.0 and a_filled.met == "mediana_grupo"
    b = by_g["b"][0]
    assert b.v == 3.0 and b.met == "mediana_global"  # global median of 1,3,3,10,100
    assert all(not r.imp for r in by_g["c"])
    null_filled = [r for r in by_g[None] if r.imp][0]
    assert null_filled.v == 3.0 and null_filled.met == "mediana_global"


def test_fill_date_cascade_midpoint_floor(spark):
    # even count → midpoint between the two middle days floors to the
    # earlier day (pandas midpoint-timestamp → strftime day truncation)
    df = spark.createDataFrame(
        [
            (1, "2025-01-10"), (1, "2025-01-13"), (1, None),
            (2, None),
        ],
        "g long, d string",
    ).withColumn("d", F.col("d").cast("date"))
    out = cleaning.fill_date_cascade(df, "d", "g", fallback_date="1999-09-09").collect()
    g1 = [r for r in out if r.g == 1 and r.data_imputada][0]
    assert str(g1.d) == "2025-01-11"  # midpoint 11.5 floors to 11
    assert g1.metodo_imputacao == "mediana_empregado"
    g2 = [r for r in out if r.g == 2][0]
    assert str(g2.d) == "2025-01-11"  # global median (10,13) midpoint floor
    assert g2.metodo_imputacao == "mediana_global"


def test_date_cascade_fallback_date(spark):
    df = spark.createDataFrame([(1, None)], "g long, d string").withColumn(
        "d", F.col("d").cast("date")
    )
    out = cleaning.fill_date_cascade(df, "d", "g", fallback_date="1999-09-09").collect()
    assert str(out[0].d) == "1999-09-09"
    assert out[0].metodo_imputacao == "data_atual"


def test_backfill_sequential_ids(spark):
    df = spark.createDataFrame(
        [(10, "x", 0), (None, "y", 1), (7, "z", 2), (None, "w", 3)],
        "id long, v string, ord long",
    )
    out = cleaning.backfill_sequential_ids(df, "id", "ord").orderBy("ord").collect()
    assert [r.id for r in out] == [10, 11, 7, 12]


def test_backfill_sequential_ids_distributed_matches_window(spark):
    """distributed=True (range-partitioned offsets, no single-partition
    window over the NULL slice — the 100 TB fact-backfill mode) must
    assign bit-identical ids to the default single-window mode on a
    unique order key, including an all-NULL-ids input and an empty one."""
    import random

    rng = random.Random(7)
    rows = [
        (rng.choice([None, 100 + i]), f"k{i:04d}") for i in range(500)
    ]
    df = spark.createDataFrame(rows, "id long, ord string")
    a = cleaning.backfill_sequential_ids(df, "id", "ord")
    b = cleaning.backfill_sequential_ids(df, "id", "ord", distributed=True)
    assert sorted(map(tuple, a.collect())) == sorted(map(tuple, b.collect()))
    all_null = df.select(F.lit(None).cast("long").alias("id"), "ord")
    a2 = cleaning.backfill_sequential_ids(all_null, "id", "ord")
    b2 = cleaning.backfill_sequential_ids(
        all_null, "id", "ord", distributed=True
    )
    assert sorted(map(tuple, a2.collect())) == sorted(map(tuple, b2.collect()))
    empty = df.filter(F.lit(False))
    assert (
        cleaning.backfill_sequential_ids(
            empty, "id", "ord", distributed=True
        ).count()
        == 0
    )


def test_clamp_range_flags(spark):
    df = spark.createDataFrame([(10,), (30,), (90,), (None,)], "v int")
    out = cleaning.clamp_range(df, "v", 18, 70, flag_col="adj").collect()
    got = {(r.v, r.adj) for r in out}
    assert (18, True) in got and (30, False) in got and (70, True) in got
    assert (None, False) in got  # NULL passes through unflagged


# --------------------------- full pipeline ---------------------------------


@pytest.fixture(scope="module")
def dirty_csvs(tmp_path_factory):
    """Reference-shaped dirty CSVs (FIXTURES.md §4 dirt recipe, seeded)."""
    import random

    rng = random.Random(42)
    root = tmp_path_factory.mktemp("dirty")

    cats = ["Roupas", "Eletrônicos", "Livros", "Casa", "Beleza"]
    prod_rows = []
    for i in range(1, 201):
        nome = "" if i % 12 == 0 else f"Produto {i}"
        preco = "" if i % 7 == 0 else f"{rng.uniform(5, 500):.2f}"
        cat = "" if i % 13 == 0 else cats[i % 5]
        prod_rows.append(f"{i};{nome};{preco};{cat}")
    prod_rows += prod_rows[:10]  # full-row duplicate ids
    (root / "produtos.csv").write_text(
        "id_produto;nome;preco;categoria\n" + "\n".join(prod_rows), encoding="utf-8"
    )

    emp_rows = []
    for i in range(1, 101):
        nome = "" if i % 11 == 0 else f"Funcionário {i}"
        cargo = "" if i % 9 == 0 else ["Vendedor", "Gerente", "Assistente"][i % 3]
        idade = "" if i % 10 == 0 else f"{rng.randint(16, 75)}.0"
        emp_rows.append(f"{i};{nome};{cargo};{idade}")
    emp_rows += emp_rows[:8]
    (root / "empregados.csv").write_text(
        "id_empregado;nome;cargo;idade\n" + "\n".join(emp_rows), encoding="utf-8"
    )

    venda_rows = []
    for i in range(1, 1001):
        data = "" if i % 10 == 0 else f"{rng.randint(1, 28):02d}/{rng.randint(1, 12):02d}/2025"
        qty = rng.randint(1, 10)
        if i % 13 == 0:
            vu, vt = "", ""
        else:
            u = rng.uniform(5, 500)
            vu, vt = f"{u:.2f}", f"{u * qty:.2f}"
        venda_rows.append(
            f"{i};{data};{rng.randint(1, 200)};{rng.randint(1, 100)};{qty};{vu};{vt}"
        )
    venda_rows += venda_rows[:25]
    (root / "vendas.csv").write_text(
        "id_venda;data;id_produto;id_empregado;quantidade;valor_unitario;valor_total\n"
        + "\n".join(venda_rows),
        encoding="utf-8",
    )
    return root


@pytest.fixture(scope="module")
def pipeline_run(spark, dirty_csvs, tmp_path_factory):
    """One pipeline run over the dirty CSVs: (returned frames, output dir).
    The frames are checkpoints kept to this fixture's scope, released at
    teardown."""
    out_dir = tmp_path_factory.mktemp("pipeline") / "out"
    with ckpt.scope():
        dfs = pipeline.run_pipeline(
            spark,
            str(dirty_csvs / "produtos.csv"),
            str(dirty_csvs / "vendas.csv"),
            str(dirty_csvs / "empregados.csv"),
            str(out_dir),
            fallback_date="2025-06-30",
        )
        yield dfs, out_dir


def test_full_pipeline_invariants(spark, pipeline_run):
    out, out_dir = pipeline_run
    produtos, vendas, empregados = out["produtos"], out["vendas"], out["empregados"]

    # dedup: 210→200, 108→100, 1025→1000 (zero loss beyond duplicates)
    assert produtos.count() == 200
    assert empregados.count() == 100
    assert vendas.count() == 1000

    # no NULLs survive cleaning
    assert produtos.filter(F.col("preco").isNull()).count() == 0
    assert produtos.filter(is_blank := (F.col("categoria") == "Desconhecida")).count() > 0
    assert vendas.filter(F.col("data").isNull()).count() == 0
    assert vendas.filter(F.col("valor_unitario").isNull()).count() == 0
    assert vendas.filter(F.col("valor_total").isNull()).count() == 0
    assert empregados.filter(F.col("idade").isNull()).count() == 0

    # flag counts == blank counts (100 blank dates in 1..1000 at %10)
    assert vendas.filter(F.col("data_imputada")).count() == 100

    # derived totals: rows whose total was blank (id %13) must satisfy
    # valor_total == round(quantidade * valor_unitario, 2) exactly
    derived = vendas.filter(F.col("id_venda") % 13 == 0)
    bad = derived.filter(
        F.col("valor_total")
        != F.round(F.col("quantidade") * F.col("valor_unitario"), 2)
    )
    assert bad.count() == 0 and derived.count() > 0

    # ages clamped
    row = empregados.agg(F.min("idade").alias("lo"), F.max("idade").alias("hi")).first()
    assert row.lo >= 18 and row.hi <= 70

    # canonical names
    assert produtos.filter(~F.col("nome").rlike(r"^Produto \d+$")).count() == 0
    assert empregados.filter(F.trim("nome") == "").count() == 0

    # parquet sinks exist and audit columns dropped
    import os

    assert os.path.isdir(str(out_dir / "resumo-vendas.parquet"))
    reread = spark.read.parquet(str(out_dir / "resumo-vendas.parquet"))
    assert set(reread.columns) == {
        "id_venda", "data", "id_produto", "id_empregado",
        "quantidade", "valor_unitario", "valor_total",
    }


def test_pipeline_returns_eager_checkpoints(pipeline_run):
    """Each returned frame is the checkpoint itself (analyzed plan =
    LogicalRDD), so ``ckpt.release`` accepts it."""
    dfs, _ = pipeline_run
    for name, df in dfs.items():
        plan = df._jdf.queryExecution().analyzed().getClass().getSimpleName()
        assert plan == "LogicalRDD", f"{name}: {plan}"


def test_report_queries_read_no_csv(pipeline_run):
    """The five report queries read the cleaned rows, never re-running a
    cleaning chain from its CSV."""
    from sales_data_etl_pipeline_spark.plans import analytics

    dfs, _ = pipeline_run
    v, p, e = dfs["vendas"], dfs["produtos"], dfs["empregados"]
    queries = {
        "sales_by_employee": analytics.sales_by_employee(v, e),
        "average_ticket_by_product": analytics.average_ticket_by_product(v, p),
        "sales_by_category": analytics.sales_by_category(v, p),
        "top5_employees": analytics.top5_employees(v, e),
        "sales_by_period": analytics.sales_by_period(v),
    }
    for name, df in queries.items():
        plan = df._jdf.queryExecution().executedPlan().toString()
        assert "FileScan csv" not in plan, f"{name} scans a CSV:\n{plan}"
        assert df.count() > 0, name


def test_returned_frames_match_sinks(spark, pipeline_run):
    """Sinks and returned frames hold the same rows: each frame minus its
    audit columns equals its Parquet sink, row for row."""
    dfs, out_dir = pipeline_run
    for name, sink in (("produtos", "produtos"), ("vendas", "resumo-vendas"),
                       ("empregados", "empregados")):
        mine = cleaning.drop_audit_columns(dfs[name])
        stored = spark.read.parquet(str(out_dir / f"{sink}.parquet"))
        assert mine.columns == stored.columns, name
        assert mine.exceptAll(stored).count() == 0, name
        assert stored.exceptAll(mine).count() == 0, name


def test_run_pipeline_releases_checkpoints_on_error(spark, dirty_csvs, tmp_path):
    """A failing sink (output dir is a regular file) leaves no persisted
    checkpoint behind: the taken checkpoints are released, then the
    error propagates."""
    from py4j.protocol import Py4JJavaError

    jsc = spark.sparkContext._jsc
    not_a_dir = tmp_path / "out"
    not_a_dir.write_text("")
    before = set(jsc.getPersistentRDDs().keySet())
    with pytest.raises(Py4JJavaError, match="ParentNotDirectoryException"):
        pipeline.run_pipeline(
            spark,
            str(dirty_csvs / "produtos.csv"),
            str(dirty_csvs / "vendas.csv"),
            str(dirty_csvs / "empregados.csv"),
            str(not_a_dir),
            fallback_date="2025-06-30",
        )
    # ids rather than the count: the ContextCleaner may free unrelated
    # blocks meanwhile, which would only lower a count
    assert set(jsc.getPersistentRDDs().keySet()) <= before


def test_cleaning_chains_scan_their_csv_once(spark, dirty_csvs):
    """Each cleaning chain is one linear plan: chain-wide medians and the
    max id are windows, not side aggregates joined back, so the CSV is
    scanned once and no broadcast nested-loop join appears."""
    from sales_data_etl_pipeline_spark import schemas
    from sales_data_etl_pipeline_spark.sources.csv import read_csv_with_ordinal

    def raw(name, schema):
        return read_csv_with_ordinal(spark, str(dirty_csvs / f"{name}.csv"), schema)

    produtos = spark.createDataFrame(
        [(1, "Cat")], "id_produto long, categoria string"
    )
    chains = {
        "produtos": pipeline.extract_treat_produtos(raw("produtos", schemas.PRODUTOS_RAW)),
        "vendas": pipeline.extract_treat_vendas(
            raw("vendas", schemas.VENDAS_RAW), produtos, fallback_date="2025-06-30"
        ),
        "empregados": pipeline.extract_treat_empregados(
            raw("empregados", schemas.EMPREGADOS_RAW)
        ),
    }
    for name, df in chains.items():
        plan = df._jdf.queryExecution().executedPlan().toString()
        assert plan.count("FileScan csv") == 1, f"{name}:\n{plan}"
        assert "BroadcastNestedLoopJoin" not in plan, f"{name}:\n{plan}"


def test_run_pipeline_schedules_at_most_seven_jobs(spark, dirty_csvs, tmp_path):
    """One job per cleaned table plus its sink (and the produtos
    broadcast into vendas): side aggregates joined back would schedule
    a job per aggregate."""
    sc = spark.sparkContext
    group = "test_run_pipeline_jobs"
    sc.setJobGroup(group, group)
    try:
        with ckpt.scope():
            pipeline.run_pipeline(
                spark,
                str(dirty_csvs / "produtos.csv"),
                str(dirty_csvs / "vendas.csv"),
                str(dirty_csvs / "empregados.csv"),
                str(tmp_path / "out"),
                fallback_date="2025-06-30",
            )
    finally:
        sc._jsc.clearJobGroup()
    jobs = sc.statusTracker().getJobIdsForGroup(group)
    assert len(jobs) <= 7, jobs


def test_formato_invalido_fourth_stage(spark, tmp_path):
    """Reference et_vendas.py:292-345: non-blank unparseable dates skip the
    median cascade and get the fallback date labeled formato_invalido;
    blanks cascade; neither pollutes the median pools."""
    rows = [
        # 4 valid dates for empregado 1 → its median is 03/01 (midpoint floor)
        "1;01/01/2025;1;1;1;10.0;10.0",
        "2;02/01/2025;1;1;1;10.0;10.0",
        "3;05/01/2025;1;1;1;10.0;10.0",
        "4;09/01/2025;1;1;1;10.0;10.0",
        "5;;1;1;1;10.0;10.0",              # blank → mediana_empregado
        "6;99/99/9999;1;1;1;10.0;10.0",    # invalid → formato_invalido
        "7;not-a-date;1;1;1;10.0;10.0",    # invalid → formato_invalido
        "8;;1;2;1;10.0;10.0",              # blank, no emp-2 dates → mediana_global
    ]
    csv = tmp_path / "vendas.csv"
    csv.write_text(
        "id_venda;data;id_produto;id_empregado;quantidade;valor_unitario;valor_total\n"
        + "\n".join(rows),
        encoding="utf-8",
    )
    from sales_data_etl_pipeline_spark import schemas
    from sales_data_etl_pipeline_spark.sources.csv import read_csv_with_ordinal

    produtos = spark.createDataFrame(
        [(1, "P", 10.0, "Cat")], "id_produto long, nome string, preco double, categoria string"
    )
    out = pipeline.extract_treat_vendas(
        read_csv_with_ordinal(spark, str(csv), schemas.VENDAS_RAW),
        produtos,
        fallback_date="2025-06-30",
    )
    got = {r.id_venda: (str(r.data), r.data_imputada, r.metodo_imputacao)
           for r in out.collect()}
    assert got[1] == ("2025-01-01", False, None)
    # emp-1 median of {01,02,05,09} = midpoint(02,05)=3.5 → floor → 03/01
    assert got[5] == ("2025-01-03", True, "mediana_empregado")
    assert got[6] == ("2025-06-30", True, "formato_invalido")
    assert got[7] == ("2025-06-30", True, "formato_invalido")
    # global median over the 4 valid dates only (invalids excluded)
    assert got[8] == ("2025-01-03", True, "mediana_global")


def test_blank_id_employees_keep_first_only(spark, tmp_path):
    """Reference parity: pandas drop_duplicates treats NaN ids as equal,
    so of several blank-id employees only the FIRST survives (and gets
    the max+1 backfill)."""
    rows = [
        "1;Ana;Vendedor;30.0",
        ";Bruno;Gerente;40.0",      # first blank id → kept, becomes 3
        "2;Carla;Vendedor;25.0",
        ";Diego;Assistente;35.0",   # second blank id → dropped
    ]
    csv = tmp_path / "empregados.csv"
    csv.write_text(
        "id_empregado;nome;cargo;idade\n" + "\n".join(rows), encoding="utf-8"
    )
    from sales_data_etl_pipeline_spark import schemas
    from sales_data_etl_pipeline_spark.sources.csv import read_csv_with_ordinal

    out = pipeline.extract_treat_empregados(
        read_csv_with_ordinal(spark, str(csv), schemas.EMPREGADOS_RAW)
    )
    got = {(r.id_empregado, r.nome) for r in out.collect()}
    assert got == {(1, "Ana"), (2, "Carla"), (3, "Bruno")}


def test_range_join_count_duplicate_left_rows(spark):
    """Fully-duplicate left rows keep separate counts (no collapse)."""
    from sales_data_etl_pipeline_spark.operators import temporal

    left = spark.createDataFrame(
        [(1, "2025-01-01 10:00:00")] * 2, "k long, ts string"
    ).withColumn("ts", F.col("ts").cast("timestamp"))
    right = spark.createDataFrame(
        [(1, "2025-01-01 09:59:00"), (1, "2025-01-01 09:58:00")],
        "k long, ts string",
    ).withColumn("ts", F.col("ts").cast("timestamp"))
    out = temporal.range_join_count(
        left, right, on="k", range_seconds=300
    ).collect()
    assert len(out) == 2
    assert [r.n_in_range for r in out] == [2, 2]


def test_salted_join_rejects_outer(spark):
    from sales_data_etl_pipeline_spark.operators import skew

    df = spark.createDataFrame([(1, "a")], "k long, v string")
    import pytest as _pytest

    with _pytest.raises(ValueError, match="salted_join"):
        skew.salted_join(df, df, "k", how="full_outer")


def test_fuzzy_match_blocked_levenshtein(spark):
    from sales_data_etl_pipeline_spark.operators import cleaning

    canonical = spark.createDataFrame(
        [(1, "alpha corp"), (2, "alpine inc"), (3, "beta llc")],
        "k long, name string",
    )
    dirty = spark.createDataFrame(
        [("alpha cor",), ("alpin inc",), ("beta lllc",), ("gamma co",)],
        "name string",
    )
    got = {
        (r.dirty_name, r.k, r.distance)
        for r in cleaning.fuzzy_match(
            dirty, canonical, name_col="name", key_col="k"
        ).collect()
    }
    # gamma co: no block match -> absent (the blocking recall tradeoff)
    assert got == {
        ("alpha cor", 1, 1),
        ("alpin inc", 2, 1),
        ("beta lllc", 3, 1),
    }
