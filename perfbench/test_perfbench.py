"""Tests of the benchmark's own logic (no Spark needed).

    python3 -m pytest -q -p no:cacheprovider -p no:benchmark perfbench/test_perfbench.py
"""

from __future__ import annotations

import filecmp

import pytest

import gen
import layers
import run

N_VENDAS = 8000


def _csvs(tmp_path, name: str, seed: int):
    out = tmp_path / name
    meta = gen.write_dirty_csvs(str(out), seed, N_VENDAS)
    return out, meta


def _rows(path) -> list[list[str]]:
    lines = path.read_text(encoding="utf-8").splitlines()[1:]
    return [line.split(";") for line in lines]


def _dirt(out) -> dict[str, float]:
    """Dirt rates measured from the files alone."""
    vendas, prods = _rows(out / "vendas.csv"), _rows(out / "produtos.csv")
    emps = _rows(out / "empregados.csv")

    def dup_rate(rows):
        return (len(rows) - len({r[0] for r in rows})) / len({r[0] for r in rows})

    def blank_rate(rows, col):
        return sum(r[col] == "" for r in rows) / len(rows)

    return {
        "fact_dups": dup_rate(vendas),
        "dim_dups": dup_rate(prods),
        "blank_dates": blank_rate(vendas, 1),
        "blank_values": blank_rate(vendas, 5),
        "blank_names": blank_rate(prods, 1),
        "blank_ages": blank_rate(emps, 3),
    }


def test_same_seed_same_bytes(tmp_path):
    a, meta_a = _csvs(tmp_path, "a", 7)
    b, meta_b = _csvs(tmp_path, "b", 7)
    names = ["produtos.csv", "vendas.csv", "empregados.csv"]
    match, mismatch, errors = filecmp.cmpfiles(a, b, names, shallow=False)
    assert match == names and not mismatch and not errors
    assert meta_a == meta_b

    tables = ("lineitem", "documents", "embeddings", "events")
    gen.write_star(str(tmp_path / "sa"), 7, 0.001, tables)
    gen.write_star(str(tmp_path / "sb"), 7, 0.001, tables)
    names = [f"{t}.parquet" for t in tables]
    match, _, _ = filecmp.cmpfiles(tmp_path / "sa", tmp_path / "sb", names, shallow=False)
    assert match == names


def test_other_seed_other_bytes_same_dirt(tmp_path):
    a, _ = _csvs(tmp_path, "a", 7)
    b, meta_b = _csvs(tmp_path, "b", 8)
    assert (a / "vendas.csv").read_bytes() != (b / "vendas.csv").read_bytes()
    dirt_a, dirt_b = _dirt(a), _dirt(b)
    # duplicate counts are fixed by the recipe, blank counts are binomial
    assert dirt_a["fact_dups"] == dirt_b["fact_dups"] == pytest.approx(gen.FACT_DUP_RATE, abs=1e-3)
    assert dirt_a["dim_dups"] == dirt_b["dim_dups"] == pytest.approx(gen.DIM_DUP_RATE, abs=5e-3)
    for key, rate, tol in [("blank_dates", gen.BLANK_DATE_RATE, 0.02),
                           ("blank_values", gen.BLANK_VALUE_RATE, 0.02),
                           ("blank_names", gen.BLANK_DIM_RATE, 0.05),
                           ("blank_ages", gen.BLANK_DIM_RATE, 0.08)]:
        assert dirt_a[key] == pytest.approx(rate, abs=tol), key
        assert dirt_b[key] == pytest.approx(rate, abs=tol), key
    # the reported blanks are the ones in the file (before the duplicate copies)
    vendas = _rows(b / "vendas.csv")[:N_VENDAS]
    assert meta_b["blank_dates"] == sum(r[1] == "" for r in vendas)
    assert meta_b["blank_value_ids"] == [int(r[0]) for r in vendas if r[5] == ""]
    assert all(r[6] == "" for r in vendas if r[5] == "")


def test_p90_needs_ten_samples_beyond_it():
    assert run.tail_quantile([]) is None
    assert run.tail_quantile([1.0] * 99) is None
    samples = [float(i) for i in range(1, 101)]  # 1..100
    assert run.tail_quantile(samples) == 90.0  # 10 samples (91..100) above it
    assert run.tail_quantile(samples[::-1]) == 90.0
    assert run.tail_quantile(samples[:50], q=0.5) == 25.0
    assert run.tail_quantile(samples[:19], q=0.5) is None


def test_union_of_stage_intervals():
    assert layers._union_ms([]) == 0.0
    assert layers._union_ms([(0, 10), (5, 15), (20, 25)]) == 20.0
    assert layers._union_ms([(20, 25), (0, 30)]) == 30.0


def test_sql_size_metric_bytes():
    assert layers._total_bytes("3.0 KiB") == 3 * 1024
    total = "total (min, med, max (stageId: taskId))\n1.5 MiB (0.5 MiB, 0.5 MiB, 0.5 MiB (stage 1.0: task 2))"
    assert layers._total_bytes(total) == 1.5 * 2**20
    assert layers._total_bytes("0") == 0.0
