"""Seeded input generators for the benchmark.

Two input sets, both a pure function of ``seed`` (same seed, same bytes):

- ``write_dirty_csvs``: the reference's three dirty CSVs (``produtos``,
  ``vendas``, ``empregados``; ``;``-separated, header, UTF-8) with the
  FIXTURES.md section 4 dirt recipe: full-row duplicate ids, blank dates,
  blank unit values with blank totals on the same rows, blank dimension
  names / categories / cargos / ages, dense foreign keys.
- ``write_star``: the TPC-H-ish star schema plus ``events``,
  ``documents`` and ``embeddings`` as one Parquet file per table, with the
  column types and value domains of the repository's test tables
  (TESTDATA.md), so every catalog entry and its DuckDB oracle run on it.
"""

from __future__ import annotations

import datetime as dt
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# Dirt rates of FIXTURES.md section 4.
FACT_DUP_RATE = 0.025
DIM_DUP_RATE = 0.06
BLANK_DATE_RATE = 0.10
BLANK_VALUE_RATE = 0.075
BLANK_DIM_RATE = 0.10

CATEGORIAS = ["Roupas", "Eletrônicos", "Livros", "Casa", "Beleza"]
CARGOS = ["Vendedor", "Gerente", "Assistente"]


def _blank(rng: np.random.Generator, n: int, rate: float) -> np.ndarray:
    return rng.random(n) < rate


def _with_dups(rng, lines: list[str], rate: float) -> list[str]:
    """Append full-row copies of ``rate`` of the rows (keep-first dedup)."""
    picks = rng.choice(len(lines), size=int(round(len(lines) * rate)), replace=False)
    return lines + [lines[i] for i in sorted(picks)]


def _write_lines(path: str, header: str, lines: list[str]) -> None:
    with open(path, "w", encoding="utf-8", newline="\n") as fh:
        fh.write(header + "\n" + "\n".join(lines) + "\n")


def write_dirty_csvs(out_dir: str, seed: int, n_vendas: int) -> dict:
    """Write produtos/vendas/empregados CSVs; return what the dirt was.

    The returned dict holds the clean row counts and the blank counts a
    correct cleaning chain must report back as imputation flags.
    """
    rng = np.random.default_rng(seed)
    n_prod = max(n_vendas // 20, 50)
    n_emp = max(n_vendas // 80, 20)
    os.makedirs(out_dir, exist_ok=True)

    prod_ids = np.arange(1, n_prod + 1)
    blank_nome = _blank(rng, n_prod, BLANK_DIM_RATE)
    blank_preco = _blank(rng, n_prod, BLANK_DIM_RATE)
    blank_cat = _blank(rng, n_prod, BLANK_DIM_RATE)
    cat = rng.integers(0, len(CATEGORIAS), n_prod)
    preco = rng.uniform(5, 500, n_prod)
    prod = [
        f"{i};{'' if bn else f'Produto {i}'};{'' if bp else f'{p:.2f}'};"
        f"{'' if bc else CATEGORIAS[c]}"
        for i, bn, bp, bc, c, p in zip(prod_ids, blank_nome, blank_preco, blank_cat, cat, preco)
    ]

    emp_ids = np.arange(1, n_emp + 1)
    blank_enome = _blank(rng, n_emp, BLANK_DIM_RATE)
    blank_cargo = _blank(rng, n_emp, BLANK_DIM_RATE)
    blank_idade = _blank(rng, n_emp, BLANK_DIM_RATE)
    cargo = rng.integers(0, len(CARGOS), n_emp)
    idade = rng.integers(16, 76, n_emp)  # 16..75: some fall outside [18, 70]
    emp = [
        f"{i};{'' if bn else f'Funcionário {i}'};{'' if bc else CARGOS[c]};"
        f"{'' if bi else f'{a}.0'}"
        for i, bn, bc, bi, c, a in zip(emp_ids, blank_enome, blank_cargo, blank_idade, cargo, idade)
    ]

    sale_ids = np.arange(1, n_vendas + 1)
    blank_data = _blank(rng, n_vendas, BLANK_DATE_RATE)
    blank_valor = _blank(rng, n_vendas, BLANK_VALUE_RATE)
    day = rng.integers(0, 730, n_vendas)
    fk_prod = rng.integers(1, n_prod + 1, n_vendas)
    fk_emp = rng.integers(1, n_emp + 1, n_vendas)
    qty = rng.integers(1, 11, n_vendas)
    unit = np.round(rng.uniform(5, 500, n_vendas), 2)
    base = dt.date(2024, 1, 1)
    vendas = []
    for i, bd, bv, d, p, e, q, u in zip(
        sale_ids, blank_data, blank_valor, day, fk_prod, fk_emp, qty, unit
    ):
        data = "" if bd else (base + dt.timedelta(days=int(d))).strftime("%d/%m/%Y")
        vu, vt = ("", "") if bv else (f"{u:.2f}", f"{u * q:.2f}")
        vendas.append(f"{i};{data};{p};{e};{q};{vu};{vt}")

    _write_lines(f"{out_dir}/produtos.csv", "id_produto;nome;preco;categoria",
                 _with_dups(rng, prod, DIM_DUP_RATE))
    _write_lines(f"{out_dir}/empregados.csv", "id_empregado;nome;cargo;idade",
                 _with_dups(rng, emp, DIM_DUP_RATE))
    _write_lines(
        f"{out_dir}/vendas.csv",
        "id_venda;data;id_produto;id_empregado;quantidade;valor_unitario;valor_total",
        _with_dups(rng, vendas, FACT_DUP_RATE),
    )
    return {
        "produtos": n_prod,
        "empregados": n_emp,
        "vendas": n_vendas,
        "blank_dates": int(blank_data.sum()),
        "blank_values": int(blank_valor.sum()),
        "blank_ages": int(blank_idade.sum()),
        "blank_value_ids": sale_ids[blank_valor].tolist(),
    }


# --- star schema ------------------------------------------------------------

REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
P_TYPES = ["ECONOMY", "STANDARD", "LARGE", "SMALL", "MEDIUM", "PROMO"]
ADJECTIVES = ["blue", "old", "small", "new", "hot", "large", "cold", "red"]
NOUNS = ["widget", "gizmo", "ring", "gear", "bolt", "plate", "anvil", "rod"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["click", "signup", "error", "view", "purchase"]
LANGS = ["en", "es", "zh", "de", "fr"]
VOCAB = (
    "row the query stream fast spark line small customer group value hash "
    "batch sort data big filter key agg scan slow table part a merge window "
    "order column join vector"
).split()

_US_PER_DAY = 86_400 * 1_000_000


def _days(rng, start: dt.date, end: dt.date, n: int) -> pa.Array:
    lo = (start - dt.date(1970, 1, 1)).days
    hi = (end - dt.date(1970, 1, 1)).days
    us = rng.integers(lo, hi + 1, n).astype(np.int64) * _US_PER_DAY
    return pa.array(us, pa.timestamp("us"))


def _money(rng, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def _pick(rng, values: list[str], n: int) -> list[str]:
    return [values[i] for i in rng.integers(0, len(values), n)]


def star_tables(seed: int, sf: float) -> dict[str, pa.Table]:
    """Build every table; ``sf=0.01`` gives 60,000 lineitem rows."""
    rng = np.random.default_rng(seed)
    k = sf / 0.01
    n_cust, n_supp, n_part = int(1500 * k), max(int(100 * k), 10), int(2000 * k)
    n_ord, n_li, n_ev = int(15000 * k), int(60000 * k), int(10000 * k)
    n_docs = n_emb = 500
    i32, i64 = pa.int32(), pa.int64()

    t: dict[str, pa.Table] = {}
    t["region"] = pa.table({
        "r_regionkey": pa.array(range(5), i32), "r_name": REGIONS})
    t["nation"] = pa.table({
        "n_nationkey": pa.array(range(25), i32),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], i32)})
    t["customer"] = pa.table({
        "c_custkey": pa.array(np.arange(n_cust), i64),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": pa.array(rng.integers(0, 25, n_cust), i32),
        "c_acctbal": _money(rng, -999.99, 9999.99, n_cust),
        "c_mktsegment": _pick(rng, SEGMENTS, n_cust)})
    t["supplier"] = pa.table({
        "s_suppkey": pa.array(np.arange(n_supp), i64),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": pa.array(rng.integers(0, 25, n_supp), i32),
        "s_acctbal": _money(rng, -999.99, 9999.99, n_supp)})
    t["part"] = pa.table({
        "p_partkey": pa.array(np.arange(n_part), i64),
        "p_name": [f"{a} {b}" for a, b in zip(_pick(rng, ADJECTIVES, n_part),
                                              _pick(rng, NOUNS, n_part))],
        "p_brand": [f"Brand#{i}" for i in rng.integers(1, 26, n_part)],
        "p_type": _pick(rng, P_TYPES, n_part),
        "p_size": pa.array(rng.integers(1, 51, n_part), i32),
        "p_retailprice": np.round(900 + (np.arange(n_part) % 1000) * 0.1, 1)})
    t["orders"] = pa.table({
        "o_orderkey": pa.array(np.arange(n_ord), i64),
        "o_custkey": pa.array(rng.integers(0, n_cust, n_ord), i64),
        "o_orderstatus": _pick(rng, ["F", "O", "P"], n_ord),
        "o_totalprice": _money(rng, 1000, 500000, n_ord),
        "o_orderdate": _days(rng, dt.date(1995, 1, 1), dt.date(2001, 8, 1), n_ord),
        "o_orderpriority": _pick(rng, PRIORITIES, n_ord)})
    t["lineitem"] = pa.table({
        "l_orderkey": pa.array(rng.integers(0, n_ord, n_li), i64),
        "l_partkey": pa.array(rng.integers(0, n_part, n_li), i64),
        "l_suppkey": pa.array(rng.integers(0, n_supp, n_li), i64),
        "l_linenumber": pa.array(rng.integers(1, 8, n_li), i32),
        "l_quantity": rng.integers(1, 51, n_li).astype(np.float64),
        "l_extendedprice": _money(rng, 900, 105000, n_li),
        "l_discount": rng.integers(0, 11, n_li) / 100.0,
        "l_tax": rng.integers(0, 9, n_li) / 100.0,
        "l_returnflag": _pick(rng, ["A", "N", "R"], n_li),
        "l_linestatus": _pick(rng, ["O", "F"], n_li),
        "l_shipdate": _days(rng, dt.date(1995, 1, 2), dt.date(2001, 11, 4), n_li)})

    gaps = rng.integers(1_000_000, 500_000_000, n_ev)  # 1 s .. 500 s apart
    ts0 = (dt.date(2024, 1, 1) - dt.date(1970, 1, 1)).days * _US_PER_DAY
    t["events"] = pa.table({
        "event_id": pa.array(np.arange(n_ev), i64),
        "ts": pa.array(ts0 + np.cumsum(gaps), pa.timestamp("us")),
        "user_id": pa.array(rng.integers(0, max(int(150 * k), 10), n_ev), i64),
        "event_type": _pick(rng, EVENT_TYPES, n_ev),
        "value": _money(rng, 0.01, 490.0, n_ev),
        "props": [f'{{"k": {v}}}' for v in rng.integers(0, 100, n_ev)]})

    lens = rng.integers(10, 111, n_docs)
    texts = [" ".join(_pick(rng, VOCAB, int(m))) for m in lens]
    t["documents"] = pa.table({
        "doc_id": pa.array(np.arange(n_docs), i64),
        "text": texts,
        "lang": [LANGS[i] for i in rng.choice(5, n_docs, p=[0.44, 0.14, 0.14, 0.14, 0.14])],
        "source": [f"src{i % 20}" for i in range(n_docs)],
        "n_chars": pa.array([len(s) for s in texts], i64)})

    labels = rng.integers(0, 10, n_emb)
    centers = rng.normal(0, 1, (10, 64))
    vecs = centers[labels] + rng.normal(0, 0.8, (n_emb, 64))
    vecs = (vecs / np.linalg.norm(vecs, axis=1, keepdims=True)).astype(np.float32)
    t["embeddings"] = pa.table({
        "vec_id": pa.array(np.arange(n_emb), i64),
        "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
        "label": pa.array(labels, i32)})
    return t


def write_star(out_dir: str, seed: int, sf: float, tables: tuple[str, ...]) -> dict[str, int]:
    """Write one ``<table>.parquet`` per named table; return row counts."""
    os.makedirs(out_dir, exist_ok=True)
    rows = {}
    for name, table in star_tables(seed, sf).items():
        if name not in tables:
            continue
        pq.write_table(table, f"{out_dir}/{name}.parquet")
        rows[name] = table.num_rows
    return rows
