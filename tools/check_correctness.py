"""Local stand-in for the driver's DuckDB-oracle correctness gate.

Runs every ``queries()`` entry at sf0.01 on Spark AND the matching
``oracle_sql()`` on DuckDB, then compares row count, column names, and
TWO value comparisons:

- **exact** — pandas on both sides (``toPandas`` / ``fetchdf``), columns
  sorted by name, rows sorted, every cell stringified. This emulates the
  driver's exact value-hash, including dtype-repr gaps (DuckDB HUGEINT →
  float64 ``2996.0`` vs Spark bigint ``2996``) and last-ulp float noise.
- **6-sig** — the older tolerance check, reported when exact fails so the
  failure class is obvious (repr gap vs real value gap).

A run over every entry (no query names given) also writes
``CORRECTNESS_LOCAL.json`` beside ``__spark_entry__.py``: one row per
entry in the ``CORRECTNESS_r*.json`` shape (rows_match / schema_match /
hash_match / spark_rows / oracle_rows / err). Commit it with every
change.

Usage: python tools/check_correctness.py [sf_dir] [query ...]
"""

from __future__ import annotations

import json
import math
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import duckdb

import __spark_entry__ as entrymod
from sales_data_etl_pipeline_spark.schemas import TESTDATA_TABLES
from sales_data_etl_pipeline_spark.session import get_spark

LOCAL_ARTIFACT = os.path.join(
    os.path.dirname(entrymod.__file__), "CORRECTNESS_LOCAL.json"
)


def norm_cell(v):
    if v is None:
        return None
    if isinstance(v, float):
        if math.isnan(v):
            return "NaN"
        return float(f"{v:.6g}")
    return v


def norm_rows(cols, rows):
    # sort columns by name (driver does this), then sort rows
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    out = [tuple(norm_cell(r[i]) for i in order) for r in rows]
    out.sort(key=lambda t: tuple((x is None, str(x)) for x in t))
    return [cols[i] for i in order], out


def canon_pandas(pdf):
    """Driver-style canonicalization: sorted column order, sorted rows,
    every cell as its string repr (so int64 2996 != float64 2996.0)."""
    pdf = pdf[sorted(pdf.columns)]
    import datetime

    import pandas as pd

    def _cell(v):
        if v is None:
            return "<null>"
        if isinstance(v, float) and v != v:  # NaN (guarded: not on arrays)
            return "<null>"
        # date vs timestamp-at-midnight compare equal under the driver's
        # hash (Spark DATE → datetime.date, DuckDB DATE-ish → Timestamp)
        if isinstance(v, (datetime.date, datetime.datetime, pd.Timestamp)):
            return str(pd.Timestamp(v))
        return str(v)

    cells = [
        tuple(_cell(v) for v in row)
        for row in pdf.itertuples(index=False, name=None)
    ]
    cells.sort()
    return cells


def value_diff(scols, srows, ocols, orows, se, oe) -> str:
    """Explain an exact value-hash mismatch: a real value gap when the
    6-significant-digit rows differ, else a repr/dtype gap."""
    _, s = norm_rows(scols, srows)
    _, o = norm_rows(ocols, orows)
    if s != o:
        diffs = [(i, a, b) for i, (a, b) in enumerate(zip(s, o)) if a != b]
        return f"{len(diffs)} mismatched rows; first: {diffs[:3]}"
    ed = [(i, a, b) for i, (a, b) in enumerate(zip(se, oe)) if a != b]
    return f"EXACT-HASH MISMATCH (6-sig passes — repr/dtype gap); first: {ed[:3]}"


def main() -> int:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    only = set(sys.argv[2:])
    spark = get_spark("correctness-check")

    con = duckdb.connect()
    for t in TESTDATA_TABLES:
        p = f"{sf_dir}/{t}.parquet"
        if os.path.exists(p):
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{p}')")

    qs = entrymod.queries()
    oracles = entrymod.oracle_sql()
    results = {}
    for name, fn in qs.items():
        if only and name not in only:
            continue
        t0 = time.time()
        row = results[name] = {
            "rows_match": False, "schema_match": False, "hash_match": False,
            "spark_rows": None, "oracle_rows": None, "err": None,
        }
        try:
            sdf = fn(spark, sf_dir)
            scols = sdf.columns
            spdf = sdf.toPandas()
            srows = [tuple(r) for r in sdf.collect()]
        except Exception as e:  # noqa: BLE001
            row["err"] = f"spark error: {e}"
            print(f"FAIL {name}: {row['err']}")
            continue
        row["spark_rows"] = len(srows)
        if name not in oracles:
            row.update(rows_match=None, schema_match=None, hash_match=None,
                       err="no_oracle")
            print(f"FAIL {name}: no oracle_sql() entry")
            continue
        try:
            res = con.execute(oracles[name])
            ocols = [d[0] for d in res.description]
            opdf = res.fetchdf()
            orows = [tuple(r) for r in opdf.itertuples(index=False, name=None)]
        except Exception as e:  # noqa: BLE001
            row["err"] = f"duckdb error: {e}"
            print(f"FAIL {name}: {row['err']}")
            continue
        row["oracle_rows"] = len(orows)
        row["rows_match"] = len(srows) == len(orows)
        row["schema_match"] = sorted(scols) == sorted(ocols)
        msgs = []
        if not row["rows_match"]:
            msgs.append(f"rowcount spark={len(srows)} oracle={len(orows)}")
        if not row["schema_match"]:
            msgs.append(f"cols spark={sorted(scols)} oracle={sorted(ocols)}")
        if not msgs:
            try:
                se, oe = canon_pandas(spdf), canon_pandas(opdf)
            except Exception as e:  # noqa: BLE001
                msgs.append(f"canon error: {e}")
            else:
                row["hash_match"] = se == oe
                if not row["hash_match"]:
                    msgs.append(value_diff(scols, srows, ocols, orows, se, oe))
        print(f"{'FAIL' if msgs else 'PASS'} {name}: {len(srows)} rows "
              f"({time.time()-t0:.1f}s)" + (" :: " + "; ".join(msgs) if msgs else ""))
    failures = sum(not entrymod.is_green(r) for r in results.values())
    if not only:
        with open(LOCAL_ARTIFACT, "w") as f:
            json.dump(results, f, indent=2)
            f.write("\n")
        print(f"wrote {LOCAL_ARTIFACT}")
    print(f"\n{failures} failures")
    return 1 if failures else 0


if __name__ == "__main__":
    raise SystemExit(main())
