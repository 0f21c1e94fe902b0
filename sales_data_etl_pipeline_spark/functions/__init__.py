"""Scalar column helpers shared across operators.

These are the engine's F-level vocabulary: every helper returns a Column
built from JVM-side built-ins (whole-stage-codegen'd) — no Python UDFs.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F


def is_blank(col: Column | str) -> Column:
    """NULL or empty/whitespace-only string (reference's dirty-cell test,
    ``et_produtos.py:131`` ``isnull() | (col=='')`` plus the strip() variant
    at ``et_empregados.py:106``)."""
    c = F.col(col) if isinstance(col, str) else col
    return c.isNull() | (F.trim(c.cast("string")) == "")


def coerce_numeric(col: Column | str, to: str = "double") -> Column:
    """``pd.to_numeric(errors='coerce')`` semantics: failures → NULL
    (reference ``et_produtos.py:154`` etc.). ANSI-safe via try_cast."""
    c = F.col(col) if isinstance(col, str) else col
    return c.try_cast(to)


def parse_date_br(col: Column | str) -> Column:
    """``DD/MM/YYYY`` parse, invalid → NULL (reference ``et_vendas.py:196-200``)."""
    c = F.col(col) if isinstance(col, str) else col
    return F.try_to_timestamp(c, F.lit("dd/MM/yyyy")).cast("date")


def epoch_seconds(col: Column | str) -> Column:
    """Event-time → fractional epoch seconds, dtype-safe.

    The testdata's ``events.ts`` has shipped as TIMESTAMP(NANOS),
    ``timestamp[us]`` (Spark TIMESTAMP_NTZ), and plain TIMESTAMP across
    driver versions. ``CAST(ts AS DOUBLE)`` rejects TIMESTAMP_NTZ
    outright, so every epoch-arithmetic site goes through this helper:
    the inner ``cast("timestamp")`` pins NTZ wall-clock to the session
    zone (the engine pins UTC at the catalog entry points) and is a
    no-op on plain TIMESTAMP; the outer cast yields seconds.
    """
    c = F.col(col) if isinstance(col, str) else col
    return c.cast("timestamp").cast("double")


def epoch_millis(col: Column | str) -> Column:
    """Event-time → epoch milliseconds (bigint), dtype-safe — the
    ``unix_millis`` twin of :func:`epoch_seconds` (``unix_millis``
    requires TIMESTAMP and rejects TIMESTAMP_NTZ)."""
    c = F.col(col) if isinstance(col, str) else col
    return F.unix_millis(c.cast("timestamp"))
