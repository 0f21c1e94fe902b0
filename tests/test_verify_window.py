"""Driver verify-window invariants.

Each round's oracle check covers only the FIRST 50 ``queries()`` entries;
``__spark_entry__`` puts the ``_CHANGED`` names first and the rest
stalest-first. Entries past the boundary ride on one of two documented
arguments:

1. their latest driver-green row POSTDATES the all-table NTZ
   normalization (they sat in the round-5 window, CORRECTNESS_r05), or
2. their plans scan ONLY timestamp-free tables, so the NTZ cast loop
   at the catalog edge (sources/tables.py) is structurally a no-op and
   their older green rows remain valid.

Every entry is also re-checked by the full local sweep committed as
``CORRECTNESS_LOCAL.json`` (``tools/check_correctness.py``).
"""

from __future__ import annotations

import re

import pyarrow.parquet as pq

import __spark_entry__ as entrymod

SF_DIR = "/root/testdata/sf0.001"

#: Entries whose Arrow-kernel lineage hides inputFiles(); all are
#: documents/embeddings-only by construction (their loaders are
#: _docs/_emb helpers in plans/llm_demo.py).
LINEAGE_OPAQUE_OK = {
    "corpus_prep_pipeline",
    "corpus_token_shards",
    "corpus_pack_sequences",
    "corpus_mixture_epochs",
    "corpus_hash_split",
    "corpus_stratified_sample",
    "dedup_exact",
    "dedup_ngram_jaccard",
    "dedup_cluster_representatives",
    "table_upsert",
    "table_insert_missing",
    "table_scd2_apply",
    "text_unigram_logprob",
    "text_repetition",
    "embedding_normalize",
    "embedding_quantize_int8",
}


def _ts_tables():
    out = set()
    for t in (
        "region nation customer supplier part orders lineitem events "
        "documents embeddings"
    ).split():
        try:
            s = pq.read_schema(f"{SF_DIR}/{t}.parquet")
        except Exception:
            continue
        if any("timestamp" in str(s.field(n).type) for n in s.names):
            out.add(t)
    return out


def test_every_entry_has_an_oracle():
    qs, os_ = entrymod.queries(), entrymod.oracle_sql()
    assert set(qs) == set(os_)


def test_out_of_window_entries_scan_no_timestamp_tables(spark):
    qs = entrymod.queries()
    names = list(qs)
    ts_tables = _ts_tables()
    assert ts_tables == {"events", "lineitem", "orders"}
    # post-NTZ = any driver-green row in r5 or later (r5 was the first
    # round on the normalized reader)
    post_ntz_green = {
        k for k, rnd in entrymod.last_green_rounds().items() if rnd >= 5
    }
    offenders = []
    for name in names[50:]:
        if name in post_ntz_green:  # argument (1): r5-verified post-NTZ
            continue
        df = qs[name](spark, SF_DIR)
        tabs = set()
        for f in df.inputFiles():
            m = re.search(r"/(\w+)\.parquet", f)
            if m:
                tabs.add(m.group(1))
        if not tabs and name not in LINEAGE_OPAQUE_OK:
            offenders.append((name, "opaque lineage, not allowlisted"))
        elif tabs & ts_tables:
            offenders.append((name, sorted(tabs & ts_tables)))
    assert not offenders, offenders


def test_local_sweep_is_complete_green_and_changed_lead():
    """The committed full oracle sweep covers exactly the registry, every
    row is green, and the changed names head the verification window."""
    import json

    from tools.check_correctness import LOCAL_ARTIFACT

    with open(LOCAL_ARTIFACT) as f:
        rows = json.load(f)
    qs = entrymod.queries()
    assert set(rows) == set(qs)
    assert [n for n, r in rows.items() if not entrymod.is_green(r)] == []
    assert list(qs)[: len(entrymod._CHANGED)] == entrymod._CHANGED


def test_is_green_requires_schema_match():
    """The order rule's green predicate needs all three matches: a
    schema-only failure, or a no-oracle row (all None), is not green."""
    ok = {"rows_match": True, "schema_match": True, "hash_match": True}
    assert entrymod.is_green(ok)
    for broken in ("rows_match", "schema_match", "hash_match"):
        assert not entrymod.is_green({**ok, broken: False})
        assert not entrymod.is_green({**ok, broken: None})


def test_verify_order_changed_then_stalest_first():
    """After ``_CHANGED``, entries run oldest last-green round first
    (never-green at the front), ties in registry order."""
    names = list(entrymod.queries())
    registry = list(entrymod._REGISTRY)
    assert sorted(names) == sorted(registry)
    green = entrymod.last_green_rounds()
    rest = names[len(entrymod._CHANGED):]
    keys = [(green.get(n, 0), registry.index(n)) for n in rest]
    assert keys == sorted(keys)


def test_scale_flag_means_superlinear():
    """The scale-experiment flag must fire on a real quadratic and stay
    silent on sublinear fixed-cost-amortization slopes (which every
    measured query in SCALE_EXPERIMENT.json exhibits)."""
    import json

    from tools.scale_experiment import COPIES, is_superlinear

    # synthetic quadratic: an all-pairs primitive costs ~n², so a
    # COPIES× replica multiplies wall clock by ~COPIES² with flat output
    assert is_superlinear(float(COPIES**2), 1.0)
    assert is_superlinear(float(COPIES**2), None)
    # output-bound is explained: slope 45 with 45× more pairs emitted
    assert not is_superlinear(45.0, 45.0)
    # sublinear growth (amortization ending) is never a flag
    assert not is_superlinear(3.95, 1.0)
    # every currently recorded measurement must be unflagged
    with open("/root/repo/SCALE_EXPERIMENT.json") as f:
        rec = json.load(f)
    refired = [
        n
        for n, t in rec["queries"].items()
        if is_superlinear(t["ratio_10x_rows"], t.get("output_ratio"))
    ]
    assert refired == [], refired


def test_soak_fails_fast_on_unknown_query_names(monkeypatch):
    """soak()'s subset path must reject a typo'd name BEFORE building
    the ~sf10 replica — a KeyError mid-loop would also lose the rows
    already measured for earlier names (the merge into
    SCALE_EXPERIMENT.json happens after the loop). r13 ADVICE."""
    import sys as _sys

    import pytest

    from tools import scale_experiment as se

    def _must_not_run(*a, **k):  # replica build is the expensive step
        raise AssertionError("build_soak_replica ran before validation")

    monkeypatch.setattr(se, "build_soak_replica", _must_not_run)
    monkeypatch.setattr(se, "get_spark", _must_not_run)
    monkeypatch.setattr(
        _sys, "argv", ["scale_experiment.py", "no_such_query_entry"]
    )
    with pytest.raises(SystemExit, match="no_such_query_entry"):
        se.soak()
