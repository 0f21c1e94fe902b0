"""tools/bench_compare.py — the dual-baseline mover report the r13
verdict requires (r13's driver run carries a uniform ~10% context
shift, so single-baseline deltas under- and over-flag)."""

from __future__ import annotations

import json

import pytest

from tools.bench_compare import DEFAULT_BASELINES, load_queries, movers


def test_movers_flags_both_directions_and_sorts_by_ratio():
    base = {"a": 1.0, "b": 1.0, "c": 1.0, "only_base": 9.9}
    cand = {"a": 1.5, "b": 0.5, "c": 1.1, "only_cand": 0.1}
    out = movers(cand, base, threshold=1.3)
    # common-key movers only, sorted most-slowed first; 1.1x is in-band
    assert [(n, r) for n, _, _, r in out] == [("a", 1.5), ("b", 0.5)]


def test_movers_skips_zero_baselines():
    assert movers({"a": 1.0}, {"a": 0.0}, threshold=1.3) == []


def test_default_baselines_resolve_from_git(tmp_path):
    """The pinned r12/r13 revisions must keep resolving to per-query
    detail (the comparison breaks silently if history is rewritten)."""
    for spec in DEFAULT_BASELINES:
        name, _, rev = spec.partition("=")
        total, qs = load_queries(rev)
        assert total > 0 and len(qs) >= 149, (name, total, len(qs))


def test_load_queries_reads_plain_files(tmp_path):
    p = tmp_path / "b.json"
    p.write_text(json.dumps({"value": 2.5, "queries": {"q": 1.25}}))
    total, qs = load_queries(str(p))
    assert total == 2.5 and qs == {"q": 1.25}


def test_load_queries_slashed_git_revision(tmp_path):
    """A git revision containing '/' (origin/main style) must route to
    git, and a missing .json path must error as a FILE — the old
    '/'-substring heuristic got both wrong (r14 ADVICE). The file-
    routing half needs no repo state; the git half resolves whatever
    slashed head ref exists and skips on detached-HEAD/renamed-branch
    checkouts instead of failing on a hard 'heads/main' dependency
    (r15 ADVICE)."""
    with pytest.raises(FileNotFoundError):
        load_queries(str(tmp_path / "missing.json"))
    import subprocess

    from tools.bench_compare import REPO

    rev = next(
        (
            r
            for r in ("heads/main", "heads/master")
            if subprocess.run(
                ["git", "-C", REPO, "rev-parse", "--verify", "-q", r],
                capture_output=True,
            ).returncode
            == 0
        ),
        None,
    )
    if rev is None:
        pytest.skip("no slashed head ref resolves (detached HEAD?)")
    total, qs = load_queries(rev)
    # loose content pin: the branch tip's BENCH_LOCAL.json just has to
    # parse into a non-empty detail map (the >=149 count only holds on
    # the pinned DEFAULT_BASELINES revisions, asserted above)
    assert total > 0 and qs


def test_load_queries_guard_extended_run_uses_min2(tmp_path, capsys):
    """A run where the unstable-box guard bought extra steady passes
    must report its sample-count-matched floor (value_min2) as the
    total, not the extended min's biased-low value (r15 ADVICE)."""
    p = tmp_path / "noisy.json"
    p.write_text(
        json.dumps(
            {
                "value": 120.0,
                "value_min2": 125.0,
                "n_extra_steady": 2,
                "queries": {"q": 1.0},
            }
        )
    )
    total, qs = load_queries(str(p))
    assert total == 125.0 and qs == {"q": 1.0}
    assert "value_min2" in capsys.readouterr().out

    # pre-r16 artifact: no value_min2 recorded -> keep value, warn
    p2 = tmp_path / "old_noisy.json"
    p2.write_text(
        json.dumps({"value": 120.0, "n_extra_steady": 1, "queries": {}})
    )
    total2, _ = load_queries(str(p2))
    assert total2 == 120.0
    assert "biased low" in capsys.readouterr().out

    # stable run: untouched, silent
    p3 = tmp_path / "stable.json"
    p3.write_text(
        json.dumps(
            {"value": 110.0, "n_extra_steady": 0, "queries": {"q": 2.0}}
        )
    )
    total3, _ = load_queries(str(p3))
    assert total3 == 110.0
    assert capsys.readouterr().out == ""


def test_time_queries_clears_job_group_after_a_raising_query(spark):
    """A query that raises mid-pass must not leave the session's later
    jobs tagged with its ``bench:*`` job group."""
    import bench

    def boom(spark, sf_dir):
        raise RuntimeError("query failed")

    with pytest.raises(RuntimeError, match="query failed"):
        bench._time_queries(spark, {"boom": boom}, "", passes=1, job_counts={})
    assert spark.sparkContext.getLocalProperty("spark.jobGroup.id") is None
