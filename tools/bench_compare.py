"""Per-query bench mover report against one or more baselines.

The r13 verdict (item #6) requires adjudicating r14 movers against
BOTH the r12 and r13 driver numbers: the r13 driver run carried a
uniform ~10% machine-context shift (bracketed by three same-tree
builder runs at 119.3/123.1/124.4 s), so deltas against r13 alone
under- and over-flag. This tool diffs a candidate per-query map
against each baseline and prints queries that moved beyond a ratio
threshold in either direction, plus the suite-level totals.

Baselines are git revisions of BENCH_LOCAL.json (the driver commits
its own per-query detail there at each round close) or plain files.

Usage::

    python tools/bench_compare.py [--candidate PATH]
        [--baseline NAME=GITREV_OR_PATH ...] [--threshold 1.3]

Defaults: candidate = this checkout's BENCH_LOCAL.json, baselines =
r12=2e6ef8d, r13=11315bc (the driver round-close commits), 1.3×.
"""

from __future__ import annotations

import argparse
import json
import os
import subprocess

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

DEFAULT_BASELINES = ["r12=2e6ef8d", "r13=11315bc"]


def load_queries(spec: str) -> tuple[float, dict[str, float]]:
    """spec is a path, or a git revision to read BENCH_LOCAL.json at.

    Disambiguation (r14 ADVICE): an existing file wins, then anything
    ``.json``-suffixed is treated as a path (so a missing data file
    errors as a file, not as a git rev), and everything else goes to
    git — which accepts slashed revisions like ``origin/main`` that
    the old '/'-substring heuristic misread as filenames."""
    if os.path.exists(spec) or spec.endswith(".json"):
        with open(spec) as f:
            doc = json.load(f)
    else:
        raw = subprocess.check_output(
            ["git", "-C", REPO, "show", f"{spec}:BENCH_LOCAL.json"],
            text=True,
        )
        doc = json.loads(raw)
    total = float(doc["value"])
    if doc.get("n_extra_steady"):
        # The unstable-box guard bought this run extra steady samples,
        # so its min-based `value` carries a small downward bias vs a
        # stable 2-pass run. Compare at matching sample counts via the
        # first-2-passes floor when recorded (bench.py >= r16), and say
        # so — the per-query map keeps the extended minima, which is
        # fine for mover RATIOS (both directions flagged).
        min2 = doc.get("value_min2")
        if min2 is not None:
            print(
                f"  note: {spec} used n_extra_steady="
                f"{doc['n_extra_steady']}; totals use value_min2={min2}"
            )
            total = float(min2)
        else:
            print(
                f"  note: {spec} used n_extra_steady="
                f"{doc['n_extra_steady']} and records no value_min2; "
                "its total is biased low vs 2-pass runs"
            )
    return total, {
        k: float(v) for k, v in doc["queries"].items()
    }


def movers(
    cand: dict[str, float], base: dict[str, float], threshold: float
) -> list[tuple[str, float, float, float]]:
    out = []
    for name in sorted(set(cand) & set(base)):
        c, b = cand[name], base[name]
        if b <= 0:
            continue
        r = c / b
        if r >= threshold or r <= 1.0 / threshold:
            out.append((name, b, c, r))
    out.sort(key=lambda t: -t[3])
    return out


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--candidate", default=f"{REPO}/BENCH_LOCAL.json")
    ap.add_argument(
        "--baseline",
        action="append",
        default=None,
        metavar="NAME=GITREV_OR_PATH",
    )
    ap.add_argument("--threshold", type=float, default=1.3)
    args = ap.parse_args()
    cand_total, cand = load_queries(args.candidate)
    print(f"candidate: {args.candidate} total={cand_total:.2f}s "
          f"({len(cand)} queries)")
    for spec in args.baseline or DEFAULT_BASELINES:
        name, _, ref = spec.partition("=")
        base_total, base = load_queries(ref)
        common = set(cand) & set(base)
        print(
            f"\nvs {name} ({ref}): total {base_total:.2f}s -> "
            f"{cand_total:.2f}s ({cand_total / base_total:.3f}x), "
            f"{len(common)} common queries"
        )
        ms = movers(cand, base, args.threshold)
        if not ms:
            print(f"  no query moved beyond {args.threshold}x either way")
        for q, b, c, r in ms:
            print(f"  {q:42s} {b:7.3f}s -> {c:7.3f}s  {r:5.2f}x")
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
