"""Plan-quality audit: mechanical checks on the physical plans.

For every headline query, prints shuffle/broadcast/scan-width counts and
flags plan smells:

- fact scans reading more columns than the query needs (pruning broken)
- CartesianProduct where not expected (brute-force ops excepted)
- sort-merge joins where a dimension broadcast was expected

Usage: python tools/explain_audit.py [sf_dir [name ...]]  (default: HEADLINE)
"""

from __future__ import annotations

import os
import re
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import __spark_entry__ as entrymod
from bench import HEADLINE
from sales_data_etl_pipeline_spark.session import get_spark

#: Queries allowed to contain a cartesian/nested-loop product (pairwise or
#: broadcast-scalar plans).
CARTESIAN_OK = {
    "text_unigram_logprob",  # 1-row corpus-total broadcast (text.py crossJoin)
    # 1-row (s_total, t_total) broadcast onto the 1024-row bucket model
    # (corpus.dsir_weights) — same class as the unigram corpus total
    "corpus_dsir_weights",
    # 1-row train-token-total N broadcast onto eval positions
    # (text.trigram_backoff_score) — same class as the unigram total
    "text_trigram_backoff",
    "dedup_ngram_jaccard",
    "similarity_topk",
    "similarity_topk_ivf",
    # 1-row global-average-balance broadcast (scalar-subquery pattern);
    # the BroadcastNestedLoopJoin carries exactly one build-side row
    "q22_dormant_customers",
    # 1-row global-MAX broadcast (Q15's correlated scalar, decorrelated)
    "q15_top_supplier",
    # 1-row global-total broadcasts (share-of-total arithmetic)
    "q11_important_parts",
    "corpus_domain_mixture",
    # shared-shingle candidate join, the documented exact-containment
    # primitive (same family as dedup_ngram_jaccard)
    "dedup_containment",
    # ADC lookup-table build: queries × CODEBOOK (K entries — bounded
    # by the codebook, never by the corpus; the corpus side itself is
    # touched only through the (block, code) hash join)
    "similarity_topk_pq",
    "similarity_topk_ivfpq",
    # same ADC family: residual LUT build is queries × probed-list
    # CODEBOOK rows (K_coarse·K_pq entries) — codebook-bounded, never
    # corpus-bounded; corpus side still arrives via the (list, block,
    # code) hash join (r9 verdict item 3)
    "similarity_topk_ivfpq_residual",
    # Lloyd assignment: corpus × K-centroid broadcast (K·dim ints) —
    # codebook-bounded by construction, the embarrassingly parallel
    # half of k-means training
    "embedding_kmeans_train",
    # same Lloyd-assignment broadcast inside SemDeDup's train+assign;
    # the pair test itself is a centroid_id equi-join, never cartesian
    "dedup_semantic",
    # 1-row node-count broadcast (the N in rank_ppb = 10⁹/N)
    "graph_pagerank",
    # 1-row corpus-total broadcast via unigram_logprob (same as
    # text_unigram_logprob — perplexity tiers compose on top of it)
    "text_perplexity_buckets",
}


def audit(name: str, plan: str) -> list[str]:
    smells = []
    n_exchange = len(re.findall(r"\bExchange\b", plan))
    n_bcast = len(re.findall(r"BroadcastHashJoin", plan))
    n_smj = len(re.findall(r"SortMergeJoin", plan))
    n_cart = len(
        re.findall(r"CartesianProduct|BroadcastNestedLoopJoin", plan)
    )
    widths = [
        len(m.group(1).split(","))
        # stop at end-of-line: Spark truncates long ReadSchema strings
        # WITHOUT the closing '>', and a multi-line match would fuse
        # adjacent scans into one phantom wide scan
        for m in re.finditer(r"ReadSchema: struct<([^>\n]*)", plan)
    ]
    print(
        f"{name}: exchanges={n_exchange} broadcast_joins={n_bcast} "
        f"sortmerge={n_smj} cartesian={n_cart} scan_widths={widths}"
    )
    if n_cart and name not in CARTESIAN_OK:
        smells.append(f"{name}: unexpected cartesian/nested-loop join")
    if any(w > 8 for w in widths):
        smells.append(f"{name}: scan reads {max(widths)} columns — pruning suspect")
    return smells


def main() -> int:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    spark = get_spark("explain-audit")
    qs = entrymod.queries()
    smells: list[str] = []
    for name in sys.argv[2:] or HEADLINE:
        if name.startswith("streaming"):
            continue
        df = qs[name](spark, sf_dir)
        plan = df._jdf.queryExecution().executedPlan().toString()
        smells += audit(name, plan)
    print()
    if smells:
        print("SMELLS:")
        for s in smells:
            print(" -", s)
    else:
        print("no plan smells detected")
    return 1 if smells else 0


if __name__ == "__main__":
    raise SystemExit(main())
