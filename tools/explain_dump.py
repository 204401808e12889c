"""Dump finalized physical plans for the headline queries to EXPLAIN.md —
human-readable scale evidence (pushdown, broadcast sides, exchange counts,
WholeStageCodegen spans) complementing the machine checks in
tests/test_plans.py.

Usage: python tools/explain_dump.py [sf_dir]
"""

from __future__ import annotations

import os
import re
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

from geneticalgorithmsusingmapreduce_spark import catalog  # noqa: E402
from geneticalgorithmsusingmapreduce_spark.session import build_session  # noqa: E402

# one representative per operator family
HEADLINE = [
    "scan_filter_project",      # pushdown + pruning
    "flagship_best_by_flag",    # grouped argmax, single exchange
    "sga_generation",           # tournament window + pairing + crossover
    "cga_generation",           # shuffle-free vector update
    "join_broadcast_revenue",   # broadcast dim join
    "join_bucketed_revenue",    # bucketed fact⋈fact, no join exchange
    "dedup_exact_digest",       # 16-byte-key exchange
    "dedup_minhash_lsh",        # band/bucket equi-join
    "dedup_minhash_lsh_capped", # + hot-bucket guard: window count on the join key
    "emb_ivf_topk",             # IVF probe equi-join
    "decontaminate",            # broadcast semi-probe
    "corpus_curation",          # composed pipeline, one keyed exchange
    "events_partitioned_scan",  # partition pruning
    "pricing_summary",          # TPC-H Q1 shape
    "cms_user_counts",          # mergeable-summary agg (cells not rows)
    "bloom_join_prune",         # runtime-filter probe, one broadcast
    "events_series_similarity", # day+pattern bucket equi-join
    "emb_ivf_recall",           # trained-IVF vs exact, one left join
    "dedup_cosine_banded",      # skinny banded self-join + one verify
    "sga_tournament",           # r9: bucket-stored genome lookup —
                                # zero genome-carrying exchanges
    "emb_ivf_recall_pq_rerank", # r9: PQ ADC LUT join + exact re-rank
    "corpus_curation_chunk_neardup",  # r9: composed chunk containment
    "corpus_curation_chunk_containment",  # r10: candidate-restricted
                                          # full-corpus chunk stage
    "text_bm25_topk",           # r10: map-side retrieval, no posting
                                # shuffle, TakeOrderedAndProject
    "dedup_semantic_semdedup",  # r10: one cent_id exchange, tiled
                                # dense blocks in a grouped kernel
    "dedup_semantic_semdedup_balanced",  # r11: skew-bounded block-pair
                                # decomposition, output-invariant
    "corpus_curation_semdedup",  # r11: semantic stage composed into
                                # the curation pipeline
    "emb_ivf_recall_pq_residual",  # r10: residual-PQ ADC serve
    "text_unigram_logppl",      # r10: two linear passes + vocab join
    "emb_diversity_sample",     # r10: learned-stratum quota window
    "dedup_repeated_spans",     # r12: anchor-gram hash-agg + semi-join
                                # mark + per-doc gaps-and-islands
    "dedup_semantic_semdedup_sampled",  # r12: sampled training, exact
                                # assignment (the fallback under bound)
    "corpus_curation_full",     # r12: the fully-composed ladder
    "corpus_curation_ppl",      # r11: dedup-then-LM rank drop
]


def summarize(plan: str) -> str:
    n_ex = len(re.findall(r"Exchange ", plan))
    n_bc = len(re.findall(r"BroadcastHashJoin|BroadcastNestedLoop", plan))
    spans = sorted(set(int(m) for m in re.findall(r"\*\((\d+)\)", plan)))
    pushed = re.findall(r"PushedFilters: \[[^\]]*\]", plan)
    parts = re.findall(r"PartitionFilters: \[[^\]]*\]", plan)
    out = [f"exchanges={n_ex} broadcast_joins={n_bc} codegen_spans={len(spans)}"]
    out += [f"  {p}" for p in pushed[:3] if p != "PushedFilters: []"]
    out += [f"  {p}" for p in parts[:2] if p != "PartitionFilters: []"]
    return "\n".join(out)


def main():
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    spark = build_session("explain-dump")
    spark.sparkContext.setLogLevel("ERROR")
    lines = [
        "# EXPLAIN — finalized physical plans (AQE final), sf0.01",
        "",
        "Generated by `python tools/explain_dump.py`. One representative",
        "query per operator family; machine-checked invariants live in",
        "`tests/test_plans.py` — this file is the human-readable twin.",
        "",
    ]
    for name in HEADLINE:
        df = catalog.QUERIES[name](spark, sf_dir)
        df.collect()  # finalize AQE
        plan = df._jdf.queryExecution().executedPlan().toString()
        plan = plan.split("== Initial Plan ==")[0].rstrip()
        lines += [
            f"## {name}",
            "",
            summarize(plan),
            "",
            "```",
            plan,
            "```",
            "",
        ]
    with open(os.path.join(REPO, "EXPLAIN.md"), "w") as f:
        f.write("\n".join(lines))
    print(f"wrote EXPLAIN.md ({len(HEADLINE)} plans)")
    spark.stop()


if __name__ == "__main__":
    main()
