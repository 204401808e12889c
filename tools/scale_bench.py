"""Paired scale timing: run selected catalog entries at two sf dirs
(default driver sf0.1 vs local gen sf1 — 10x) with bench.py's min-of-3
noop-sink protocol, and print one JSON line per entry plus a summary:

  {"name": ..., "small_sec": ..., "big_sec": ..., "ratio": ...}

ratio ~<= data ratio (10x) means at-most-linear scaling; entries whose
runtime is dominated by fixed per-job overhead at these sizes show
ratios near 1. Evidence rows for BASELINE.md's sf1 section (r4 VERDICT
ask #1).

Usage: python tools/scale_bench.py [entry ...]
  SMALL_SF_DIR (default /root/testdata/sf0.1)
  BIG_SF_DIR   (default /root/repo/.localdata/sf1)
"""

from __future__ import annotations

import json
import os
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

from geneticalgorithmsusingmapreduce_spark import catalog  # noqa: E402
from geneticalgorithmsusingmapreduce_spark.session import build_session  # noqa: E402
from tools.time_entry import time_entry  # noqa: E402

DEFAULT_ENTRIES = [
    # dedup / LSH / cluster / curation
    "dedup_exact_text", "dedup_exact_digest", "minhash_signatures",
    "dedup_minhash_lsh", "dedup_ngram_jaccard", "dedup_simhash",
    "dedup_embedding_cosine", "dedup_cosine_banded",
    "dedup_clusters", "dedup_clusters_star", "neardup_pairs_roundtrip",
    "corpus_curation", "corpus_curation_neardup", "decontaminate",
    # ANN / IVF
    "emb_topk_dot", "emb_lsh_pairs", "emb_ivf_topk",
    "emb_ivf_topk_trained", "emb_ivf_recall", "emb_kmeans_clusters",
    # sketches / joins
    "cms_user_counts", "hll_distinct_users", "hll_distinct_by_type",
    "bloom_join_prune", "join_bucketed_revenue",
]


def main() -> None:
    small = os.environ.get("SMALL_SF_DIR", "/root/testdata/sf0.1")
    big = os.environ.get("BIG_SF_DIR", f"{REPO}/.localdata/sf1")
    names = sys.argv[1:] or DEFAULT_ENTRIES
    runs = int(os.environ.get("SCALE_BENCH_RUNS", "3"))
    # SCALE_BENCH_CONF="k=v,k=v" reaches create-time-only core confs
    # (spark.io.compression.codec=zstd keeps the widest text shuffles
    # inside a laptop-sized spill budget at the sf100 decade).
    extra = dict(
        kv.split("=", 1)
        for kv in os.environ.get("SCALE_BENCH_CONF", "").split(",")
        if "=" in kv
    )
    spark = build_session("gamr-scale-bench", extra_conf=extra or None)
    spark.sparkContext.setLogLevel("ERROR")
    rows = []
    for name in names:
        fn = catalog.QUERIES[name]
        # process-level artifact caches (centroids, near-dup pairs) are
        # per-sf_dir keyed, so both scales train/build their own
        s = time_entry(spark, fn, small, runs)
        b = time_entry(spark, fn, big, runs)
        row = {
            "name": name, "small_sec": s, "big_sec": b,
            "ratio": round(b / s, 2) if s > 0 else None,
        }
        rows.append(row)
        print(json.dumps(row), flush=True)
    worst = sorted(rows, key=lambda r: -(r["ratio"] or 0))[:5]
    print(json.dumps({
        "metric": "scale_bench_10x",
        "small": small, "big": big,
        "entries": len(rows),
        "sum_small": round(sum(r["small_sec"] for r in rows), 2),
        "sum_big": round(sum(r["big_sec"] for r in rows), 2),
        "worst_ratios": {r["name"]: r["ratio"] for r in worst},
    }))
    spark.stop()


if __name__ == "__main__":
    main()
