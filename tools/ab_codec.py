"""Same-box A/B for spark.io.compression.codec (lz4 default vs zstd) —
r6 VERDICT #4: sf100 showed zstd ≈ 2× spill-byte reduction on wide text
shuffles; decide the session default with measured small/mid-scale rows
instead of guessing.

The codec is a create-time-only core conf, so each (codec, rep) runs in
its own subprocess session, STRICTLY ALTERNATING lz4/zstd so box drift
(page cache, JIT, thermal) hits both arms equally. Per entry we keep
the min across reps of the min-of-N in-process runs (bench.py's
noop-sink protocol).

Usage:
  python tools/ab_codec.py [sf_dir] [entry ...]     # orchestrator
  AB_CODEC_REPS=2 AB_CODEC_RUNS=2                   # knobs
Output: one JSON line per (codec, rep) from the workers, then a summary
line {"sf_dir":..., "entries": {name: {"lz4": s, "zstd": s,
"zstd_over_lz4": r}}} — ratios > 1 mean zstd is slower.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

DEFAULT_ENTRIES = [
    # wide-text shuffles (codec's best case), the LSH family, the full
    # pipeline, a genome shuffle, and a zero-exchange control
    "dedup_exact_text", "word_counts", "minhash_signatures",
    "dedup_minhash_lsh_capped", "corpus_curation_neardup",
    "sga_tournament", "window_analytics", "join_bucketed_revenue",
]


def worker(codec: str, sf_dir: str, names: list[str]) -> None:
    from geneticalgorithmsusingmapreduce_spark import catalog
    from geneticalgorithmsusingmapreduce_spark.session import build_session
    from tools.scale_bench import time_entry

    spark = build_session(
        f"gamr-ab-codec-{codec}",
        extra_conf={"spark.io.compression.codec": codec},
    )
    spark.sparkContext.setLogLevel("ERROR")
    assert spark.conf.get("spark.io.compression.codec") == codec
    out = {"codec": codec, "times": {}}
    runs = int(os.environ.get("AB_CODEC_RUNS", "2"))
    for n in names:
        out["times"][n] = time_entry(
            spark, catalog.QUERIES[n], sf_dir, runs=runs
        )
    print(json.dumps(out), flush=True)
    spark.stop()


def main() -> None:
    if sys.argv[1:2] == ["--worker"]:
        worker(sys.argv[2], sys.argv[3], sys.argv[4:])
        return
    args = sys.argv[1:]
    sf_dir = args[0] if args and os.path.isdir(args[0]) else \
        "/root/testdata/sf0.1"
    names = (args[1:] if args and os.path.isdir(args[0]) else args) \
        or DEFAULT_ENTRIES
    reps = int(os.environ.get("AB_CODEC_REPS", "2"))
    best: dict[str, dict[str, float]] = {
        n: {"lz4": float("inf"), "zstd": float("inf")} for n in names
    }
    for rep in range(reps):
        for codec in ("lz4", "zstd"):
            t0 = time.time()
            r = subprocess.run(
                [sys.executable, os.path.abspath(__file__), "--worker",
                 codec, sf_dir, *names],
                capture_output=True, text=True, cwd=REPO,
            )
            line = [ln for ln in r.stdout.splitlines()
                    if ln.startswith("{")][-1]
            got = json.loads(line)
            print(json.dumps({"rep": rep, **got,
                              "wall_sec": round(time.time() - t0, 1)}),
                  flush=True)
            for n, s in got["times"].items():
                best[n][codec] = min(best[n][codec], s)
    summary = {
        "sf_dir": sf_dir,
        "entries": {
            n: {
                "lz4": v["lz4"], "zstd": v["zstd"],
                "zstd_over_lz4": round(v["zstd"] / v["lz4"], 3),
            } for n, v in best.items()
        },
    }
    print(json.dumps(summary), flush=True)


if __name__ == "__main__":
    main()
