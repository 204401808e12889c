"""Assemble the sf10→sf100 (third decade) scale matrix — r6 VERDICT #3:
one row per registered entry, zero blank cells. Sources: the
`.localdata/sb100_*.json` + `.localdata/sf100_*.json` evidence lines
(scale_bench output), plus the per-entry classification below for the
rows that are deliberately NOT ratio rows.

Statuses:
  measured           min-of-N noop-sink ratio, sf10 → sf100 (10× data;
                     on a fixed 32-thread box ≥ saturation implies ~10×)
  measured (cliff)   measured, and the ratio IS the documented finding
  excluded-by-design the entry is a labeled baseline whose cost formula
                     forbids the third decade; the formula and the
                     registered scale-path sibling are the row
  fixture-bound      the entry never reads sf_dir (seeded fixed-size
                     fixture); its scale story lives on the cited bench
                     surface instead

Usage: python tools/sf100_matrix.py [--check]   (--check: exit 1 on
blank cells — the zero-blank-cell gate)
"""

from __future__ import annotations

import glob
import json
import os
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

from geneticalgorithmsusingmapreduce_spark import catalog  # noqa: E402

# measured rows recorded under probe/config aliases → registered entry
ALIASES = {
    "simhash_capped64": "dedup_simhash_capped",
    "minhash_capped64": "dedup_minhash_lsh_capped",
    "cosine_planes24_b4": "dedup_cosine_banded_sized",
    # W3 at shuffle.buckets_for_pop (512 @ 278.6M) — the fixed-32 gate
    # config OOM-killed the worker at sf100; W1/W3 parity verified at
    # the sized count (BASELINE.md r7)
    "tournament_pandas_sized": "sga_tournament_pandas",
    # (r8's "streaming_neardup_guarded" probe alias is GONE in r9: the
    # guarded variant is now a REGISTERED entry under that exact name —
    # corpus hot-set guard, deterministic — and carries its own row;
    # the unguarded entry moved to excluded-by-design below.)
}

EXCLUDED = {
    "dedup_simhash": (
        "uncapped band self-join is output-quadratic on low-entropy text: "
        "626k-doc hot buckets → 575 BILLION in-bucket pairs at 5.5M docs "
        "(killed at 35 min, spill past disk). Scale path: "
        "dedup_simhash_capped (measured 1.78×)."
    ),
    "dedup_minhash_lsh": (
        "uncapped LSH buckets reach 9,094 docs → 450M candidates whose "
        "array verify OOM'd a 48 GB heap at sf100. Scale path: "
        "dedup_minhash_lsh_capped (measured 7.8×)."
    ),
    "emb_lsh_pairs": (
        "labeled fixed-8-plane baseline: candidates ≈ n²/2^(p+1) = "
        "(2.2e6)²/2⁹ ≈ 9.5e9 at sf100. Scale path: "
        "dedup_cosine_banded_sized (planes_for_count, measured 1.26×)."
    ),
    "dedup_embedding_cosine": (
        "labeled fixed-8-plane baseline, same n²/2^(p+1) formula as "
        "emb_lsh_pairs. Scale path: dedup_cosine_banded_sized."
    ),
    "streaming_neardup": (
        "the UNGUARDED cumulative-history candidate join is "
        "hot-bucket-quadratic on the zipf corpus at the third decade "
        "(same 575e9-pair structure as uncapped dedup_simhash); the "
        "registered scale path since r9 is streaming_neardup_guarded "
        "(deterministic corpus hot-set prune, measured row below — "
        "r8's 6.18× row for this name was that guarded configuration "
        "as a probe)."
    ),
    "emb_cosine_banded_recall": (
        "contains the exact all-pairs ground truth (n²/2 ≈ 2.4e12 pairs "
        "at sf100) BY DESIGN — it prices the recall dial at gate scale; "
        "the approximation it grades is the measured "
        "dedup_cosine_banded_sized."
    ),
}

FIXTURE_BOUND = {
    "population_generate": "seeded spark.range(4096) — no sf input; GA "
        "scale story: sga_10kbit bench (pop 132,878) + convergence runs",
    "cga_init_vectors": "fixed CGA model width",
    "cga_sample": "fixed CGA model width; cga_1kbit_gen_sec bench",
    "cga_member_fitness": "fixed CGA model width",
    "cga_generation": "fixed CGA model width; cga_1kbit_gen_sec bench",
    "cga_convergence": "fixed CGA model width",
    "cga_update_join": "fixed CGA model width",
    "cga_tagged_union": "fixed CGA model width",
    "streaming_running_best": "seeded 512-row 4-micro-batch fixture; "
        "stateful machinery is the surface, not the volume",
    "incremental_sga": "fixed-size 2-generation foreachBatch fixture",
    "csv_json_roundtrip": "seeded 256-row interchange-fidelity fixture "
        "(format round-trip is the surface, not the volume)",
    "orc_roundtrip": "seeded 256-row interchange-fidelity fixture",
    "sequencefile_roundtrip": "seeded 512-row interchange-fidelity "
        "fixture (byte-exact LongArrayWritable layout)",
}

# ran at sf100, did not complete on THIS box — an environment ceiling
# or hot-bucket structure; currently EMPTY: events_series_similarity
# (the one r7 spill death — 2.75G in-bucket pairs at sf10, disk-killed
# at sf100 even with zstd) was fixed in-round by threading the
# hot-bucket guard into the registered entry (max_bucket=64, oracle
# twinned) and now carries a measured 2.19x row (.localdata/sf100_r).
SPILL_BOUND: dict[str, str] = {}

# measured rows whose ratio is itself the documented finding
CLIFF = {
    "dedup_cosine_banded": (
        "the registered 16-plane space IS the documented quadratic "
        "cliff at 2.2M vectors (r6 `weak` grade) — kept as the "
        "gate-corpus config; dedup_cosine_banded_sized is the "
        "planes_for_count-sized scale path (1.26×)"
    ),
}


def load_measured() -> dict[str, dict]:
    measured: dict[str, dict] = {}
    pats = [
        os.path.join(REPO, ".localdata", "sb100_*.json"),
        os.path.join(REPO, ".localdata", "sf100_*.json"),
        # r8 rows last: later rounds supersede (skinny tournament,
        # unpinned broadcast, the four r8 registrations); superseded
        # in-round attempts live under .localdata/attempts_r8/.
        # CONVENTION for future rounds: append each round's
        # sb_r{N}_*.json pattern BELOW the previous one (an sb_r*_*
        # glob would sort r10 before r9 and break last-wins).
        os.path.join(REPO, ".localdata", "sb_r8_*.json"),
        # r9: bucket-stored tournament (sb_r9_bucket2 supersedes the
        # sorted-write sb_r9_bucket attempt), new PQ/append/guarded/
        # chunk-pipeline registrations
        os.path.join(REPO, ".localdata", "sb_r9_*.json"),
    ]
    for pat in pats:
        for f in sorted(glob.glob(pat)):
            for ln in open(f):
                try:
                    d = json.loads(ln)
                except json.JSONDecodeError:
                    continue
                if "name" in d and "ratio" in d:
                    name = ALIASES.get(d["name"], d["name"])
                    # keep the LAST row (later files supersede: e.g. the
                    # bucket-sizing fix re-measured join_bucketed_revenue)
                    measured[name] = d
    return measured


def main() -> None:
    measured = load_measured()
    rows = []
    blanks = []
    for n in catalog.QUERIES:
        if n in EXCLUDED:
            rows.append((n, "excluded-by-design", "—", EXCLUDED[n]))
        elif n in SPILL_BOUND:
            rows.append((n, "spill-bound (box)", "—", SPILL_BOUND[n]))
        elif n in FIXTURE_BOUND:
            rows.append((n, "fixture-bound", "—", FIXTURE_BOUND[n]))
        elif n in measured:
            d = measured[n]
            status = "measured (cliff)" if n in CLIFF else "measured"
            note = CLIFF.get(
                n, f"{d['small_sec']:.2f} → {d['big_sec']:.2f} s"
            )
            rows.append((n, status, f"{d['ratio']:.2f}×", note))
        else:
            rows.append((n, "BLANK", "", ""))
            blanks.append(n)
    print("| entry | sf10→sf100 status | ratio | evidence |")
    print("|---|---|---|---|")
    for n, status, ratio, note in rows:
        print(f"| `{n}` | {status} | {ratio} | {note} |")
    n_meas = sum(1 for r in rows if r[1].startswith("measured"))
    print(
        f"\n{len(rows)} entries: {n_meas} measured, "
        f"{len(EXCLUDED)} excluded-by-design, "
        f"{len(SPILL_BOUND)} spill-bound, "
        f"{len(FIXTURE_BOUND)} fixture-bound, {len(blanks)} blank"
    )
    if blanks:
        print("BLANK:", " ".join(blanks))
        if "--check" in sys.argv:
            sys.exit(1)


if __name__ == "__main__":
    main()
