"""Argv-compatible launchers mirroring the reference's three mains.

The reference's only user interface is three ``hadoop jar`` commands
(``reference README:32-54``); this module accepts the same positional
arguments with the same meanings and dispatches to the Spark drivers:

  ga     <nMaps> <nReducers> <variables> <nIterations> <popTimesNlogN>
         (``reference src/edu/illinois/ga/MapReduce.java:445-456``;
         pop = ceil(mult * n * log2 n) at ``:454``)
  cga    <nMaps> <nReducers> <vectorSize> <nIterations> <popTimesNLogN>
         <tournamentSize> <iter>
         (``reference src/edu/illinois/ga/CGA.java:504-518``; sizing
         replicated exactly from ``:331-335`` with the reference's own
         constants LONG_BITS=64 / LONGS_PER_ARRAY=12 (``:33-34``):
         numSplits = ceil(strLen/nMaps/64/11) splits PER MAP of 704
         payload bits each, tot = 704·numSplits·nMaps padded capacity,
         pop = ceil(strLen·log2(tot))·mult — the printed "Splits =" is
         the per-map count, and the engine evolves all tot bits, both
         as the reference does)
  inc_ga <nMaps> <nReducers> <nIterations>
         (``reference src/edu/illinois/incr_ga/MapReduce.java:492-500``;
         genome width / population are the reference's hardcoded
         constants LONGS_PER_ARRAY=1000 -> 64,000 bits, POPULATION=6000
         at ``:31-32``)

Degree-of-parallelism mapping: nMaps drives input/generate parallelism
(the reference's map tasks, ``MapReduce.java:290``) and nReducers the
tournament/shuffle bucket count (the windowed tournament ran inside each
reducer, ``:360``). On Spark these are hints, not hard task counts —
Catalyst/AQE still owns physical scheduling.

Usage:  python -m geneticalgorithmsusingmapreduce_spark ga 4 4 10000 100 10
"""

from __future__ import annotations

import sys

from pyspark.sql import SparkSession

_USAGE = {
    "ga": "ga <nMaps> <nReducers> <variables> <nIterations> <popTimesNlogN>",
    "cga": (
        "cga <nMaps> <nReducers> <vectorSize> <nIterations> "
        "<popTimesNLogN> <tournamentSize> <iter>"
    ),
    "inc_ga": "inc_ga <nMaps> <nReducers> <nIterations>",
}
# the incremental reference hardcodes its scale (incr_ga/MapReduce.java:31-32)
INC_GA_BITS = 64 * 1000  # LONG_BITS * LONGS_PER_ARRAY
INC_GA_POP = 6000


def _usage_err(msg: str) -> SystemExit:
    lines = [msg, "Usage: python -m geneticalgorithmsusingmapreduce_spark \\"]
    lines += [f"         {u}" for u in _USAGE.values()]
    return SystemExit("\n".join(lines))


def main(argv: list[str] | None = None, spark: SparkSession | None = None):
    """Dispatch one reference-style command line. Returns the driver's
    result object (SgaResult / CgaResult / IncrementalState) so tests and
    callers can assert on trajectories; ``python -m`` discards it.

    ``spark=None`` builds a session whose local parallelism matches the
    requested task counts (max(nMaps, nReducers) local cores — the
    closest Spark analogue of the reference's map/reduce slot counts);
    passing a session (tests, notebooks) uses it as-is, in which case
    nMaps only influences derived quantities (cGA split count).
    """
    argv = sys.argv[1:] if argv is None else argv
    if not argv or argv[0] not in _USAGE:
        raise _usage_err(f"unknown or missing command: {argv[:1] or '(none)'}")
    cmd, raw_args = argv[0], argv[1:]
    n_expected = len(_USAGE[cmd].split()) - 1
    if len(raw_args) != n_expected:
        raise _usage_err(
            f"{cmd}: expected {n_expected} args, got {len(raw_args)}"
        )
    try:
        args = [int(a) for a in raw_args]
    except ValueError as e:
        raise _usage_err(f"{cmd}: all arguments are integers ({e})") from None
    if any(a < 0 for a in args) or 0 in args[:2]:
        raise _usage_err(f"{cmd}: arguments must be positive")
    if cmd in ("ga", "cga") and args[2] < 2:
        # pop sizing divides by log2(problem size): 0/1-bit problems
        # would crash in math.log2 far from the argv layer
        raise _usage_err(f"{cmd}: problem size (arg 3) must be >= 2")
    if cmd in ("ga", "cga") and args[4] < 1:
        raise _usage_err(f"{cmd}: population multiplier must be >= 1")
    if cmd == "cga" and args[5] < 2:
        raise _usage_err("cga: tournament size must be >= 2")
    if cmd in ("ga", "inc_ga"):
        from .operators.crossover import MAX_BUCKETS

        if args[1] > MAX_BUCKETS:
            # nReducers is the tournament bucket count
            raise _usage_err(f"{cmd}: nReducers must be <= {MAX_BUCKETS}")

    own_session = spark is None
    if own_session:
        from .session import build_session

        spark = build_session(f"gamr-{cmd}", cpus=max(args[0], args[1]))
        spark.sparkContext.setLogLevel("ERROR")
    try:
        if cmd == "ga":
            from .plans import sga

            n_maps, n_reducers, n_bits, iters, mult = args
            pop = sga.pop_from_multiplier(n_bits, mult)
            print(f"Population = {pop}")
            return sga.run_sga(
                spark, n_bits=n_bits, pop_size=pop, seed=42,
                max_generations=iters, n_buckets=n_reducers,
            )
        if cmd == "cga":
            from .plans import cga as cga_plan

            n_maps, n_reducers, vec_size, iters, mult, t_size, it0 = args
            # reference sizing, replicated exactly (CGA.java:331-335):
            # numSplits is splits PER map, the model is padded up to
            # 704-bit shards, and pop = ceil(strLen·log2(tot))·mult.
            # "Splits = ..." prints the per-map count like the reference.
            splits_per_map, total_splits, _tot, pop = (
                cga_plan.reference_cli_sizing(vec_size, n_maps, mult)
            )
            print(f"Splits = {splits_per_map}")
            print(f"Pop = {pop}")
            res = cga_plan.run_cga(
                spark, num_splits=total_splits, t_size=t_size, seed=42,
                max_generations=iters, pop=pop,
            )
            if it0 != 0:
                # the reference's <iter> resumes a checkpointed model from
                # HDFS at iteration it0; this engine keeps the model in a
                # DataFrame, so a fresh invocation evolves from scratch
                # and it0 is applied as a pure relabeling of the reported
                # iteration numbers (matching the reference's counter)
                print(f"(iterations relabeled to start at {it0})")
                res.generations += it0
                for s in res.stats:
                    s.generation += it0
            return res
        # inc_ga
        from .streaming import incremental

        n_maps, n_reducers, iters = args
        return incremental.start_incremental_sga(
            spark, n_bits=INC_GA_BITS, pop_size=INC_GA_POP,
            generations=iters, seed=42, n_buckets=n_reducers,
        )
    finally:
        if own_session:
            spark.stop()
