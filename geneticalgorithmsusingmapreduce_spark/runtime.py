"""Lifecycles of intermediate results.

There are two:

- **The entry scope.** It owns everything an entry leaves behind for
  its returned DataFrame to read: ``scoped_persist`` materializes a
  shared subtree (both sides of a self-join, a fold read by two
  branches, a ladder rung), ``scoped_tempdir`` makes a temp directory
  (a round-trip store, an index generation), ``scoped_free`` hands over
  checkpoints (a stream's final state, a clustering loop's result), and
  ``scoped_cleanup`` registers any other release (drop a temp table).
  Each appends a release callable to the current entry's scope.  Each
  time ``catalog.register`` builds an entry, ``release_scopes(keep=1)``
  runs the releases of every scope older than the previous entry's.  A
  returned DataFrame therefore stays computable while the next entry is
  built and collected, and what it reads is freed when the entry after
  next is built (or at interpreter exit).  A released cache only
  recomputes, but a released checkpoint or store is the only copy of its
  rows, which is why the release waits an extra entry rather than
  running at the next one.
- **Loop rotation.** The GA, clustering and streaming loops hold one
  generation of state at a time: checkpoint the new state, then
  ``free_checkpoint`` the one it replaced.  These never touch the
  registry.

Inside ``truncated_persists()`` (the curation ladders), scoped_persist
checkpoint-truncates instead of caching; the release is the same.
"""

from __future__ import annotations

import atexit
import contextlib
import contextvars
import logging
import shutil
import tempfile

from pyspark.sql import DataFrame

# per-entry scopes, oldest first; each is a LIFO of release callables
_SCOPES: list[list] = [[]]
_TRUNCATE = contextvars.ContextVar("gamr_truncate_persists", default=False)
_log = logging.getLogger(__name__)


@contextlib.contextmanager
def truncated_persists():
    """While active in the calling context, scoped_persist()
    checkpoint-truncates each frame to a plan leaf instead of caching it.

    Why: a persist keeps the full logical plan behind its
    InMemoryRelation, so in a ladder that nests 4-6 persisted rungs every
    downstream action re-analyzes the whole pyramid, and AQE re-plans
    that tree once per materialized Exchange.  A leaf makes each re-plan
    O(rung), not O(ladder).  Standalone operators (shallow plans, one or
    two persists) keep plain persist: there the checkpoint's eager job
    and lost output partitioning cost more than the re-analysis saved.

    Consequences callers see:

    - the checkpoints run eagerly, so the rungs execute while the ladder
      is being built and a runtime error surfaces at build time, not at
      the first action on the result;
    - the flag is a ContextVar: other threads (and contexts) keep plain
      persist while one thread builds a ladder;
    - a session without ``_jsparkSession`` (Spark Connect) cannot
      checkpoint-truncate, so scoped_persist falls back to plain persist.

    Reentrant (ladders compose)."""
    token = _TRUNCATE.set(True)
    try:
        yield
    finally:
        _TRUNCATE.reset(token)


def scoped_cleanup(fn) -> None:
    """Register ``fn`` to run when the current entry's scope is released
    (see the module docstring), e.g. dropping a temp table the returned
    DataFrame still reads from."""
    _SCOPES[-1].append(fn)


def scoped_tempdir(prefix: str) -> str:
    """Make a temp directory that is removed when the current entry's
    scope is released, so a returned DataFrame can read from it."""
    d = tempfile.mkdtemp(prefix=prefix)
    scoped_cleanup(lambda: shutil.rmtree(d, ignore_errors=True))
    return d


def scoped_free(*dfs: DataFrame) -> None:
    """Register free_checkpoint of each of ``dfs`` in the current entry's
    scope: checkpoints a returned DataFrame still reads from."""
    for df in dfs:
        scoped_cleanup(lambda df=df: free_checkpoint(df))


def scoped_persist(df: DataFrame) -> DataFrame:
    """Materialize ``df`` for the current entry scope and return the frame
    to read from: ``df`` itself, persisted, or inside truncated_persists()
    a checkpoint-truncated leaf.  Either way the release is
    free_checkpoint, which unpersists a cached frame."""
    if _TRUNCATE.get() and hasattr(df.sparkSession, "_jsparkSession"):
        out = local_checkpoint_truncated(df)
    else:
        out = df.persist()
    scoped_free(out)
    return out


def release_scopes(keep: int = 0) -> int:
    """Run the releases of every scope but the newest ``keep``, newest
    registration first, and open a fresh scope for what is registered
    next.  Returns how many releases ran without raising; a failing one
    (a handle whose session has stopped) is logged and skipped."""
    cut = max(len(_SCOPES) - keep, 0)
    old = [fn for scope in _SCOPES[:cut] for fn in scope]
    del _SCOPES[:cut]
    _SCOPES.append([])
    n = 0
    for fn in reversed(old):
        try:
            fn()
            n += 1
        except Exception as exc:
            _log.debug("release_scopes: release skipped (%s)", exc)
    return n


atexit.register(release_scopes)


def local_checkpoint_truncated(df: DataFrame, eager: bool = True) -> DataFrame:
    """localCheckpoint + FRESH leaf statistics — the iterative-loop
    lineage truncation that actually stays O(1) per iteration.

    ``Dataset.localCheckpoint`` truncates the plan to a LogicalRDD but
    PRESERVES the source plan's estimated statistics through it.  In a
    loop whose per-iteration plan contains joins, the size-only
    estimator multiplies child sizes (inner-join sizeInBytes = product
    of children), so the carried estimate COMPOUNDS: sizeInBytes's
    digit count doubles every iteration (a join-composed SGA
    generation went 7 → 15 → 29 → … → 902 digits by generation 7),
    and every subsequent plan's stats pass multiplies those BigInts —
    wall time per generation triples from ~gen 18 regardless of data
    size (292 s/generation of pure driver-side BigInteger.multiply on
    a 64-row population). The SGA generation is join-free today, but
    the loops keep the reset so no plan shape can bring the trap back.

    The fix rebuilds the DataFrame over the checkpointed RDD with
    default leaf stats (sizeInBytes = spark.sql.defaultSizeInBytes):
    size-based planning inside ONE generation is unaffected — the
    loop's join sides that must broadcast are hinted, AQE re-plans on
    runtime sizes anyway — and the estimate no longer crosses
    iterations.  Uses SparkSession.internalCreateDataFrame (Scala
    package-private = JVM-public; stable across Spark 3.x/4.x — the
    same entry point PySpark's own createDataFrame path rides).

    Classic-sessions only (r8 ADVICE): the rebuild rides JVM-private
    plumbing that Spark Connect sessions don't expose — fail with a
    clear error rather than an AttributeError deep in py4j.  Two
    physical caveats of the rebuilt LogicalRDD: it drops the
    checkpointed plan's output PARTITIONING/ordering (downstream
    stages that relied on it re-exchange — the GA loop's next
    generation re-shuffles on a fresh seeded key anyway, so nothing is
    lost there; callers that need the partitioning should keep plain
    localCheckpoint), and leaf stats reset to
    spark.sql.defaultSizeInBytes (the point)."""
    if not hasattr(df.sparkSession, "_jsparkSession"):
        raise RuntimeError(
            "local_checkpoint_truncated requires a classic (JVM-local) "
            "SparkSession; Spark Connect sessions don't expose the "
            "internalCreateDataFrame rebuild path. Use "
            "df.localCheckpoint() and bound your loop's join-stats "
            "growth another way (e.g. write/read a generation store)."
        )
    ck = df.localCheckpoint(eager=eager)
    spark = df.sparkSession
    jdf = ck._jdf
    jrdd = jdf.queryExecution().toRdd()
    new_jdf = spark._jsparkSession.internalCreateDataFrame(
        jrdd, jdf.schema(), False
    )
    out = DataFrame(new_jdf, spark)
    # keep a handle to the CHECKPOINTED RDD: DataFrame.unpersist() does
    # not free localCheckpoint blocks (they belong to the RDD, not the
    # cache manager), so a loop that rotates checkpointed state would
    # accumulate block storage for every superseded generation until
    # JVM GC + ContextCleaner get around to it (r8 ADVICE). Callers
    # rotate with free_checkpoint(old) instead.
    out._gamr_ck_jrdd = jrdd
    return out


def free_checkpoint(df: DataFrame) -> None:
    """Release a checkpointed frame's RDD blocks (non-blocking), or
    unpersist an ordinary cached frame.

    unpersist() frees nothing of a checkpoint: its blocks belong to the
    checkpointed RDD, not to the cache manager.  A plain
    ``localCheckpoint`` frame's plan is a LogicalRDD over that RDD.  A
    local_checkpoint_truncated frame keeps the handle captured at
    checkpoint time, a WRAPPER (SQLExecutionRDD → MapPartitionsRDD →
    the checkpointed RDD → LocalCheckpointRDD), so walk its linear
    lineage and unpersist every ancestor holding a valid storage
    level."""
    jrdd = getattr(df, "_gamr_ck_jrdd", None)
    try:
        if jrdd is None:
            df.unpersist()
            plan = df._jdf.queryExecution().analyzed()
            if plan.getClass().getSimpleName() == "LogicalRDD":
                rdd = plan.rdd()
                if rdd.getStorageLevel().isValid():
                    rdd.unpersist(False)
            return
        r, depth = jrdd, 0
        while r is not None and depth < 16:
            if r.getStorageLevel().isValid():
                r.unpersist(False)
            deps = r.dependencies().iterator()
            r = deps.next().rdd() if deps.hasNext() else None
            depth += 1
    except Exception as exc:
        _log.debug("free_checkpoint: release skipped (%s)", exc)
