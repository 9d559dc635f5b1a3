"""Tuned SparkSession factory and the per-session state.

Scale posture (SURVEY.md §4.2/§4.3): AQE on (runtime coalescing, skew-join
splitting), shuffle partitions sized to the scheduler's
``defaultParallelism`` rather than the 200 default — that one number is
the parallelism source for every session, ours or a caller's (on a
cluster it is the total executor cores), Arrow on for any pandas
exchange, ANSI off so cast/overflow semantics match the DuckDB
oracle, and session timezone pinned to UTC so epoch/date projections are
deterministic across engines.
"""

from __future__ import annotations

import os
import threading
import weakref
from dataclasses import dataclass, field

from pyspark.sql import SparkSession

_UTC = ("spark.sql.session.timeZone", "UTC")
# Sessions share the SparkContext's cache, where a plan two sessions mark
# is one entry: marks are made and released under this lock.
_MARKS = threading.Lock()


def get_spark(app_name: str = "naqed-spark") -> SparkSession:
    # local[N] fixes defaultParallelism = N: the cores this process may run
    # on unless SPARK_GRAFT_CPUS says otherwise
    cpus = os.environ.get("SPARK_GRAFT_CPUS") or len(os.sched_getaffinity(0))
    builder = (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName(app_name)
        .config("spark.driver.memory", os.environ.get("NAQED_DRIVER_MEM", "16g"))
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        .config("spark.ui.enabled", "false")
    )
    return tune_session(builder.getOrCreate())


@dataclass(eq=False)
class SessionState:
    """What the package keeps per SparkSession. It is stored on the
    session object itself, so it lives and dies with that session.

    ``frames``: lazy analyzed DataFrames keyed ``(kind, sf_dir, ...)`` —
    the entity scans of ``catalog.load`` and the helper fragments that
    several registered keys share (``session_fragment``). The entity
    files are immutable for the life of a run, so a resolved scan is
    reusable like a metastore table, and reusing it saves the py4j round
    trips of rebuilding the plan on every query build. No data is held:
    every action still reads parquet.

    ``persists``: the frames the current build marked with
    ``scoped_persist``, released when the next registered build on this
    session starts (``begin_build``).

    ``pins``: the pin ledger, the RDD ids of the checkpoints this
    session's builds made (``_util.pin``), each freed by the code that
    made it or by ``release_checkpoints`` — never by another session."""

    frames: dict = field(default_factory=dict)
    persists: list = field(default_factory=list)
    pins: set = field(default_factory=set)


def _tune(spark: SparkSession) -> None:
    confs = [
        _UTC,
        ("spark.sql.adaptive.enabled", "true"),
        ("spark.sql.ansi.enabled", "false"),
        ("spark.sql.execution.arrow.pyspark.enabled", "true"),
        # an externally built session carries the 200 default: size
        # shuffles to the cores the caller gave it, never to an
        # environment default
        (
            "spark.sql.shuffle.partitions",
            str(spark.sparkContext.defaultParallelism),
        ),
    ]
    for k, v in confs:
        try:
            spark.conf.set(k, v)
        except Exception:
            pass  # non-runtime-settable in some deployments; defaults are close


def session_state(spark: SparkSession) -> SessionState:
    """The session's state; the first call attaches it and tunes the
    session (UTC timezone, AQE, ANSI off, Arrow, shuffle partitions)."""
    state = getattr(spark, "_naqed_state", None)
    if state is None:
        _tune(spark)
        state = spark._naqed_state = SessionState()
        with _MARKS:
            _live_states(spark).add(state)
    return state


def _live_states(spark: SparkSession) -> weakref.WeakSet:
    """The states of the live sessions on ``spark``'s SparkContext."""
    sc = spark.sparkContext.__dict__
    return sc.setdefault("_naqed_states", weakref.WeakSet())


def _plan_key(df) -> int:
    """Equal for frames whose plans share a cache entry (``sameResult``)."""
    if not hasattr(df, "_naqed_plan_key"):
        df._naqed_plan_key = df._jdf.queryExecution().analyzed().semanticHash()
    return df._naqed_plan_key


def scoped_persist(df):
    """Persist ``df`` for intra-query subtree reuse; the mark is released
    when the next registered query builds on the same session
    (``begin_build``).

    A lazy builder never sees the consuming action, so it cannot
    unpersist afterwards, and a session that runs many queries (the
    oracle sweep, a real pipeline) would otherwise accumulate every mark
    until storage eviction and GC churn stall unrelated keys (measured:
    417-key sweep total exec 211 s → 247 s purely from accumulation).
    Releasing a mark is safe — unlike a checkpoint, the lineage
    recomputes — so the worst case for an unusual caller (build A, build
    B, then run A) is a recompute, except for a plan another live session
    has marked: on Spark 4.1 a query planned against a cache entry that
    another thread clears can read it as empty, so that entry stays."""
    state = session_state(df.sparkSession)
    _plan_key(df)
    with _MARKS:
        df.persist()
        state.persists.append(df)
    return df


def tune_session(spark: SparkSession) -> SparkSession:
    """Apply the determinism/perf confs to a session the caller built
    (the driver hands us its own session — we must not assume it came
    from ``get_spark``). They are set once per session object, when its
    state is attached."""
    session_state(spark)
    return spark


def _release_persists(spark: SparkSession) -> None:
    state = session_state(spark)
    with _MARKS:
        held = {
            _plan_key(df)
            for other in _live_states(spark) if other is not state
            for df in other.persists
        }
        for df in state.persists:
            if _plan_key(df) not in held:
                df.unpersist()
        state.persists.clear()


def begin_build(spark: SparkSession) -> None:
    """The step every registered query build runs first: release the
    previous build's scoped persist marks and re-pin the UTC timezone, in
    case the caller changed it since the session was tuned."""
    _release_persists(spark)
    try:
        spark.conf.set(*_UTC)
    except Exception:
        pass  # a deployment that refuses the conf keeps its zone


def session_fragment(spark: SparkSession, key: tuple, builder):
    """The session's lazy frame under ``key`` (``(kind, sf_dir, ...)``),
    built by ``builder()`` on the first call. Callers that persist the
    frame must re-mark it on every call, since marks are released between
    builds: keep ``scoped_persist`` at the call site, never inside
    ``builder``."""
    frames = session_state(spark).frames
    if key not in frames:
        frames[key] = builder()
    return frames[key]


def persistent_rdd_ids(spark: SparkSession) -> set[int]:
    """Ids of RDDs currently pinned in block storage (localCheckpoint,
    persist) across the whole SparkContext, every session's included —
    what a long session retains, as the benchmark and the tests read it."""
    jmap = spark.sparkContext._jsc.getPersistentRDDs()
    return {int(k) for k in jmap.keySet().toArray()}


def unpersist_rdds(spark: SparkSession, ids) -> int:
    """Unpersist the given pinned RDD ids (non-blocking); returns how many
    were found. Checkpointed frames have NO lineage — only release an id
    once every DataFrame derived from it has been fully consumed."""
    jmap = spark.sparkContext._jsc.getPersistentRDDs()
    n = 0
    for i in ids:
        jrdd = jmap.get(int(i))
        if jrdd is not None:
            jrdd.unpersist(False)
            n += 1
    return n


def free_pins(spark: SparkSession, ids) -> int:
    """Free the pins among ``ids`` that this session's ledger holds and
    drop them from it; returns how many were still pinned. Ids the ledger
    does not hold (another session's, a caller's own) are left alone."""
    pins = session_state(spark).pins
    mine = pins & set(ids)
    pins -= mine
    return unpersist_rdds(spark, mine)


def release_checkpoints(spark: SparkSession) -> int:
    """Free this session's pins and persist marks — the between-queries
    reset for a long-lived session (eager checkpoints otherwise
    accumulate for the session's lifetime). Other sessions on the same
    SparkContext keep theirs. Returns the number of checkpoint pins
    freed. Call only when this session's outstanding query results have
    been collected/written; releasing a checkpoint a live DataFrame still
    depends on fails that frame's next job loudly (by design — the
    checkpoint's lineage is truncated, silent recompute is impossible)."""
    _release_persists(spark)
    return free_pins(spark, session_state(spark).pins)
