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
from dataclasses import dataclass, field

from pyspark.sql import SparkSession

_UTC = ("spark.sql.session.timeZone", "UTC")


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


@dataclass
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
    session starts (``begin_build``)."""

    frames: dict = field(default_factory=dict)
    persists: list = field(default_factory=list)


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
    return state


def tune_session(spark: SparkSession) -> SparkSession:
    """Apply the determinism/perf confs to a session the caller built
    (the driver hands us its own session — we must not assume it came
    from ``get_spark``). They are set once per session object, when its
    state is attached."""
    session_state(spark)
    return spark


def begin_build(spark: SparkSession) -> None:
    """The step every registered query build runs first: release the
    previous build's scoped persist marks and re-pin the UTC timezone, in
    case the caller changed it since the session was tuned."""
    persists = session_state(spark).persists
    for df in persists:
        df.unpersist()
    persists.clear()
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
    persist). The long-session hygiene surface: query builders that must
    eagerly checkpoint (blocked vector kernels, two-phase global rank) pin
    result-sized frames here for as long as their result may be consumed."""
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


def trim_pins(spark: SparkSession, base: set[int], keep: int) -> int:
    """Free every pinned RDD created since ``base`` except the ``keep``
    newest — the per-superstep hygiene call for fixpoint loops (VERDICT r6
    item 7): each iteration's eager ``localCheckpoint`` supersedes the
    prior one, so retained block-storage state stays O(keep) instead of
    O(supersteps). RDD ids increase monotonically with creation, so
    "newest" is well-defined. Caller contract: every still-live checkpoint
    must be among the ``keep`` newest pins, and any long-lived ``persist``
    cache (edge frames joined every round) must be materialized BEFORE
    ``base`` is captured so it can't be swept."""
    mine = persistent_rdd_ids(spark) - base
    live = set(sorted(mine)[-keep:]) if keep > 0 else set()
    return unpersist_rdds(spark, mine - live)


def release_checkpoints(spark: SparkSession) -> int:
    """Drop EVERY pinned RDD — the between-queries reset for a long-lived
    session (VERDICT r4 item 6: eager checkpoints otherwise accumulate for
    the session's lifetime). Call only when all outstanding query results
    have been collected/written; releasing a checkpoint a live DataFrame
    still depends on fails that frame's next job loudly (by design — the
    checkpoint's lineage is truncated, silent recompute is impossible)."""
    return unpersist_rdds(spark, persistent_rdd_ids(spark))
