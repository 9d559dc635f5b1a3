"""Shared helpers enforcing the oracle-determinism rules (SURVEY.md §7.3).

Cross-engine hash-match conventions used by every checked query:
  - dates      → ISO 'yyyy-MM-dd' strings   (pandas date/datetime ambiguity)
  - timestamps → epoch microseconds bigint  (both engines truncate ns → µs)
  - money/measure SUMS → exact DECIMAL arithmetic, cast to double at the end
    (order-independent: both engines compute the identical exact decimal, so
    the final doubles are bit-identical — no rounding needed). Mirror in SQL
    with CAST(x AS DECIMAL(p,s)) on the same ingredients.
  - per-row money products (2-dec × 2-dec) → round(x, 4): the true value has
    ≤4 decimals, and the double product is within 1 ulp of it, so both
    engines agree. round(x, 2) here is a determinism bug (half-cent values
    like 38228.5*0.97 = 37081.645 round differently per engine).
  - inherently-float results (stddev/corr/ln/cosine) → round(x, 6) hedge
  - arrays → flatten to (id, pos, value) scalar rows, or sort + join
"""

from __future__ import annotations

import logging

from pyspark.sql import Column, DataFrame, Observation, functions as F

from naqed_spark.catalog import load  # re-export for query modules
from naqed_spark.session import (
    free_pins,
    scoped_persist,
    session_fragment,
    session_state,
)

__all__ = [
    "load",
    "date_str",
    "epoch_us",
    "money_row",
    "dec",
    "dsum",
    "r4",
    "r6",
    "checkpoint_observed",
    "fixpoint",
    "pin",
    "scoped_persist",
    "session_fragment",
    "spread",
    "unpin",
]


def spread(df):
    """Round-robin repartition to the scheduler's default parallelism —
    the fix for heavy per-row compute above a single-split scan (guide
    §2.5 "input skew", r16 fuzzy-probe precedent, r17 items 1/4): the
    fixture parquet files are single-row-group, so a bare scan is ONE
    task no matter what ``maxPartitionBytes`` says, and every downstream
    per-row transform (md5 minhash folds, JSON parsing, regex extraction)
    would run on one core. The knob follows the cluster
    (``defaultParallelism``), never a local constant; at 100 TB a
    well-split input makes this a near-no-op pass relative to the
    per-row work it parallelizes. Use ONLY above genuinely expensive
    per-row work — for plain projections the shuffle costs more than it
    buys (the r16 range-bucket persist lesson, applied to repartition)."""
    return df.repartition(df.sparkSession.sparkContext.defaultParallelism)


def sorted_pairs_expr(array_col: str, field_a: str, field_b: str) -> str:
    """SQL expression: every i<j element pair of the SORTED array column
    ``array_col`` as ``struct(field_a, field_b)`` — sortedness makes
    field_a < field_b exactly like a self-join's ``a < b`` predicate.
    PRECONDITION (ADVICE r16): the array must also be DUPLICATE-FREE —
    with repeated elements this emits x==y pairs and duplicated pairs
    the old ``a < b`` self-join spelling never produced. Every current
    caller feeds a collect_list over distinct rows (or collect_set);
    a new caller must guarantee the same or filter x < y afterwards.
    The slice arithmetic is 1-based (transform's ``i`` is 0-based, the
    pair partner window starts at element i+2 and has size-i-1
    elements). One definition shared by the basket/adjacency/posting
    pair generators so the off-by-one reasoning lives in one place
    (r16 review)."""
    return (
        f"flatten(transform({array_col}, (x, i) ->"
        f" transform(slice({array_col}, i + 2, size({array_col}) - i - 1),"
        f" y -> struct(x AS {field_a}, y AS {field_b}))))"
    )


def date_str(c: str | Column) -> Column:
    c = F.col(c) if isinstance(c, str) else c
    return F.date_format(c.cast("date"), "yyyy-MM-dd")


def epoch_us(c: str | Column) -> Column:
    c = F.col(c) if isinstance(c, str) else c
    return F.unix_micros(c.cast("timestamp"))


def money_row(c: Column) -> Column:
    """Per-row product of two 2-decimal money doubles → exact at 4 decimals."""
    return F.round(c, 4)


def dec(c: str | Column, prec: str = "decimal(12,2)") -> Column:
    """Cast a stored 2-decimal double to exact decimal for order-independent
    arithmetic. Both engines round the same double to the same decimal
    (the stored value is within 1 ulp of its decimal form, never at a
    rounding boundary). SQL twin: CAST(x AS DECIMAL(12,2))."""
    c = F.col(c) if isinstance(c, str) else c
    return c.cast(prec)


def dsum(e: Column) -> Column:
    """Exact decimal sum emitted as a double: identical on both engines."""
    return F.sum(e).cast("double")


def r4(c: Column) -> Column:
    return F.round(c, 4)


def r6(c: Column) -> Column:
    return F.round(c, 6)


def pin(df: DataFrame) -> DataFrame:
    """``df.localCheckpoint()`` (eager), its RDD id recorded in the
    session's pin ledger — the one place a build pins. The caller owns
    the pin: ``fixpoint`` frees its steps' pins, anything else is freed
    by its maker (``unpin``) or by ``release_checkpoints``."""
    cp = df.localCheckpoint()
    session_state(cp.sparkSession).pins.add(cp._jdf.logicalPlan().rdd().id())
    return cp


def held_pins(state) -> set[int]:
    """The RDD ids of the ``LogicalRDD`` leaves of the logical plan of
    every DataFrame in ``state`` (nested in tuples and lists)."""
    if isinstance(state, DataFrame):
        held = set()
        leaves = state._jdf.logicalPlan().collectLeaves().iterator()
        while leaves.hasNext():
            leaf = leaves.next()
            if leaf.getClass().getSimpleName() == "LogicalRDD":
                held.add(leaf.rdd().id())
        return held
    if isinstance(state, (tuple, list)):
        return set().union(*map(held_pins, state))
    return set()


def unpin(spark, frames) -> int:
    """Free the session's pins that ``frames`` hold, once every frame
    read from them is computed: a checkpoint has no lineage."""
    return free_pins(spark, held_pins(frames))


def checkpoint_observed(
    df: DataFrame, *metrics: Column
) -> tuple[DataFrame, dict]:
    """``pin(df)`` that also returns ``metrics`` (aggregate Columns, e.g.
    ``F.count(F.lit(1)).alias("n")``) over the checkpointed rows — the
    per-superstep convergence signal of a fixpoint loop at no extra job.
    The observe node is the plan's root, above every exchange, so the
    metrics are computed in the checkpoint's own result stage, whose
    accumulator updates are applied exactly once; a probe such as
    ``isEmpty()`` or ``count()`` after the checkpoint would be a second
    job per superstep."""
    obs = Observation()
    cp = pin(df.observe(obs, *metrics))
    return cp, obs.get


_LOG = logging.getLogger("naqed_spark")


def fixpoint(spark, loop, state, step, cap, at_cap=None):
    """The one driver of every checkpointed fixpoint loop (Pregelix's
    iteration driver: each algorithm supplies only its superstep). Runs
    ``state, stopped = step(state, i)`` for supersteps ``i = 1..cap``
    until a step reports that it stopped, and returns the last state.

    After every superstep the driver frees each pin made during this
    call that the new state no longer holds (``held_pins``), so retained
    block storage is the live state. Pins made before the call are the
    caller's, so a nested loop cannot free its caller's state.

    One DEBUG record per call (off by default): how many supersteps ran
    against the cap, why the loop stopped and how many pins it freed. At
    the cap the last state is returned, or ``at_cap`` is raised when
    given — a loop whose answer is only right at its fixpoint fails
    loudly rather than return it unconverged."""
    pins = session_state(spark).pins
    before = set(pins)
    i, stopped, freed = 0, False, 0
    while not stopped and i < cap:
        i += 1
        state, stopped = step(state, i)
        made = pins - before
        if made:
            freed += free_pins(spark, made - held_pins(state))
    _LOG.debug(
        "fixpoint loop=%s supersteps=%d cap=%d stop=%s pins_freed=%d",
        loop, i, cap, "converged" if stopped else "cap", freed,
    )
    if not stopped and at_cap is not None:
        raise at_cap
    return state
