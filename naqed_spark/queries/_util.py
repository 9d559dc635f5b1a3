"""Shared helpers enforcing the oracle-determinism rules (SURVEY.md §7.3).

Cross-engine hash-match conventions used by every checked query:
  - dates      → ISO 'yyyy-MM-dd' strings   (pandas date/datetime ambiguity)
  - timestamps → epoch microseconds bigint  (both engines truncate ns → µs)
  - money/measure SUMS → exact integer lanes (``lanes`` + ``exact_sum``),
    cast to double at the end. Each stored 2-decimal double becomes a
    ``long`` lane, its value in hundredths: ``rint(x*100)`` when that
    round-trips (``r/100 == x``, ``|r| < 10^p``), else Spark's own
    ``CAST(x AS DECIMAL(p,2))`` scaled to a long. The fallback is what
    makes the lane identical to the decimal cast: Spark rounds a double
    half-up through its shortest decimal string (1.005 → 1.01, where
    rint gives 1.00), and NaN/±inf/out-of-range fail the guard and cast
    to null, so a lane is null exactly where the decimal is. A
    polynomial in lanes is the decimal polynomial's unscaled value; its
    per-row products are split so every one stays below 2^63 (bounds
    follow from the declared precisions), and each product is summed as
    21-bit limbs in ``long`` sums, exact for fewer than 2^42 rows per
    group. The limb sums are recombined once per group as
    ``decimal(38,0)`` and scaled to ``decimal(38,s)`` — the exact value
    the decimal sum would hold, at its scale — so the final doubles are
    bit-identical to DuckDB's decimal sums, order-independently. Mirror
    in SQL with CAST(x AS DECIMAL(p,s)) on the same ingredients.
    Streaming keeps ``dsum(dec(...))``: its sum buffer is state-store
    schema.
  - per-row money products (2-dec × 2-dec) → round(x, 4): the true value has
    ≤4 decimals, and the double product is within 1 ulp of it, so both
    engines agree. round(x, 2) here is a determinism bug (half-cent values
    like 38228.5*0.97 = 37081.645 round differently per engine).
  - inherently-float results (stddev/corr/ln/cosine) → round(x, 6) hedge
  - arrays → flatten to (id, pos, value) scalar rows, or sort + join
"""

from __future__ import annotations

import logging
from decimal import Decimal

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
    "exact_sum",
    "lanes",
    "Lane",
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


def dsum(e: Column | Lane) -> Column:
    """Exact sum emitted as a double: identical on both engines. A
    ``Lane`` sums through ``exact_sum``; a decimal ``Column`` through a
    decimal sum buffer (streaming only, module docstring)."""
    if isinstance(e, Lane):
        return exact_sum(e).cast("double")
    return F.sum(e).cast("double")


_LONG = 1 << 63
# Bits per limb: a limb is at most 2^21 in magnitude (the low limbs are
# masked to [0, 2^21), the top one is an arithmetic shift of a value
# below 2^(21·limbs)), so its long sum over fewer than 2^42 rows stays
# below 2^63.
_LIMB = 21


class _Term:
    """The SQL ``long`` expression ``sql`` weighted by ``2^shift``, with
    ``|sql| <= bound < 2^63`` on every row; ``leaves`` names the lane
    columns it reads. Terms are SQL text so that a sum of any shape is
    one parsed expression, not hundreds of py4j calls. (Plain classes,
    not dataclasses: building a dataclass costs ~0.5 ms of package load.)"""

    __slots__ = ("sql", "bound", "shift", "leaves")

    def __init__(self, sql: str, bound: int, shift: int, leaves: frozenset):
        self.sql, self.bound, self.shift, self.leaves = (
            sql, bound, shift, leaves)


def _const(n: int) -> _Term:
    return _Term(f"CAST({n} AS BIGINT)", abs(n), 0, frozenset())


def _mul(a: _Term, b: _Term) -> list[_Term]:
    """``a * b`` as terms whose per-row products stay below 2^63: while
    the bound product reaches 2^63, the wider factor is split into its
    low bits and its arithmetic right shift."""
    if a.bound * b.bound < _LONG:
        return [_Term(f"({a.sql} * {b.sql})", a.bound * b.bound,
                      a.shift + b.shift, a.leaves | b.leaves)]
    if a.bound < b.bound:
        a, b = b, a
    k = a.bound.bit_length() // 2
    lo = _Term(f"({a.sql} & {(1 << k) - 1})", (1 << k) - 1, a.shift,
               a.leaves)
    hi = _Term(f"shiftright({a.sql}, {k})", (a.bound >> k) + 1,
               a.shift + k, a.leaves)
    return _mul(lo, b) + _mul(hi, b)


def _merged(terms: list[_Term]) -> tuple[_Term, ...]:
    """Add terms of equal weight per row while the bound allows, then
    null every term on the rows where any leaf of the sum is null — the
    decimal expression's null rule."""
    out: list[_Term] = []
    for t in terms:
        for i, u in enumerate(out):
            if u.shift == t.shift and u.bound + t.bound < _LONG:
                out[i] = _Term(f"({u.sql} + {t.sql})", u.bound + t.bound,
                               u.shift, u.leaves | t.leaves)
                break
        else:
            out.append(t)
    leaves = frozenset().union(*(t.leaves for t in out))
    return tuple(
        t if t.leaves == leaves else _Term(
            "CASE WHEN " + " AND ".join(
                f"{c} IS NOT NULL" for c in sorted(leaves - t.leaves)
            ) + f" THEN {t.sql} END",
            t.bound, t.shift, leaves,
        )
        for t in out
    )


class Lane:
    """An exact decimal value per row as integer lanes: its unscaled
    value at ``scale`` is ``Σ term.sql * 2^term.shift``. Built from
    ``lanes`` and int or ``Decimal`` constants with ``+``, ``-``, ``*``
    and ``where``; summed with ``exact_sum``."""

    __slots__ = ("terms", "scale")

    def __init__(self, terms: tuple, scale: int):
        self.terms, self.scale = terms, scale

    @staticmethod
    def of(x) -> Lane:
        """``x`` itself, or the exact constant ``x`` (an int or a
        ``Decimal``; a float has no exact decimal scale)."""
        if isinstance(x, Lane):
            return x
        if not isinstance(x, (int, Decimal)):
            raise TypeError(f"lane constant must be int or Decimal: {x!r}")
        d = Decimal(x)
        scale = max(-d.as_tuple().exponent, 0)
        return Lane((_const(int(d.scaleb(scale))),), scale)

    def _at(self, scale: int) -> tuple:
        if scale == self.scale:
            return self.terms
        k = _const(10 ** (scale - self.scale))
        return tuple(p for t in self.terms for p in _mul(t, k))

    def __add__(self, other) -> Lane:
        other = Lane.of(other)
        s = max(self.scale, other.scale)
        return Lane(_merged([*self._at(s), *other._at(s)]), s)

    def __neg__(self) -> Lane:
        return Lane(tuple(_Term(f"(- {t.sql})", t.bound, t.shift, t.leaves)
                          for t in self.terms), self.scale)

    def __sub__(self, other) -> Lane:
        return self + -Lane.of(other)

    def __mul__(self, other) -> Lane:
        other = Lane.of(other)
        return Lane(
            _merged([p for a in self.terms for b in other.terms
                     for p in _mul(a, b)]),
            self.scale + other.scale,
        )

    __radd__ = __add__

    def __rsub__(self, other) -> Lane:
        return Lane.of(other) - self

    def where(self, cond: str, otherwise: int | None = None) -> Lane:
        """``CASE WHEN cond THEN self END`` (``cond`` is SQL), or
        ``... ELSE 0 END`` with ``otherwise=0``: every term is then 0 on
        the other rows."""
        if otherwise not in (None, 0):
            raise ValueError(f"only a zero ELSE keeps a lane exact: {otherwise!r}")
        tail = " END" if otherwise is None else " ELSE CAST(0 AS BIGINT) END"
        return Lane(tuple(_Term(f"CASE WHEN {cond} THEN {t.sql}{tail}",
                                t.bound, t.shift, t.leaves)
                          for t in self.terms), self.scale)


def lanes(df: DataFrame, *cols) -> tuple:
    """Project each stored 2-decimal money column of ``df`` as a long
    lane once, below the aggregate that sums it (module docstring).
    ``cols`` are column names (``decimal(12,2)``) or ``(name, "decimal(p,2)")``
    pairs, as for ``dec``. Returns ``(df, [Lane per column])``."""
    proj, out = {}, []
    for c in cols:
        name, prec = (c, "decimal(12,2)") if isinstance(c, str) else c
        p = int(prec[prec.index("(") + 1:prec.index(",")])
        x, lane = f"`{name}`", f"{name}__lane"
        proj[lane] = F.expr(
            f"CASE WHEN abs(rint({x} * 100)) < {10 ** p}"
            f" AND rint({x} * 100) / 100 = {x}"
            f" THEN CAST(rint({x} * 100) AS BIGINT)"
            f" ELSE CAST(CAST({x} AS {prec}) * 100 AS BIGINT) END"
        )
        out.append(Lane((_Term(f"`{lane}`", 10 ** p - 1, 0,
                               frozenset([f"`{lane}`"])),), 2))
    return df.withColumns(proj), out


def exact_sum(lane: Lane) -> Column:
    """The exact ``decimal(38, lane.scale)`` sum of ``lane`` over the
    group: every term is summed as 21-bit limbs in long sums (exact for
    fewer than 2^42 rows per group) and the limb sums are recombined once.
    Null when every row is null, like ``SUM``."""
    if lane.scale > 6:
        # Spark cuts a decimal(38,0) × 10^-s product to 6 decimals
        raise ValueError(f"exact_sum keeps at most 6 decimals: {lane.scale}")
    parts = []
    for t in lane.terms:
        n = max(1, -(-t.bound.bit_length() // _LIMB))
        for i in range(n):
            limb = f"shiftright({t.sql}, {_LIMB * i})" if i else t.sql
            if i < n - 1:
                limb = f"({limb} & {(1 << _LIMB) - 1})"
            part = f"CAST(sum({limb}) AS DECIMAL(20,0))"
            w = t.shift + _LIMB * i
            parts.append(f"{part} * {1 << w}BD" if w else part)
    total = " + ".join(parts)
    if lane.scale:
        total = f"({total}) * {Decimal(1).scaleb(-lane.scale)}BD"
    return F.expr(total)


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
