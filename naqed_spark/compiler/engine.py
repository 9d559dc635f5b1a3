"""Engine: binds QuerySpec IR against the Catalog and compiles to DataFrame.

Three entry points (SURVEY.md §3.2):
  E1 ``engine.query(spec_dict)``  — naqed-style query object
  E2 ``engine.entity(name)``      — direct DataFrame API
  E3 ``engine.sql(text)``         — Spark SQL over registered views

The compiler emits only declarative DataFrame ops (filter → join → select →
groupBy/agg → orderBy/limit) so Catalyst performs pushdown, pruning, join
reordering, and AQE picks physical strategies. Fixed-size dimension entities
are joined with an explicit ``broadcast()`` hint (catalog.SMALL_DIMS);
everything else is left to AQE so the plan still holds at 100 TB where e.g.
``customer`` stops being broadcastable.
"""

from __future__ import annotations

import operator
from functools import reduce

from pyspark.sql import DataFrame, SparkSession, functions as F

from naqed_spark.catalog import (
    Catalog,
    PRIMARY_KEYS,
    RELATIONSHIPS,
    SMALL_DIMS,
)
from naqed_spark.compiler.spec import (
    AggSpec,
    CorrelatedScalar,
    Expr,
    Node,
    PivotSpec,
    Predicate,
    QuerySpec,
    SampleSpec,
    SetSpec,
    SpecError,
    StreamSpec,
    StreamStreamJoinSpec,
    TraverseSpec,
    WindowFn,
    bind_args,
    parse_query,
    parse_spec,
)
from naqed_spark.compiler.spec import ARRAY_OPS as _ARRAY_OPS
from naqed_spark.compiler.spec import (ExistsQuery, JoinFramesSpec,
                                       SubqueryIn)

# Comparable-type families for the scan-time join predicates (M25
# correlated scalar, M39 $in_query, M41 $join.$on): comparing across
# families (string vs numeric, etc.) silently NULL-coerces under
# non-ANSI Spark where DuckDB errors — the typed refusal keeps the
# cross-engine contract (code-review r16b hoisted this from the
# correlated-scalar path so all three sites share one map).
_TYPE_FAMILIES = {
    "string": "string", "boolean": "boolean",
    "int": "numeric", "bigint": "numeric", "smallint": "numeric",
    "tinyint": "numeric", "double": "numeric", "float": "numeric",
    "date": "datetime", "timestamp": "datetime",
    "timestamp_ntz": "datetime",
}

# Every join-key/PK column the compiler itself can reference without the
# spec naming it (later hops join on catalog relationship keys; $traverse
# identifies vertices by the root PK) — part of the r17 $asof payload
# prune's keep-set, see _collect_spec_strings.
_CATALOG_KEY_COLS = (
    {r.src_key for r in RELATIONSHIPS}
    | {r.dst_key for r in RELATIONSHIPS}
    | set(PRIMARY_KEYS.values())
)


def _collect_spec_strings(obj, acc: set) -> set:
    """Every string appearing anywhere in a spec dict (keys and values) —
    a sound OVER-approximation of the column names the rest of the
    compilation can reference: all field requests, $select/$agg/$window/
    $filter/$orderby references, lambda bodies and rel names are literal
    strings in the spec. Used to prune the r17 inner-$asof struct payload
    (columns named nowhere in the spec and not catalog keys can never be
    referenced downstream — the final projection only emits requested
    names). Keeping too much is always safe; dropping a referenced column
    would fail loudly in the DSL's own unknown-column checks."""
    if isinstance(obj, dict):
        for k, v in obj.items():
            if isinstance(k, str):
                acc.add(k)
            _collect_spec_strings(v, acc)
    elif isinstance(obj, (list, tuple, set)):
        for v in obj:
            _collect_spec_strings(v, acc)
    elif isinstance(obj, str):
        acc.add(obj)
    return acc


def _type_family(frame: "DataFrame", col: str) -> "str | None":
    dt = dict((f.name, f.dataType.simpleString()) for f in frame.schema)[col]
    if dt.startswith("decimal"):
        return "numeric"
    return _TYPE_FAMILIES.get(dt)


# the six comparison operators as Column builders — shared by $theta
# residuals, the M24 comparison expressions, and the M25 correlated-
# scalar predicate (one map, three sites: they must never drift)
_CMP_OPS = {
    "$eq": operator.eq, "$ne": operator.ne,
    "$lt": operator.lt, "$lte": operator.le,
    "$gt": operator.gt, "$gte": operator.ge,
}

_PY_TYPES = {
    "string": (str,),
    "boolean": (bool,),
    "int": (int,),
    "bigint": (int,),
    "smallint": (int,),
    "double": (int, float),
    "float": (int, float),
    "date": (str,),
    "timestamp": (str,),
    "timestamp_ntz": (str,),
}


def _typecheck(df: DataFrame, pred: Predicate, entity: str) -> None:
    """Analysis-time arg typecheck — the Spark translation of naqed's
    result/argument type checking (SURVEY.md §1.2: $error → fail fast)."""
    if pred.op == "$or":
        for grp in pred.value:
            for p in grp:
                _typecheck(df, p, entity)
        return
    schema = dict((f.name, f.dataType.simpleString()) for f in df.schema.fields)
    if pred.column not in schema:
        # pseudo-entities from composed queries read as "the derived
        # frame", not as a catalog name that doesn't exist
        disp = ("the derived frame" if entity in ("$from", "$join")
                else entity)
        raise SpecError(
            f"{disp}.{pred.column}: no such field"
            f" (have {sorted(schema)})"
        )
    if pred.op in ("$isnull", "$notnull"):
        return
    expected = _PY_TYPES.get(schema[pred.column])
    if expected is None:
        return  # complex type — let Spark's analyzer rule on it
    vals = pred.value if isinstance(pred.value, (list, tuple)) else [pred.value]
    for v in vals:
        if isinstance(v, bool) and bool not in expected:
            raise SpecError(
                f"{entity}.{pred.column}: bool arg for {schema[pred.column]} column"
            )
        if not isinstance(v, expected):
            raise SpecError(
                f"{entity}.{pred.column}: arg {v!r} ({type(v).__name__}) does not"
                f" match column type {schema[pred.column]}"
            )


def _sort_col(c: str, d: str):
    """One $orderby/$order item → a sort Column. ``d`` is "asc"/"desc"
    optionally suffixed "|nulls_first"/"|nulls_last" (M40 — explicit
    NULL placement); the bare forms keep Spark's defaults (NULLS FIRST
    asc / NULLS LAST desc), so pre-M40 specs are bit-identical."""
    col = _qcol(c)
    base, _, nulls = d.partition("|")
    if base == "desc":
        if nulls == "nulls_first":
            return col.desc_nulls_first()
        if nulls == "nulls_last":
            return col.desc_nulls_last()
        return col.desc()
    if nulls == "nulls_first":
        return col.asc_nulls_first()
    if nulls == "nulls_last":
        return col.asc_nulls_last()
    return col.asc()


def _qcol(name: str):
    """Verbatim column reference: backtick-quote so a dotted name (e.g. a
    $pivot value column ``v.click``) resolves as ONE column instead of
    parsing as nested-field access and crashing with a raw engine
    AnalysisException. Every cols-by-name compilation path shares this
    helper so resolution can never diverge from the existence checks,
    which are against the verbatim frame column names (ADVICE r11:
    round 11 fixed only the $col path; $orderby and the other
    post-pivot-reachable scopes resolve here now too)."""
    return F.col("`" + name.replace("`", "``") + "`")


def _predicate_condition(pred: Predicate):
    """One parsed predicate → a boolean Column (shared by $filter/$having/
    $qualify row filtering and the $if conditional expression)."""
    if pred.op == "$or":
        # value = list of predicate lists: OR of AND-groups
        return reduce(
            operator.or_,
            (
                reduce(operator.and_, (_predicate_condition(p) for p in grp))
                for grp in pred.value
            ),
        )
    c = _qcol(pred.column)
    op = pred.op
    if op == "$eq":
        return c == F.lit(pred.value)
    if op == "$ne":
        return c != F.lit(pred.value)
    if op == "$gt":
        return c > F.lit(pred.value)
    if op == "$gte":
        return c >= F.lit(pred.value)
    if op == "$lt":
        return c < F.lit(pred.value)
    if op == "$lte":
        return c <= F.lit(pred.value)
    if op == "$in":
        return c.isin(list(pred.value))
    if op == "$between":
        lo, hi = pred.value
        return c.between(F.lit(lo), F.lit(hi))
    if op == "$like":
        return c.like(pred.value)
    if op == "$ilike":
        # case-insensitive LIKE (M42) — probed ≡ DuckDB ILIKE
        return c.ilike(pred.value)
    if op == "$regex":
        # M31 (round 16): partial-match regex predicate (rlike ≡ DuckDB
        # regexp_matches); pattern parse-validated to the portable
        # subset. Catalyst keeps RLike in the scan stage's filter, so
        # the pattern never forces a materialization boundary.
        return c.rlike(pred.value)
    if op == "$isnull":
        return c.isNull()
    if op == "$notnull":
        return c.isNotNull()
    raise SpecError(f"unknown op {op!r}")  # pragma: no cover


def _apply_predicate(df: DataFrame, pred: Predicate) -> DataFrame:
    return df.filter(_predicate_condition(pred))


def _check_pred_columns(pred: Predicate, df: DataFrame, ctx: str) -> None:
    """Recursive column-existence check ($or branches included) for the
    post-agg/post-window scopes, which bind against the CURRENT frame."""
    if pred.op == "$or":
        for grp in pred.value:
            for p in grp:
                _check_pred_columns(p, df, ctx)
        return
    if pred.column not in df.columns:
        raise SpecError(
            f"{ctx}: {pred.column!r} is not available in this scope"
            f" (have {df.columns})"
        )


class Engine:
    """The user-facing engine bound to one scale-factor directory."""

    def __init__(self, spark: SparkSession, sf_dir: str):
        self.spark = spark
        self.catalog = Catalog(spark, sf_dir)

    # -- E2: direct DataFrame access ------------------------------------
    def entity(self, name: str) -> DataFrame:
        return self.catalog.entity(name)

    # -- E3: SQL ----------------------------------------------------------
    def sql(self, text: str) -> DataFrame:
        self.catalog.register_views()
        return self.spark.sql(text)

    def explain(
        self, spec: dict, params: dict | None = None,
        mode: str = "formatted",
    ) -> str:
        """Physical-plan text for a QuerySpec (round 8) — the
        introspection hook behind every scale claim in this repo: users
        check PushedFilters/ReadSchema/broadcasts the same way
        tests/test_plans.py does. ``mode`` is any Spark ExplainMode
        (simple/extended/codegen/cost/formatted)."""
        df = self.query(spec, params)
        jmode = self.spark._jvm.org.apache.spark.sql.execution.ExplainMode
        return df._jdf.queryExecution().explainString(
            jmode.fromString(mode)
        )

    # -- E1: naqed-style query object -------------------------------------
    def query(self, spec: dict, params: dict | None = None) -> DataFrame:
        """Compile a naqed-style query object. ``params`` binds
        ``{"$arg": name}`` placeholders (resolver arguments, round 7)
        before parsing — see spec.bind_args for the typed-error
        contract. Compiled plans are cached by Catalyst, and because
        binding happens at the SPEC level the bound literal reaches the
        parquet scan as an ordinary pushed filter — a parameterized
        query costs exactly what its literal twin costs."""
        # epoch/date projections assume a UTC session; a caller that
        # reaches the engine directly (not through a registered key's
        # build, which pins it too) may have changed the zone since
        self.spark.conf.set("spark.sql.session.timeZone", "UTC")
        spec = bind_args(spec, params if params is not None else {})
        # r17: the referenced-name over-approximation for the $asof
        # payload prune (every sub-compile — $scalar inners, $from,
        # set branches — works on sub-dicts of this spec, so one
        # collection at the top covers them all). It is passed down
        # the compile calls, never stored on the engine: a query
        # compiled while another is mid-compile keeps its own set.
        refs = frozenset(
            _collect_spec_strings(spec, set()) | _CATALOG_KEY_COLS
        )
        spec = self._resolve_scalars(spec, refs)
        qs = parse_query(spec)
        if isinstance(qs, SetSpec):
            return self._compile_set(qs, refs)
        if isinstance(qs, StreamSpec):
            return self._compile_stream(qs)
        if isinstance(qs, StreamStreamJoinSpec):
            return self._compile_stream_join(qs)
        return self._compile(qs, refs)

    def _resolve_scalars(self, obj: object, refs: frozenset) -> object:
        """$scalar (round 14, M23 engine-half): ``{"$scalar": <spec>}``
        anywhere a literal is legal — filter/where/having operands,
        $limit, $if branches — runs the inner query and substitutes its
        single value BEFORE parsing (the bind_args pattern), so the
        resolved literal flows through the same shape/type validation
        as any literal AND reaches the parquet scan as an ordinary
        pushed filter. This is the E1 spelling of the uncorrelated
        scalar subquery (the sub_scalar_uncorrelated family): at scale
        the inner aggregate is a one-row action whose result broadcasts
        as a plan literal — pushdown-eligible, never a join.

        Typed-error contract: the inner result must be exactly ONE row
        and ONE column; a NULL scalar raises (naqed's fail-fast $error
        model — coalesce inside the inner query to default it); Decimal
        narrows to float and date/timestamp render ISO so the resolved
        literal matches the filter DSL's scalar types. Nested $scalar
        inside the inner spec resolves first (finite data — no cycles
        possible)."""
        import datetime as _dt
        import decimal as _decimal

        if isinstance(obj, dict):
            if set(obj) == {"$scalar"}:
                inner = obj["$scalar"]
                if not isinstance(inner, dict):
                    raise SpecError("$scalar takes a query spec dict")
                if "$on" in inner:
                    # M25 (round 15): the CORRELATED form — not a
                    # literal; left for the parser, which lowers it to
                    # the decorrelated aggregate + equi-join. Nested
                    # uncorrelated $scalar inside it still resolves
                    # when the engine compiles the inner spec.
                    return obj
                inner = self._resolve_scalars(inner, refs)
                iqs = parse_query(inner)
                if isinstance(iqs, (StreamSpec, StreamStreamJoinSpec)):
                    raise SpecError(
                        "$scalar cannot wrap a $stream/$stream_join"
                        " query"
                    )
                idf = (self._compile_set(iqs, refs)
                       if isinstance(iqs, SetSpec)
                       else self._compile(iqs, refs))
                if len(idf.columns) != 1:
                    raise SpecError(
                        f"$scalar subquery must produce exactly one"
                        f" column, got {idf.columns}"
                    )
                rows = idf.limit(2).collect()
                if len(rows) != 1:
                    raise SpecError(
                        f"$scalar subquery must produce exactly one row,"
                        f" got {'none' if not rows else 'more than one'}"
                    )
                v = rows[0][0]
                if v is None:
                    raise SpecError(
                        "$scalar subquery returned NULL — a NULL operand"
                        " would silently drop every row; $coalesce a"
                        " default inside the inner query"
                    )
                if isinstance(v, _decimal.Decimal):
                    v = float(v)
                elif isinstance(v, (_dt.date, _dt.datetime)):
                    v = v.isoformat()
                return v
            return {k: self._resolve_scalars(x, refs) for k, x in obj.items()}
        if isinstance(obj, list):
            return [self._resolve_scalars(x, refs) for x in obj]
        return obj

    def _compile_stream(self, ss: StreamSpec) -> DataFrame:
        """$stream (round 14, M21 engine-half): compile the declarative
        window/watermark/agg spec to the SAME Structured-Streaming
        transformation graph the registered §2-J keys run — file-source
        availableNow replay into a memory sink (test plumbing; in
        production the source is Kafka/file-drops and only the
        transformation graph matters). Scale shape: windowed state is
        per (window × keys) in the state store, bounded by the
        watermark when given; sums run in exact DECIMAL inside the
        state and emit as double (§7.3); the window start is emitted
        as epoch µs — the stream_tumbling_window discipline."""
        import os as _os

        from naqed_spark.queries._util import dec, dsum
        from naqed_spark.queries.streaming import (
            _read_stream,
            _run_to_memory,
            _stage,
        )

        if ss.source != "events":
            raise SpecError(
                f"$stream.$source {ss.source!r}: 'events' is the"
                f" streaming entity (the only one with an event-time"
                f" column)"
            )
        base = _stage(self.spark, self.catalog.sf_dir)
        # M30 (round 16): a $distinct spec replays the at-least-once
        # staging (`dup/` — every chunk delivered twice) instead of the
        # exactly-once `all/`: dedup's contract is only observable under
        # redelivery, and the batch-twin oracle story is precisely
        # "dedup of the doubled delivery ≡ the exact batch rows" (the
        # stream_dedup raw-key harness discipline).
        chunk = "all" if ss.distinct is None else "dup"
        s = _read_stream(self.spark, _os.path.join(base, chunk))
        stream_cols = list(s.columns)
        if ss.watermark is not None:
            s = s.withWatermark("ts", ss.watermark)
        if ss.distinct is not None:
            for c in ss.distinct:
                if c not in stream_cols:
                    raise SpecError(
                        f"$stream.$distinct: no such column {c!r}"
                        f" (have {stream_cols})"
                    )
            # dropDuplicatesWithinWatermark: dedup state keyed on the
            # user's columns alone (no event-time column required in
            # the key — a content/event id is the normal ingest key)
            # and EVICTED once the watermark passes an entry's expiry —
            # the bounded-state spelling ($watermark is parse-required).
            # First occurrence emits immediately; redeliveries within
            # the watermark delay drop. Replay-deterministic here:
            # redelivered rows are byte-identical, so survivor identity
            # can never diverge.
            s = s.dropDuplicatesWithinWatermark(ss.distinct)
        if ss.join is not None:
            # M29 (round 16): stream ⋈ static dimension enrich. The dim
            # side is a bounded batch frame broadcast per micro-batch
            # (explicit hint — dimensions are dim-sized by definition);
            # the stream side NEVER shuffles for this join, which is
            # the whole point at 100 TB. Stateless: each micro-batch
            # joins against the dim snapshot independently, so this
            # composes freely before the windowed aggregation.
            from naqed_spark.catalog import TABLES

            j = ss.join
            if j.entity not in TABLES or j.entity == "events":
                raise SpecError(
                    f"$stream.$join.$entity {j.entity!r}: not a static"
                    f" entity (have"
                    f" {sorted(t for t in TABLES if t != 'events')})"
                )
            dim = self.catalog.entity(j.entity)
            for sc, dc in j.on.items():
                if sc not in stream_cols:
                    raise SpecError(
                        f"$stream.$join.$on: no such stream column"
                        f" {sc!r} (have {stream_cols})"
                    )
                if dc not in dim.columns:
                    raise SpecError(
                        f"$stream.$join.$on: no such {j.entity} column"
                        f" {dc!r} (have {dim.columns})"
                    )
            for fcol in j.fields:
                if fcol not in dim.columns:
                    raise SpecError(
                        f"$stream.$join.$fields: no such {j.entity}"
                        f" column {fcol!r} (have {dim.columns})"
                    )
                if fcol in stream_cols:
                    raise SpecError(
                        f"$stream.$join.$fields: {fcol!r} collides with"
                        f" a stream column — joined fields must not"
                        f" shadow the stream schema"
                    )
            # prune the dim to join keys + carried fields so the
            # broadcast ships only what the plan needs
            dim_cols = list(dict.fromkeys(list(j.on.values()) + j.fields))
            dim_sel = dim.select(*[_qcol(c) for c in dim_cols])
            cond = reduce(
                operator.and_,
                (s[sc] == dim_sel[dc] for sc, dc in j.on.items()),
            )
            s = s.join(F.broadcast(dim_sel), cond, j.how).select(
                *[s[c] for c in stream_cols],
                *[dim_sel[f] for f in j.fields],
            )
        if ss.window_size is None and ss.session_gap is None:
            # M30 pass-through: the deduped (and possibly enriched)
            # rows are the result — stream columns with ts as epoch-µs
            # ts_us, plus any joined fields (parse guarantees $distinct
            # is present, hence $watermark, hence append mode).
            out = s.select(
                *[
                    F.unix_micros(F.col("ts")).alias("ts_us")
                    if c == "ts" else _qcol(c)
                    for c in s.columns
                ]
            )
            return _run_to_memory(out, self.spark, "append")
        for c in ss.groupby:
            if c not in s.columns:
                raise SpecError(
                    f"$stream.$groupby: no such column {c!r}"
                    f" (have {s.columns})"
                )
        if ss.session_gap is not None:
            win = F.session_window("ts", ss.session_gap)
        elif ss.slide is not None:
            win = F.window("ts", ss.window_size, ss.slide)
        else:
            win = F.window("ts", ss.window_size)
        exprs = []
        for a in ss.aggs:
            if a.op == "$count":
                exprs.append(F.count(F.lit(1)).alias(a.alias))
                continue
            if a.column not in s.columns:
                raise SpecError(
                    f"$stream.$agg {a.alias!r}: no such column"
                    f" {a.column!r} (have {s.columns})"
                )
            if a.op == "$sum":
                # exact decimal accumulation, double at the boundary
                exprs.append(dsum(dec(a.column)).alias(a.alias))
            elif a.op == "$approx_count_distinct":
                # M26 (round 15): the streaming count-distinct — HLL++
                # registers merge across micro-batches in the state
                # store (register max is commutative, so the estimate
                # is batch-boundary-invariant and replay-deterministic)
                exprs.append(
                    (F.approx_count_distinct(_qcol(a.column), a.param)
                     if a.param is not None
                     else F.approx_count_distinct(_qcol(a.column)))
                    .alias(a.alias))
            elif a.op == "$approx_percentile":
                # M27 (round 15): the streaming quantile — the sketch's
                # merge-able summaries are the state; in the exact
                # regime (accuracy ≥ per-group n) the merged sketch
                # stores every sample, so stream ≡ batch bit-for-bit.
                # M28 fraction lists ride the same sketch (array out).
                p, acc = a.param
                pcol = (F.array(*[F.lit(v) for v in p])
                        if isinstance(p, tuple) else F.lit(p))
                exprs.append(
                    F.percentile_approx(_qcol(a.column), pcol,
                                        F.lit(acc)).alias(a.alias))
            elif a.op == "$avg":
                exprs.append(F.avg(_qcol(a.column)).alias(a.alias))
            elif a.op == "$min":
                exprs.append(F.min(_qcol(a.column)).alias(a.alias))
            else:  # $max
                exprs.append(F.max(_qcol(a.column)).alias(a.alias))
        agg = s.groupBy(win, *[_qcol(c) for c in ss.groupby]).agg(*exprs)
        win_col = "session_window" if ss.session_gap is not None else "window"
        out = agg.select(
            F.unix_micros(F.col(f"{win_col}.start")).alias("win_start_us"),
            *[_qcol(c) for c in ss.groupby],
            *[_qcol(a.alias) for a in ss.aggs],
        )
        mode = "append" if ss.watermark is not None else "complete"
        return _run_to_memory(out, self.spark, mode)

    def _compile_stream_join(self, sj: StreamStreamJoinSpec) -> DataFrame:
        """$stream_join (round 16, M33): stream ⋈ stream interval join
        — the same transformation graph the hash-green raw
        stream_stream_join key runs. Scale shape: both sides carry
        watermarks and the join condition bounds right event time to
        (left_ts, left_ts + within] — that PAIR is what lets Spark
        expire buffered join state instead of holding both streams
        forever (state is O(in-flight window), not O(stream), the
        100 TB requirement). The join itself shuffles both sides on
        the $on keys once — the same single exchange the batch
        self-join twin needs. Emission: left_id / right_id (event
        ids), the $on keys (left side), left_us / right_us epoch µs."""
        import os as _os

        from naqed_spark.queries.streaming import (
            _read_stream,
            _run_to_memory,
            _stage,
        )

        if sj.source != "events":
            raise SpecError(
                f"$stream_join.$source {sj.source!r}: 'events' is the"
                f" streaming entity (the only one with an event-time"
                f" column)"
            )
        base = _stage(self.spark, self.catalog.sf_dir)
        path = _os.path.join(base, "all")

        def side(preds, id_alias, ts_alias, key_prefix):
            s = _read_stream(self.spark, path)
            for p in preds:
                _typecheck(s, p, "events")
                s = _apply_predicate(s, p)
            for c in sj.on:
                if c not in s.columns:
                    raise SpecError(
                        f"$stream_join.$on: no such column {c!r}"
                        f" (have {s.columns})"
                    )
            return s.select(
                F.col("event_id").alias(id_alias),
                F.col("ts").alias(ts_alias),
                *[_qcol(c).alias(key_prefix + c) for c in sj.on],
            ).withWatermark(ts_alias, sj.watermark)

        left = side(sj.left_filter, "left_id", "left_ts", "")
        right = side(sj.right_filter, "right_id", "right_ts", "__r_")
        # sj.within is _DURATION_RE-validated ("N unit"), so the
        # interval literal interpolation cannot inject SQL
        cond = reduce(
            operator.and_,
            [left[c] == right["__r_" + c] for c in sj.on]
            + [
                right["right_ts"] > left["left_ts"],
                right["right_ts"]
                <= left["left_ts"] + F.expr(f"INTERVAL {sj.within}"),
            ],
        )
        out = left.join(right, cond, "inner").select(
            "left_id",
            "right_id",
            *[_qcol(c) for c in sj.on],
            F.unix_micros("left_ts").alias("left_us"),
            F.unix_micros("right_ts").alias("right_us"),
        )
        return _run_to_memory(out, self.spark, "append")

    def _compile_set(self, ss: SetSpec, refs: frozenset) -> DataFrame:
        """Set-operation combine (round 7). Scale shape: the union itself is
        a zero-shuffle concat of the branch plans; the DISTINCT variants
        ($union/$intersect/$except) shuffle once on the full row — Spark
        plans intersect/except as partial-agg'd joins and AQE sizes the
        exchange. Branches are aligned BY NAME before the positional
        combine so field order in the spec never changes semantics."""
        frames = [
            self._compile_set(b, refs) if isinstance(b, SetSpec)
            else self._compile(b, refs)
            for b in ss.branches
        ]
        first_cols = frames[0].columns
        for i, f in enumerate(frames[1:], start=2):
            if sorted(f.columns) != sorted(first_cols):
                raise SpecError(
                    f"{ss.op}: branch {i} columns {sorted(f.columns)} do not"
                    f" match branch 1 columns {sorted(first_cols)}"
                )
        aligned = [f.select(*[_qcol(c) for c in first_cols]) for f in frames]
        if ss.op == "$union_all":
            df = reduce(DataFrame.unionByName, aligned)
        elif ss.op == "$union":
            df = reduce(DataFrame.unionByName, aligned).distinct()
        elif ss.op == "$intersect":
            df = aligned[0].intersect(aligned[1])
        elif ss.op == "$intersect_all":
            # M40: bag intersect — multiplicities min (SQL INTERSECT
            # ALL); planned as a partial-agg'd join like the DISTINCT
            # form, count columns riding the exchange
            df = aligned[0].intersectAll(aligned[1])
        elif ss.op == "$except_all":
            # bag difference — multiplicities subtract
            df = aligned[0].exceptAll(aligned[1])
        else:  # $except — SQL EXCEPT (distinct); parser guarantees binary
            df = aligned[0].subtract(aligned[1])
        if ss.orderby:
            for c, _ in ss.orderby:
                if c not in first_cols:
                    raise SpecError(
                        f"{ss.op} $orderby: no such column {c!r}"
                        f" (have {sorted(first_cols)})"
                    )
            df = df.orderBy(
                *[
                    _sort_col(c, d)
                    for c, d in ss.orderby
                ]
            )
        if ss.offset is not None:
            df = df.offset(ss.offset)
        if ss.limit is not None:
            df = df.limit(ss.limit)
        return df

    def _apply_correlated_scalar(
        self, df: DataFrame, pred: Predicate, entity: str, refs: frozenset
    ) -> DataFrame:
        """M25 (round 15): lower a correlated scalar comparison to the
        classic decorrelation. Scale shape: the inner spec is a grouped
        aggregate whose $groupby equals the correlation keys (parse-
        enforced), so it compiles to ONE partial+final hash-agg pair;
        the comparison then rides ONE equi-join on those keys — AQE
        sizes the exchange (broadcast when the group count is small) —
        and the plan never contains a per-row subquery or nested loop.
        Missing-group and NULL-key semantics match SQL's NULL-scalar-
        fails-comparison: the inner equi-join drops exactly those rows
        (group keys are unique post-aggregate, so the join can never
        fan out)."""
        cs = pred.value
        if pred.column not in df.columns:
            raise SpecError(
                f"$filter: no such column {pred.column!r} on {entity!r}"
                f" (have {sorted(df.columns)})"
            )
        # ADVICE r15: the decorrelation's temp names are fixed
        # (__t_cs_v / __t_cs_<key>); an outer frame already carrying the
        # prefix (e.g. a $select alias) would collide and surface as a
        # raw Catalyst ambiguity instead of the DSL's typed error.
        clash = [c for c in df.columns if c.startswith("__t_cs_")]
        if clash:
            raise SpecError(
                f"correlated $scalar: outer columns {clash} use the"
                f" reserved __t_cs_ prefix (the decorrelation's"
                f" temporary namespace) — rename them"
            )
        for ic, oc in cs.on.items():
            if oc not in df.columns:
                raise SpecError(
                    f"$scalar.$on: no such outer column {oc!r} on"
                    f" {entity!r} (have {sorted(df.columns)})"
                )
        inner = self._resolve_scalars(cs.inner, refs)
        iqs = parse_query(inner)
        idf = self._compile(iqs, refs)
        keys = list(cs.on)
        missing = [ic for ic in keys if ic not in idf.columns]
        if missing:
            raise SpecError(
                f"$scalar.$on: inner query result has no column(s)"
                f" {missing} (have {idf.columns})"
            )
        val_cols = [c for c in idf.columns if c not in set(keys)]
        if len(val_cols) != 1:
            raise SpecError(
                f"correlated $scalar inner query must emit exactly one"
                f" value column beyond the $on keys — got {val_cols}"
            )
        # ADVICE r15: a type-incompatible comparison (string column vs
        # the inner numeric aggregate) would die in Catalyst analysis —
        # surface it as the DSL's typed error. Family check only
        # (numeric widths inter-compare fine); complex/unknown types
        # fall through to Spark's analyzer like _typecheck does.
        fo = _type_family(df, pred.column)
        fi = _type_family(idf, val_cols[0])
        if fo is not None and fi is not None and fo != fi:
            raise SpecError(
                f"correlated $scalar: cannot compare {entity}."
                f"{pred.column} ({fo}) against inner value column"
                f" {val_cols[0]!r} ({fi})"
            )
        ren = idf.select(
            *[F.col(ic).alias(f"__t_cs_{ic}") for ic in keys],
            F.col(val_cols[0]).alias("__t_cs_v"),
        )
        cond = reduce(
            operator.and_,
            (df[oc] == ren[f"__t_cs_{ic}"] for ic, oc in cs.on.items()),
        )
        return (
            df.join(ren, cond, "inner")
            .where(_CMP_OPS[pred.op](_qcol(pred.column),
                                     F.col("__t_cs_v")))
            .drop("__t_cs_v", *[f"__t_cs_{ic}" for ic in keys])
        )

    def _apply_node_filters(
        self, df: DataFrame, node: Node, refs: frozenset
    ) -> DataFrame:
        """One spelling of the $filter split, shared by the scan path
        and the post-$traverse path: plain predicates first (they push
        to the scan / prune the traversed frame), then the correlated-
        scalar predicates (M25) join against the pruned frame."""
        for pred in node.filters:
            if isinstance(pred.value,
                          (CorrelatedScalar, SubqueryIn, ExistsQuery)):
                continue
            _typecheck(df, pred, node.entity)
            df = _apply_predicate(df, pred)
        for pred in node.filters:
            if isinstance(pred.value, CorrelatedScalar):
                df = self._apply_correlated_scalar(
                    df, pred, node.entity, refs
                )
        for pred in node.filters:
            # M39: membership joins run LAST — the plain predicates
            # above already pruned the probe side, so the semi/anti
            # join scans the smallest frame
            if isinstance(pred.value, SubqueryIn):
                df = self._apply_in_query(df, pred, node.entity, refs)
            elif isinstance(pred.value, ExistsQuery):
                df = self._apply_exists_query(df, pred, node.entity, refs)
        return df

    def _compile_join_frames(
        self, js: "JoinFramesSpec", refs: frozenset
    ) -> DataFrame:
        """M41: ad-hoc equi-join of two compiled query frames.

        Result columns = left columns + right NON-KEY columns; for
        right/full joins the kept key columns are COALESCE(left,
        right) under the left name (SQL USING semantics — a right-only
        match must surface its key). Scale shape: one hash equi-join
        Catalyst plans like any other — AQE broadcasts the smaller
        compiled side, and since both sides are full plans (not
        scans), their own filters/aggs have already bounded what
        reaches the exchange."""

        def side(s):
            if isinstance(s, JoinFramesSpec):
                return self._compile_join_frames(s, refs)
            if isinstance(s, SetSpec):
                return self._compile_set(s, refs)
            return self._compile(s, refs)

        left, right = side(js.left), side(js.right)
        for lc in js.on:
            if lc not in left.columns:
                raise SpecError(
                    f"$join.$on: no such column {lc!r} on the $left"
                    f" side (have {sorted(left.columns)})"
                )
        for rc in js.on.values():
            if rc not in right.columns:
                raise SpecError(
                    f"$join.$on: no such column {rc!r} on the $right"
                    f" side (have {sorted(right.columns)})"
                )
        for lc, rc in js.on.items():
            # type-family guard (code-review r16b): a cross-family key
            # pair silently NULL-coerces to an empty join on Spark
            # where DuckDB errors — refuse typed
            fl, fr = _type_family(left, lc), _type_family(right, rc)
            if fl is not None and fr is not None and fl != fr:
                raise SpecError(
                    f"$join.$on: cannot join $left.{lc} ({fl}) to"
                    f" $right.{rc} ({fr})"
                )
        right_keys = set(js.on.values())
        collide = [c for c in right.columns
                   if c not in right_keys and c in left.columns]
        if collide:
            raise SpecError(
                f"$join: right-side column(s) {collide} collide with"
                f" left-side names — rename via $select inside the"
                f" branch"
            )
        # collision-free temp names for the right join keys (the
        # __t_cs_ lesson): renaming disambiguates the equi condition
        # and lets USING-style key coalescing resolve by name
        taken = set(left.columns) | set(right.columns)
        tmp: dict[str, str] = {}
        for i, rc in enumerate(js.on.values()):
            name = f"__t_jk_{i}"
            while name in taken:
                name += "_"
            tmp[rc] = name
            taken.add(name)
        right2 = right.select(
            *[_qcol(c).alias(tmp.get(c, c)) for c in right.columns]
        )
        cond = reduce(
            operator.and_,
            [left[lc] == right2[tmp[rc]] for lc, rc in js.on.items()],
        )
        joined = left.join(right2, cond, js.how)
        if js.how in ("right", "full"):
            # USING semantics: a right-only row must surface its key
            for lc, rc in js.on.items():
                joined = joined.withColumn(
                    lc, F.coalesce(_qcol(lc), F.col(tmp[rc]))
                )
        return joined.drop(*tmp.values())

    def _apply_exists_query(
        self, df: DataFrame, pred: Predicate, entity: str, refs: frozenset
    ) -> DataFrame:
        """M43: multi-key correlated EXISTS — LEFT SEMI (or ANTI for
        $not_exists_query) on EVERY $on equi pair. Scale shape: one
        hash semi/anti join; the inner plan's own filters bound the
        build side, key columns are pruned to the $on set before the
        exchange, AQE broadcasts small builds. NULL keys never match
        (the EXISTS/NOT EXISTS contract)."""
        eq = pred.value
        disp = ("the derived frame" if entity in ("$from", "$join")
                else entity)
        op_name = "$not_exists_query" if eq.negate else "$exists_query"
        for oc in eq.on.values():
            if oc not in df.columns:
                raise SpecError(
                    f"{op_name}.$on: no such outer column {oc!r} on"
                    f" {disp} (have {sorted(df.columns)})"
                )
        inner = (
            self._compile_set(eq.inner, refs)
            if isinstance(eq.inner, SetSpec)
            else self._compile(eq.inner, refs)
        )
        for ic in eq.on:
            if ic not in inner.columns:
                raise SpecError(
                    f"{op_name}.$on: no such inner column {ic!r} in the"
                    f" subquery result (have {sorted(inner.columns)})"
                )
        for ic, oc in eq.on.items():
            fi = _type_family(inner, ic)
            fo = _type_family(df, oc)
            if fi is not None and fo is not None and fi != fo:
                raise SpecError(
                    f"{op_name}.$on: cannot correlate inner {ic!r}"
                    f" ({fi}) with outer {oc!r} ({fo})"
                )
        # prune the build side to the correlation keys and alias them
        # collision-free (the __t_cs_ lesson)
        taken = set(df.columns) | set(inner.columns)
        tmp: dict[str, str] = {}
        for i, ic in enumerate(eq.on):
            name = f"__t_ex_{i}"
            while name in taken:
                name += "_"
            tmp[ic] = name
            taken.add(name)
        keys = inner.select(
            *[_qcol(ic).alias(tmp[ic]) for ic in eq.on]
        )
        cond = reduce(
            operator.and_,
            [df[oc] == keys[tmp[ic]] for ic, oc in eq.on.items()],
        )
        how = "left_anti" if eq.negate else "left_semi"
        return df.join(keys, cond, how)

    def _apply_in_query(
        self, df: DataFrame, pred: Predicate, entity: str, refs: frozenset
    ) -> DataFrame:
        """M39: {col: {"$in_query"/"$not_in_query": spec}} — LEFT SEMI
        / LEFT ANTI join against the subquery's single output column.

        NULL semantics ≡ EXISTS / NOT EXISTS (see SubqueryIn): NULL
        outer values drop from $in_query and survive $not_in_query;
        NULL inner values are filtered pre-join (they can never
        equi-match, and dropping them shrinks the build side). Scale
        shape: a hash semi/anti join AQE broadcasts when the subquery
        result is small — never a Column-level IN over a collected
        list (the subquery result never visits the driver)."""
        sq = pred.value
        disp = ("the derived frame" if entity in ("$from", "$join")
                else entity)
        if pred.column not in df.columns:
            raise SpecError(
                f"{disp}.{pred.column}: no such field"
                f" (have {sorted(df.columns)})"
            )
        inner = (
            self._compile_set(sq.inner, refs)
            if isinstance(sq.inner, SetSpec)
            else self._compile(sq.inner, refs)
        )
        op_name = "$not_in_query" if sq.negate else "$in_query"
        if len(inner.columns) != 1:
            raise SpecError(
                f"{op_name} on {pred.column!r}: the subquery must emit"
                f" exactly ONE column — got {inner.columns}"
            )
        # type-family guard (code-review r16b): a string-vs-numeric
        # membership test silently NULL-coerces to an empty result on
        # Spark where DuckDB errors — refuse typed like the
        # correlated-scalar path
        fo = _type_family(df, pred.column)
        fi = _type_family(inner, inner.columns[0])
        if fo is not None and fi is not None and fo != fi:
            raise SpecError(
                f"{op_name}: cannot test {disp}.{pred.column} ({fo})"
                f" for membership in subquery column"
                f" {inner.columns[0]!r} ({fi})"
            )
        # collision-free key alias (the __t_cs_ lesson, ADVICE r15)
        key = "__t_inq"
        while key in df.columns:
            key += "_"
        inner_keys = inner.select(
            _qcol(inner.columns[0]).alias(key)
        ).where(F.col(key).isNotNull())
        how = "left_anti" if sq.negate else "left_semi"
        return df.join(
            inner_keys, df[pred.column] == inner_keys[key], how
        )

    # -- compilation -------------------------------------------------------
    def _load_filtered(
        self, node: Node, refs: frozenset, sample: "SampleSpec | None" = None
    ) -> DataFrame:
        df = self.catalog.entity(node.entity)
        df = self._apply_node_filters(df, node, refs)
        if sample is not None:
            # $sample (round 7): deterministic md5-bucket sample of the
            # ROOT entity, applied at the scan — after ALL of $filter
            # (including an M25 correlated-scalar decorrelation join,
            # by design: stratified mode ranks within the FILTERED
            # population, so the whole $filter must precede the sample
            # for the documented filter-then-sample semantics) but
            # before any relationship join — so the downstream plan
            # runs on the reduced row set and the sample of a join is
            # the join of the samples (the sample_hash_deterministic
            # discipline; rand() is neither reproducible nor
            # key-consistent). Pure Column construction — the key was
            # identifier-checked at parse time and is column-resolved
            # here, so spec data can never inject SQL.
            if sample.key not in df.columns:
                raise SpecError(
                    f"$sample.$key {sample.key!r} is not a column of"
                    f" {node.entity!r} (have {df.columns})"
                )
            if sample.per is not None:
                # stratified mode (round 10): the $keep md5-ranked rows
                # PER stratum — equal counts regardless of stratum skew
                # (the sample_stratified_hash discipline). rn <= k over a
                # partitioned rank compiles to WindowGroupLimit: each
                # input partition keeps its local top-k per stratum
                # BEFORE the shuffle, so the exchange carries
                # O(k x strata x partitions) rows, not the table.
                #
                # NULL semantics (round 11, ADVICE r10): md5(NULL) is
                # NULL, and Spark's default ASC order is nulls-FIRST —
                # which would preferentially keep every NULL-$key row in
                # every stratum. NULL-$key rows are EXCLUDED outright:
                # ranking them last instead would leave multiple NULL
                # keys fully tied on (md5, key), making WHICH of them
                # survives a partition-luck pick that diverges between
                # engines and even between Spark runs. The sample
                # contract is md5-of-key-deterministic; rows without a
                # key have no place in it. A NULL $per value still
                # forms its own stratum (GROUP BY semantics: NULL is
                # one group) — deliberate and documented.
                from pyspark.sql.window import Window

                if sample.per not in df.columns:
                    raise SpecError(
                        f"$sample.$per {sample.per!r} is not a column of"
                        f" {node.entity!r} (have {df.columns})"
                    )
                w = Window.partitionBy(F.col(sample.per)).orderBy(
                    F.md5(F.col(sample.key).cast("string")),
                    F.col(sample.key),
                )
                df = (
                    df.filter(F.col(sample.key).isNotNull())
                    .withColumn("__sample_rn", F.row_number().over(w))
                    .filter(F.col("__sample_rn") <= sample.keep)
                    .drop("__sample_rn")
                )
            else:
                bucket = (
                    F.conv(
                        F.substring(
                            F.md5(F.col(sample.key).cast("string")), 1, 2
                        ), 16, 10
                    ).cast("int") % sample.buckets
                )
                df = df.filter(bucket < sample.keep)
        return df

    def _compile_node(
        self, node: Node, refs: frozenset,
        sample: "SampleSpec | None" = None,
        base: "DataFrame | None" = None,
    ) -> tuple[DataFrame, list[str]]:
        """Compile a traversal subtree to (DataFrame, requested columns).

        ``base`` (round 14, M19) substitutes the root scan with an
        already-built frame — the $traverse output (reached rows +
        depth). The node's $filter then applies to THAT frame (a
        post-traversal filter; the seed predicate lives inside
        $traverse.$seeds), and everything downstream — field requests,
        hops, $select, $agg — composes unchanged."""
        if base is not None:
            # post-$traverse: the shared $filter split applies to the
            # traversed frame (a correlated $scalar joins against it)
            df = self._apply_node_filters(base, node, refs)
        else:
            df = self._load_filtered(node, refs, sample)
        cols = list(node.fields)
        for rel_name, child in node.children:
            rel = self.catalog.relationship(node.entity, rel_name)
            child.entity = rel.dst
            child_df, child_cols = self._compile_node(child, refs)
            if child.collect:
                # $collect re-nest (naqed's array-of-children shape): one
                # parent row, children as a sorted array — a pre-join
                # groupBy on the child's join key, so the shuffle moves
                # one array row per parent key instead of the fan-out.
                # Single requested field → array<field>; several → array
                # of structs (field order = request order). sort_array
                # makes the array order engine-independent.
                if node.filters:
                    # child-side prune (VERDICT r4 item 7): when the parent
                    # carries a $filter, semi-join the child on the
                    # filtered parent keys BEFORE the collect_list groupBy
                    # — at 100 TB a selective parent filter (e.g. one
                    # mktsegment) must not pay a full-child aggregation.
                    # Rows dropped here could never join anyway (left join
                    # keeps parent rows only), so results are unchanged;
                    # AQE turns the semi join into a broadcast when the
                    # filtered parent key set is small.
                    pk = df.select(F.col(rel.src_key).alias("__parent_key"))
                    child_df = child_df.join(
                        pk,
                        child_df[rel.dst_key] == pk["__parent_key"],
                        "left_semi",
                    )
                payload = (
                    F.col(child_cols[0])
                    if len(child_cols) == 1
                    else F.struct(*[F.col(c) for c in child_cols])
                )
                grouped = child_df.groupBy(
                    F.col(rel.dst_key).alias("__collect_key")
                ).agg(F.sort_array(F.collect_list(payload)).alias(rel_name))
                df = df.join(
                    grouped,
                    df[rel.src_key] == grouped["__collect_key"],
                    "left",
                ).drop("__collect_key")
                # childless parents get an empty array, not null
                atype = df.schema[rel_name].dataType.simpleString()
                df = df.withColumn(
                    rel_name,
                    F.coalesce(F.col(rel_name), F.array().cast(atype)),
                )
                cols.append(rel_name)
                continue
            if child.asof is not None:
                # round 9: $asof — the E1 spelling of the registered
                # join_asof/join_asof_nearest family: FK equi-join +
                # time residual + rank-1 per parent key. The rn == 1
                # filter compiles to a WindowGroupLimit partial top-1
                # BEFORE the shuffle, so the plan never materializes the
                # full fan-out — the same scale shape the §2 keys assert.
                from pyspark.sql.window import Window

                a = child.asof
                for col, frame, side in (
                    (a.left_on, df, node.entity),
                    (a.per, df, node.entity),
                    (a.right_on, child_df, child.entity),
                    (a.tiebreak, child_df, child.entity),
                ):
                    if col not in frame.columns:
                        raise SpecError(
                            f"$asof on {rel_name!r}: unknown column"
                            f" {col!r} on {side!r}"
                        )
                left, right = df[a.left_on], child_df[a.right_on]
                # numeric views of the ordering columns for distance
                # arithmetic (nearest ranking, tolerance bounds):
                # timestamps lower to unix_micros — a timestamp minus a
                # timestamp is an INTERVAL, which neither abs() nor a
                # numeric $tolerance composes with — and DATEs lower to
                # epoch µs as well (unix_date is timezone-free days
                # since epoch), so $tolerance has ONE unit across the
                # temporal types and a mixed date/timestamp pair
                # compares µs against µs instead of failing in the
                # analyzer (ADVICE r11: a DATE previously took the raw
                # branch — day-unit arithmetic — silently diverging
                # from the documented µs contract). $tolerance is in µs
                # for date/timestamp, column units for numerics.
                # The shared epoch lowering (NTZ-safe unix_micros) —
                # ONE spelling for the E1 hop and the registered
                # join_asof_* keys it is pinned against, so the µs
                # discipline can never drift between the two layers.
                # Lazy import: queries._util is pyspark-only (no cycle
                # back into the compiler).
                from naqed_spark.queries._util import epoch_us

                def _num(frame, name, col):
                    dt = frame.schema[name].dataType.simpleString()
                    if "timestamp" in dt:
                        return epoch_us(col)
                    if dt == "date":
                        return F.unix_date(col).cast("bigint") * F.lit(
                            86_400_000_000
                        )
                    return col

                if a.tolerance is not None or a.strategy == "nearest":
                    # distance arithmetic needs a numeric lowering —
                    # reject anything else with a typed error instead
                    # of leaking an engine AnalysisException from
                    # string/interval subtraction (ADVICE r11)
                    _dist_ok = (
                        "int", "bigint", "smallint", "tinyint",
                        "double", "float",
                    )
                    for frame, name, side in (
                        (df, a.left_on, node.entity),
                        (child_df, a.right_on, child.entity),
                    ):
                        dt = frame.schema[name].dataType.simpleString()
                        if not (
                            "timestamp" in dt
                            or dt == "date"
                            or dt in _dist_ok
                            or dt.startswith("decimal")
                        ):
                            raise SpecError(
                                f"$asof on {rel_name!r}: ordering column"
                                f" {name!r} on {side!r} has type {dt},"
                                f" which does not support the distance"
                                f" arithmetic $tolerance/nearest need —"
                                f" use a numeric, date, or timestamp"
                                f" column"
                            )

                lnum = _num(df, a.left_on, left)
                rnum = _num(child_df, a.right_on, right)
                cond = df[rel.src_key] == child_df[rel.dst_key]
                # ALL temporal comparisons go through the lowered
                # lnum/rnum views, residuals included (round-12
                # self-review): for same-type pairs the lowering is a
                # monotonic bijection (identical matches), but a MIXED
                # date/timestamp pair compared raw would cast the date
                # at SESSION-LOCAL midnight while the tolerance bound
                # uses UTC epoch µs — under a non-UTC session timezone
                # the two halves of one match predicate would disagree.
                # One lowering, one clock.
                if a.strategy == "backward":
                    cond = cond & (rnum <= lnum)
                    if a.tolerance is not None:
                        # staleness bound — also a join fan-out prune
                        cond = cond & (rnum >= lnum - F.lit(a.tolerance))
                    order = [
                        child_df[a.right_on].desc(),
                        child_df[a.tiebreak].desc(),
                    ]
                elif a.strategy == "forward":
                    cond = cond & (rnum >= lnum)
                    if a.tolerance is not None:
                        cond = cond & (rnum <= lnum + F.lit(a.tolerance))
                    order = [
                        child_df[a.right_on].asc(),
                        child_df[a.tiebreak].asc(),
                    ]
                else:  # nearest (round 11): closest in either direction
                    # backward/forward drop NULL-ordering rows through
                    # their residual (NULL comparison → UNKNOWN → no
                    # match, SQL three-valued logic). Unbounded nearest
                    # has no residual — joining on bare FK equality
                    # would match a NULL-left_on parent to its EARLIEST
                    # child (all distances NULL → tie → time order) and
                    # let NULL-right_on children reach ranking. Require
                    # both ordering values explicitly so the three
                    # strategies share one null contract: a NULL on
                    # either side never produces a match. Also a
                    # fan-out prune, like the residuals.
                    cond = cond & lnum.isNotNull() & rnum.isNotNull()
                    if a.tolerance is not None:
                        cond = (
                            cond
                            & (rnum >= lnum - F.lit(a.tolerance))
                            & (rnum <= lnum + F.lit(a.tolerance))
                        )
                    # the join_asof_nearest contract: rank by |Δt|, then
                    # earlier child time, then the unique tiebreak.
                    # nulls-LAST ordering kept as defense in depth.
                    order = [
                        F.abs(rnum - lnum).asc_nulls_last(),
                        child_df[a.right_on].asc_nulls_last(),
                        child_df[a.tiebreak].asc_nulls_last(),
                    ]
                # r17 opt (VERDICT r16 item 5, guide §2.3 "aggregate
                # before you shuffle"): for the INNER hop the rank-1
                # window is an argmin/argmax, so the ordering columns
                # plus every carried column fold into ONE struct
                # aggregate — partial aggregation ships ≤1 row per
                # (parent key, map partition) through the exchange and
                # no Sort/WindowGroupLimit runs (the joins.py:252
                # argument). Equivalence: each strategy's window order
                # is uniformly directional over (rnum, tiebreak) —
                # rnum is a monotonic bijection of right_on for
                # same-type pairs, and ALL residual/tolerance
                # comparisons already go through it — and struct
                # comparison is lexicographic, so max/min(struct)
                # selects exactly the rank-1 row; on exact order ties
                # (possible only under a duplicated parent key) the
                # aggregate picks deterministically where row_number
                # picked arbitrarily. $how: left keeps the window
                # spelling (the all-NULL-child row of an unmatched
                # parent must survive ranking), as do frames with
                # non-orderable (map) columns or colliding
                # parent/child column names.
                overlap = set(df.columns) & set(child_df.columns)
                orderable = not any(
                    "map<" in f.dataType.simpleString()
                    for f in list(df.schema.fields)
                    + list(child_df.schema.fields)
                )
                if a.how == "inner" and not overlap and orderable:
                    if a.strategy == "backward":
                        pick = F.max
                        sort_cols = [rnum, child_df[a.tiebreak]]
                    elif a.strategy == "forward":
                        pick = F.min
                        sort_cols = [rnum, child_df[a.tiebreak]]
                    else:  # nearest
                        pick = F.min
                        # the window spelling orders asc_nulls_LAST while
                        # min(struct) sorts a null field first — a
                        # null-flag field reproduces nulls-last exactly
                        # (|Δ| and rnum are non-null by the join's
                        # isNotNull conditions; the tiebreak flag is the
                        # same defense-in-depth the window order carried)
                        sort_cols = [
                            F.abs(rnum - lnum),
                            rnum,
                            child_df[a.tiebreak].isNull().cast("int"),
                            child_df[a.tiebreak],
                        ]
                    # r17 payload prune: a column named NOWHERE in the
                    # spec (and not a catalog join key / PK, and not an
                    # engine-internal __ column) can never be referenced
                    # downstream — the final projection emits requested
                    # names only. Dropping it from the struct is what
                    # makes the aggregate beat the window spelling
                    # (measured: full-width struct ≈ window parity at
                    # sf0.1; pruned struct 1.7× faster — the fan-out
                    # rows no longer copy the unreferenced heavy
                    # payload columns into aggregation buffers).
                    def _keep(c):
                        return c in refs or c.startswith("__")

                    names = [
                        c for c in df.columns if c != a.per and _keep(c)
                    ] + [c for c in child_df.columns if _keep(c)]
                    payload = [
                        df[c]
                        for c in df.columns
                        if c != a.per and _keep(c)
                    ] + [child_df[c] for c in child_df.columns if _keep(c)]
                    s = F.struct(
                        *[
                            c.alias(f"__s{i}")
                            for i, c in enumerate(sort_cols)
                        ],
                        *[
                            c.alias(f"__c{i}")
                            for i, c in enumerate(payload)
                        ],
                    )
                    df = (
                        df.join(child_df, cond, "inner")
                        .groupBy(df[a.per].alias(a.per))
                        .agg(pick(s).alias("__asof_row"))
                        .select(
                            a.per,
                            *[
                                F.col(f"__asof_row.__c{i}").alias(n)
                                for i, n in enumerate(names)
                            ],
                        )
                    )
                    cols.extend(child_cols)
                    continue
                w = Window.partitionBy(df[a.per]).orderBy(*order)
                # $how (round 12, ADVICE r11): "inner" (default) drops
                # parents whose only matches are stale/absent; "left"
                # keeps them with NULL child columns — the registered
                # join_asof_tolerance key's feature-store freshness
                # contract. With a left join an unmatched parent emits
                # exactly ONE all-NULL-child row, so the rank-1 filter
                # keeps it and matched parents rank among real matches
                # only (the NULL row exists only when nothing matched).
                df = (
                    df.join(child_df, cond, a.how)
                    .withColumn("__asof_rn", F.row_number().over(w))
                    .filter(F.col("__asof_rn") == 1)
                    .drop("__asof_rn")
                )
                cols.extend(child_cols)
                continue
            # broadcast ONLY fixed-size dims (region/nation/supplier); at
            # 100 TB customer/part are not broadcastable — a forced hint
            # there is an executor OOM. AQE demotes sort-merge → broadcast
            # at runtime for them when they turn out small.
            if rel.dst in SMALL_DIMS:
                child_df = F.broadcast(child_df)
            cond = df[rel.src_key] == child_df[rel.dst_key]
            # round 9: $theta residuals ride the FK equi-join (works for
            # every $how including the $exists semi/anti forms) — the
            # equi key keeps the join hash-based, so the plan never
            # degrades to a nested loop.
            for lc, top_op, rc in child.theta:
                if lc not in df.columns:
                    raise SpecError(
                        f"$theta on {rel_name!r}: unknown column {lc!r}"
                        f" on {node.entity!r}"
                    )
                if rc not in child_df.columns:
                    raise SpecError(
                        f"$theta on {rel_name!r}: unknown column {rc!r}"
                        f" on {child.entity!r}"
                    )
                cond = cond & _CMP_OPS[top_op](df[lc], child_df[rc])
            joined = df.join(child_df, cond, child.how)
            if child.how in ("left_semi", "left_anti"):
                df = joined  # child columns are not visible after semi/anti
            else:
                df = joined
                cols.extend(child_cols)
        return df, cols

    def _compile_expr(self, df: DataFrame, ex: Expr, elem=None):
        """$select expression tree → Column; unknown refs fail fast.

        ``elem`` is the bound lambda variable while compiling an
        $array_filter/$array_transform body (M34) — the '$x' element
        reference resolves to it; outside a lambda '$x' is refused
        typed."""
        op = ex.op
        if op == "$elem":
            if elem is None:
                raise SpecError(
                    "'$x' is only valid inside an $array_filter/"
                    "$array_transform lambda body"
                )
            return elem
        if op == "$if":
            # conditional expression: the condition is a parsed predicate
            # list (AND-ed, $filter syntax); branches are full expressions.
            preds = ex.args[0]
            for p in preds:
                if p.column not in df.columns:
                    raise SpecError(
                        f"$if: no such column {p.column!r}"
                        f" (have {sorted(df.columns)})"
                    )
            cond = reduce(
                operator.and_, (_predicate_condition(p) for p in preds)
            )
            return F.when(
                cond, self._compile_expr(df, ex.args[1], elem=elem)
            ).otherwise(self._compile_expr(df, ex.args[2], elem=elem))
        if op == "$col":
            name = ex.args[0]
            if name not in df.columns:
                raise SpecError(
                    f"$select: no such column {name!r} (have {sorted(df.columns)})"
                )
            # backtick-quote: the existence check above is against the
            # VERBATIM frame column name, so resolution must be verbatim
            # too — a bare F.col would parse a dot (e.g. a $pivot value
            # column "us.east") as nested-field access and crash with an
            # engine AnalysisException instead of resolving (round 11;
            # round 12 extracted the shared _qcol helper).
            return _qcol(name)
        if op == "$lit":
            return F.lit(ex.args[0])
        if op in _ARRAY_OPS:
            return self._compile_array_op(df, ex, elem)
        sub = [self._compile_expr(df, a, elem=elem) for a in ex.args]
        if op == "$add":
            return reduce(operator.add, sub)
        if op == "$sub":
            return sub[0] - sub[1]
        if op == "$mul":
            return reduce(operator.mul, sub)
        if op == "$div":
            return sub[0] / sub[1]
        if op == "$mod":
            # % is C-style (sign of dividend) in BOTH Spark and DuckDB, so
            # the spelling is engine-stable on the non-negative keys the
            # specs use it for (bucketing / modular grouping).
            return sub[0] % sub[1]
        if op == "$abs":
            return F.abs(sub[0])
        if op in _CMP_OPS:
            # M24 (round 15): boolean-valued comparisons over two
            # sub-expressions (column-vs-column — $if's predicate
            # syntax only spells column-vs-literal). SQL three-valued
            # logic on both engines: NULL operand → NULL result.
            return _CMP_OPS[op](sub[0], sub[1])
        if op in ("$dot", "$cosine", "$euclidean"):
            # Operand TYPE check (round-13 self-review): a scalar column
            # here would die in Catalyst analysis as a cast error —
            # surface it as the DSL's typed SpecError instead, naming
            # the column. Only $col operands can be mistyped; literal
            # vectors are shape-checked at parse time.
            from pyspark.sql.types import ArrayType

            for arg in ex.args:
                if arg.op == "$col":
                    f = df.schema[arg.args[0]]
                    if not isinstance(f.dataType, ArrayType):
                        raise SpecError(
                            f"{op}: column {arg.args[0]!r} is"
                            f" {f.dataType.simpleString()}, not an array"
                        )
            # Vector similarity (round 13, M12): pure Column HOFs —
            # zip_with pairs elements, aggregate folds the sum LEFT-TO-
            # RIGHT in array order (a deterministic IEEE754 sequence,
            # the same order numpy/DuckDB walk the list). Zero shuffle,
            # zero Python: the whole expression is one JVM-side
            # projection, exactly the pattern the llm_knn_* keys carry.
            # Semantics pinned by tests: NULL operand → NULL; length
            # mismatch → NULL (zip_with pads with NULL, the fold
            # absorbs it); zero-norm cosine → NULL (Spark x/0.0).
            a = sub[0].cast("array<double>")
            b = sub[1].cast("array<double>")

            def _vdot(x, y):
                return F.aggregate(
                    F.zip_with(x, y, lambda p, q: p * q),
                    F.lit(0.0),
                    lambda acc, v: acc + v,
                )

            if op == "$dot":
                return _vdot(a, b)
            if op == "$cosine":
                # norm-product form (‖a‖·‖b‖), matching the registered
                # brute-force kernel's nrm_a * nrm_b denominator
                return _vdot(a, b) / (
                    F.sqrt(_vdot(a, a)) * F.sqrt(_vdot(b, b))
                )
            return F.sqrt(
                F.aggregate(
                    F.zip_with(a, b, lambda p, q: (p - q) * (p - q)),
                    F.lit(0.0),
                    lambda acc, v: acc + v,
                )
            )
        if op == "$round":
            return F.round(sub[0], ex.args[1].args[0])
        if op == "$coalesce":
            # null-handling combinators (round 13, M18): semantics
            # probed identical in Spark and DuckDB — first non-NULL;
            # NULL-on-equal; greatest/least skip NULLs (NULL only when
            # every operand is NULL)
            return F.coalesce(*sub)
        if op == "$nullif":
            return F.nullif(sub[0], sub[1])
        if op == "$greatest":
            return F.greatest(*sub)
        if op == "$least":
            return F.least(*sub)
        if op == "$substring":
            # 1-based CHARACTER indexing on both engines (multibyte
            # probed); pos/len are parse-validated int literals
            return F.substring(
                sub[0], ex.args[1].args[0], ex.args[2].args[0]
            )
        if op == "$lpad":
            return F.lpad(sub[0], ex.args[1].args[0], ex.args[2].args[0])
        if op == "$rpad":
            return F.rpad(sub[0], ex.args[1].args[0], ex.args[2].args[0])
        if op == "$left":
            return F.left(sub[0], F.lit(ex.args[1].args[0]))
        if op == "$right":
            return F.right(sub[0], F.lit(ex.args[1].args[0]))
        if op == "$reverse":
            return F.reverse(sub[0])
        if op == "$repeat":
            return F.repeat(sub[0], ex.args[1].args[0])
        if op == "$contains":
            # PLAIN substring test (never regex — that's $regex_like)
            return F.contains(sub[0], F.lit(ex.args[1].args[0]))
        if op == "$starts_with":
            return F.startswith(sub[0], F.lit(ex.args[1].args[0]))
        if op == "$ends_with":
            return F.endswith(sub[0], F.lit(ex.args[1].args[0]))
        if op == "$strpos":
            # 1-based first position, 0 when absent (≡ DuckDB strpos;
            # locate takes the needle FIRST)
            return F.locate(ex.args[1].args[0], sub[0])
        if op == "$date_add":
            return F.date_add(sub[0], sub[1])
        if op == "$date_sub":
            return F.date_sub(sub[0], sub[1])
        if op == "$add_months":
            return F.add_months(sub[0], sub[1])
        if op == "$last_day":
            return F.last_day(sub[0])
        if op == "$trim":
            return F.trim(sub[0])
        if op == "$ltrim":
            return F.ltrim(sub[0])
        if op == "$rtrim":
            return F.rtrim(sub[0])
        if op == "$replace":
            # plain-string replace (never regex) — parse-validated
            # literals; empty search is a no-op on both engines
            return F.replace(
                sub[0],
                F.lit(ex.args[1].args[0]),
                F.lit(ex.args[2].args[0]),
            )
        if op == "$regex_extract":
            # M31 (round 16): pattern/group parse-validated to the
            # cross-engine subset; '' on no match, NULL on NULL input
            # (probed identical in both engines)
            return F.regexp_extract(
                sub[0], ex.args[1].args[0], ex.args[2].args[0]
            )
        if op == "$regex_like":
            # PARTIAL match (rlike ≡ DuckDB regexp_matches), SQL
            # three-valued on NULL input
            return sub[0].rlike(ex.args[1].args[0])
        if op == "$regex_replace":
            # replaces ALL occurrences (Spark default ≡ DuckDB 'g');
            # replacement is a parse-validated PLAIN literal, so Java's
            # $-group expansion can never fire on it
            return F.regexp_replace(
                sub[0], ex.args[1].args[0], ex.args[2].args[0]
            )
        if op == "$regex_count":
            # non-overlapping match count (≡ DuckDB
            # len(regexp_extract_all)); the isNotNull guard dodges
            # Spark's size(NULL) = -1 legacy (the llm_chunk_windows
            # lesson) so NULL input → NULL on both engines
            src = sub[0]
            return F.when(
                src.isNotNull(),
                F.size(F.regexp_extract_all(
                    src, F.lit(ex.args[1].args[0]), F.lit(0))),
            )
        if op == "$day":
            return F.dayofmonth(sub[0])
        if op == "$hour":
            return F.hour(sub[0])
        if op == "$minute":
            return F.minute(sub[0])
        if op == "$second":
            # whole seconds (fraction truncated) on both engines
            return F.second(sub[0])
        if op == "$quarter":
            return F.quarter(sub[0])
        if op == "$week":
            # ISO week number on both engines (Monday-start weeks)
            return F.weekofyear(sub[0])
        if op == "$doy":
            return F.dayofyear(sub[0])
        if op == "$dow_iso":
            # ISO 1=Monday..7=Sunday: weekday() is 0=Monday; Spark's
            # dayofweek() (1=Sunday) is deliberately not used — DuckDB's
            # isodow is the Monday-based numbering
            return F.weekday(sub[0]) + F.lit(1)
        if op == "$epoch_us":
            # §7.3 timestamp emission; the cast lets DATE operands lower
            # via midnight UTC (session tz pinned), matching DuckDB's
            # epoch_us(DATE)
            return F.unix_micros(sub[0].cast("timestamp"))
        if op in ("$floor", "$ceil", "$sign", "$sqrt", "$pow", "$exp",
                  "$ln", "$log10"):
            # operands to DOUBLE first: decimal-width arithmetic inside
            # the function argument diverges across engines (probed),
            # a double operand never does
            a = sub[0].cast("double")
            if op == "$floor":
                return F.floor(a).cast("bigint")
            if op == "$ceil":
                return F.ceil(a).cast("bigint")
            if op == "$sign":
                return F.signum(a).cast("int")
            if op == "$sqrt":
                # NULL outside the domain: DuckDB errors on sqrt(neg),
                # Spark yields NaN — neither is a hashable emission
                return F.when(a >= 0, F.sqrt(a))
            if op == "$pow":
                return F.pow(a, sub[1].cast("double"))
            if op == "$exp":
                return F.exp(a)
            if op == "$ln":
                # NULL on x <= 0 (DuckDB errors, Spark NULLs — pin NULL)
                return F.when(a > 0, F.log(a))
            return F.when(a > 0, F.log10(a))
        if op == "$date_trunc":
            # cast to DATE: Spark's date_trunc returns a TIMESTAMP whose
            # rendering is session-timezone-dependent — a DATE emission
            # is tz-proof and matches DuckDB's date_trunc-on-DATE type
            # (unit validated at parse time, _TRUNC_UNITS)
            return F.date_trunc(ex.args[1].args[0], sub[0]).cast("date")
        if op == "$datediff":
            # whole days end - start (Spark argument order)
            return F.datediff(sub[0], sub[1])
        if op == "$concat":
            return F.concat(*sub)
        if op == "$lower":
            return F.lower(sub[0])
        if op == "$upper":
            return F.upper(sub[0])
        if op == "$length":
            return F.length(sub[0])
        if op == "$md5":
            return F.md5(sub[0])
        if op == "$size":
            # NULL array → NULL (the explicit guard dodges Spark's
            # size(NULL) = -1 legacy, live in this session config —
            # same pinning as $json_size/$regex_count; DuckDB's len()
            # is already NULL). Registered keys only $size $collect-ed
            # relationship arrays, which are never NULL, so no driver
            # signal is voided by the pin.
            return F.when(sub[0].isNotNull(), F.size(sub[0]))
        if op == "$array_join":
            # separator is a parse-time-validated string literal (spec.py),
            # passed to array_join as a plain str, not a Column
            return F.array_join(sub[0], ex.args[1].args[0])
        if op == "$split":
            # PLAIN-string split (round 13, M13): Spark's split takes a
            # Java regex, so the literal separator is \Q...\E-quoted
            # (parse time rejects separators containing "\E"). limit -1
            # keeps trailing empty fields — the exact semantics of
            # DuckDB's string_split, so the oracle twin needs no
            # trimming compensation. NULL input → NULL array on both.
            sep = ex.args[1].args[0]
            return F.split(sub[0], "\\Q" + sep + "\\E", -1)
        if op == "$json":
            # path is a parse-time-validated "$."-prefixed literal; NULL on
            # missing keys in both engines (DuckDB twin:
            # json_extract_string)
            return F.get_json_object(sub[0], ex.args[1].args[0])
        if op == "$json_keys":
            # round 14 (M20): top-level keys of a JSON
            # OBJECT in DOCUMENT order (probed identical across
            # engines on object input). Contract: NULL unless the
            # input is a valid JSON object — Spark's from_json already
            # NULLs 'null'/arrays/malformed where DuckDB's json_keys
            # returns [] or raises, so the DuckDB twin mirrors with
            # CASE WHEN json_valid(x) AND json_type(x) = 'OBJECT'.
            # The result is an ordinary array: explodable, sizeable.
            return F.map_keys(F.from_json(sub[0], "map<string,string>"))
        if op == "$json_size":
            # top-level key count under the same object-only contract;
            # the explicit NULL guard dodges Spark's size(NULL) = -1
            # legacy (the llm_chunk_windows lesson)
            m = F.from_json(sub[0], "map<string,string>")
            return F.when(m.isNotNull(), F.size(F.map_keys(m)))
        if op == "$year":
            return F.year(sub[0])
        if op == "$month":
            return F.month(sub[0])
        if op == "$cast":
            return sub[0].cast(ex.args[1].args[0])
        raise SpecError(f"unknown $select op {op!r}")  # pragma: no cover

    def _compile_array_op(self, df: DataFrame, ex: Expr, elem=None):
        """M34 array higher-order verbs — all lowered to JVM HOFs
        (filter/transform/aggregate) or array intrinsics: zero Python,
        zero exchange; the lambda body compiles through the ordinary
        expression compiler with '$x' bound to the lambda variable.
        Cross-engine semantics per the spec.py table (probed): NULL
        array → NULL on every verb."""
        from pyspark.sql.types import ArrayType, NumericType

        op = ex.op
        a0 = ex.args[0]
        arr = self._compile_expr(df, a0, elem=elem)
        # resolve the operand's type so a scalar operand or a
        # non-numeric fold surfaces as the DSL's typed SpecError
        # instead of a raw Catalyst cast error. Direct columns read the
        # frame schema (free); only COMPUTED operands (a $split result,
        # a nested transform) pay the analyzer pass — code-review r16b:
        # the earlier unconditional df.select(arr) analyzed the whole
        # accumulated plan once per array verb.
        if a0.op == "$col":
            dt = df.schema[a0.args[0]].dataType
        else:
            dt = df.select(arr.alias("__t_arr")).schema[0].dataType
        if not isinstance(dt, ArrayType):
            raise SpecError(
                f"{op}: operand is {dt.simpleString()}, not an array"
            )
        if op == "$array_sum" and not isinstance(
            dt.elementType, NumericType
        ):
            raise SpecError(
                f"$array_sum: operand elements are"
                f" {dt.elementType.simpleString()}, not numeric"
            )
        if op == "$array_filter":
            return F.filter(
                arr, lambda x: self._compile_expr(df, ex.args[1], elem=x)
            )
        if op == "$array_transform":
            return F.transform(
                arr, lambda x: self._compile_expr(df, ex.args[1], elem=x)
            )
        if op == "$array_sum":
            # skip-NULL left fold in DOUBLE: element casts are exact
            # (float→double), the fold order is array order on both
            # engines (probed bit-identical on the embeddings fixture);
            # empty/all-NULL → 0.0, NULL array → NULL (the outer when)
            nums = F.filter(
                arr.cast("array<double>"), lambda v: v.isNotNull()
            )
            return F.when(
                arr.isNotNull(),
                F.aggregate(nums, F.lit(0.0), lambda acc, v: acc + v),
            )
        if op == "$array_min":
            return F.array_min(arr)
        if op == "$array_max":
            return F.array_max(arr)
        if op == "$array_contains":
            # coalesce pins Spark's three-valued "not found among
            # NULLs" NULL to FALSE ≡ DuckDB list_contains; the outer
            # when keeps NULL array → NULL
            return F.when(
                arr.isNotNull(),
                F.coalesce(
                    F.array_contains(arr, F.lit(ex.args[1].args[0])),
                    F.lit(False),
                ),
            )
        if op == "$array_distinct":
            # SORTED distinct NON-NULL — the only contract both engines
            # can hash (Spark keeps first-occurrence order, DuckDB
            # guarantees none)
            return F.array_sort(
                F.array_distinct(F.filter(arr, lambda v: v.isNotNull()))
            )
        if op == "$array_sort":
            # ascending, NULLs last (≡ list_sort 'ASC','NULLS LAST')
            return F.array_sort(arr)
        # $slice: 1-based start, non-negative length (parse-validated)
        return F.slice(arr, ex.args[1].args[0], ex.args[2].args[0])

    def _compile_window(self, df: DataFrame, w: WindowFn):
        """One $window entry → Column. Scale notes: an empty $partition is a
        single-partition window (legal, but the whole frame funnels through
        one task — the docstring warns, the 100 TB user partitions);
        ranking/offset windows with a partition shuffle once on the
        partition keys and Spark's WindowGroupLimit kicks in when $qualify
        bounds a rank (see tests/test_plans.py)."""
        from pyspark.sql.window import Window

        for c in w.partition + [c for c, _ in w.order]:
            if c not in df.columns:
                raise SpecError(
                    f"$window {w.alias!r}: no such column {c!r}"
                    f" (have {sorted(df.columns)})"
                )
        win = Window.partitionBy(*[_qcol(c) for c in w.partition])
        if w.order:
            win = win.orderBy(
                *[
                    _sort_col(c, d)
                    for c, d in w.order
                ]
            )
        if w.frame is not None:
            mode, lo, hi = w.frame
            lo = Window.unboundedPreceding if lo == "unbounded" else (
                Window.currentRow if lo == "current" else lo)
            hi = Window.unboundedFollowing if hi == "unbounded" else (
                Window.currentRow if hi == "current" else hi)
            win = win.rowsBetween(lo, hi) if mode == "rows" else win.rangeBetween(lo, hi)
        op = w.op
        if op == "$row_number":
            col = F.row_number().over(win)
        elif op == "$rank":
            col = F.rank().over(win)
        elif op == "$dense_rank":
            col = F.dense_rank().over(win)
        elif op == "$percent_rank":
            col = F.percent_rank().over(win)
        elif op == "$cume_dist":
            col = F.cume_dist().over(win)
        elif op == "$ntile":
            col = F.ntile(w.n).over(win)
        elif op in ("$lag", "$lead"):
            src = self._compile_expr(df, w.of)
            fn = F.lag if op == "$lag" else F.lead
            col = fn(src, w.offset, w.default).over(win)
        elif op in ("$first", "$last", "$nth"):
            # M32 (round 16): navigation functions over a PINNED
            # full-partition frame — the default ORDER BY frame stops
            # at CURRENT ROW, which makes last_value/nth_value silently
            # wrong (the win_first_last_nth discipline, windows.py:485;
            # a user $frame is parse-refused for nav ops)
            src = self._compile_expr(df, w.of)
            nav = win.rowsBetween(Window.unboundedPreceding,
                                  Window.unboundedFollowing)
            if op == "$first":
                col = F.first(src, ignorenulls=w.ignore_nulls).over(nav)
            elif op == "$last":
                col = F.last(src, ignorenulls=w.ignore_nulls).over(nav)
            else:
                col = F.nth_value(
                    src, w.n, ignoreNulls=w.ignore_nulls
                ).over(nav)
        elif op == "$count":
            src = self._compile_expr(df, w.of) if w.of is not None else F.lit(1)
            col = F.count(src).over(win)
        else:  # $sum/$avg/$min/$max
            src = self._compile_expr(df, w.of)
            agg = {"$sum": F.sum, "$avg": F.avg, "$min": F.min, "$max": F.max}[op]
            col = agg(src).over(win)
            # decimal inputs follow the §7.3 discipline: exact decimal
            # arithmetic inside the window, double at the boundary (a raw
            # decimal emission would trip the driver's HUGEINT guard on
            # the oracle side and surprise API users with Decimal cells)
            dt = df.select(src.alias("_w")).schema[0].dataType.simpleString()
            if dt.startswith("decimal"):
                col = col.cast("double")
        return col

    def _traverse_frame(
        self, entity: str, tr: TraverseSpec, refs: frozenset
    ) -> DataFrame:
        """$traverse (round 14, M19): BFS reachability, or with $weight
        the cheapest path cost, to max-depth or fixpoint. Both run on
        ``graph.relax_min``, the one min-relaxation loop the §2-I graph
        keys carry: per superstep ONE equi-join of the vertices whose
        cost changed last superstep against the edge set (shuffled on
        vertex id; at 100 TB edges are pre-partitioned by src and the
        small active set broadcasts under AQE), one min aggregation per
        vertex and one ``localCheckpoint()`` to cut lineage, driven like
        every checkpointed loop by ``_util.fixpoint`` (O(1) retained
        pinned state). Unweighted edges weigh 1; integer weights stay in
        exact BIGINT and fractional weights run in double. Returns the
        root entity's rows restricted to the reached set, plus the
        min-hop depth (or min cost) column ``tr.alias`` (0 on seeds)."""
        from naqed_spark.queries._util import scoped_persist
        from naqed_spark.queries.graph import relax_min

        pk = PRIMARY_KEYS.get(entity)
        if pk is None:
            raise SpecError(
                f"$traverse: entity {entity!r} has no single-column"
                f" primary key (traversal roots:"
                f" {sorted(PRIMARY_KEYS)})"
            )
        ent = self.catalog.entity(entity)
        if tr.alias in ent.columns:
            raise SpecError(
                f"$traverse.$as {tr.alias!r} collides with a column of"
                f" {entity!r}"
            )
        seeds_df = ent
        for pred in tr.seeds:
            _typecheck(seeds_df, pred, entity)
            seeds_df = _apply_predicate(seeds_df, pred)
        seeds = seeds_df.select(F.col(pk).alias("v")).distinct()

        if tr.via is not None:
            # relationship-chain composition: walk the declared FK edges
            # and require the chain to land back on the root entity type
            # — the naqed resolver-chain spelling of a same-type edge.
            # Each step is a plain equi-join (dimension sides broadcast
            # under AQE); columns are step-prefixed so an entity that
            # appears twice in the chain never self-collides.
            cur_ent, prefix = entity, "__t0_"
            step = ent.select(
                F.col(pk).alias("__t_origin"),
                *[F.col(c).alias(prefix + c) for c in ent.columns],
            )
            for i, rname in enumerate(tr.via, 1):
                try:
                    rel = self.catalog.relationship(cur_ent, rname)
                except KeyError:
                    raise SpecError(
                        f"$traverse.$via: entity {cur_ent!r} has no"
                        f" relationship {rname!r}"
                    )
                nxt = self.catalog.entity(rel.dst)
                npre = f"__t{i}_"
                nxt_r = nxt.select(
                    *[F.col(c).alias(npre + c) for c in nxt.columns]
                )
                step = step.join(
                    nxt_r,
                    F.col(prefix + rel.src_key) == F.col(npre + rel.dst_key),
                ).select("__t_origin", *[npre + c for c in nxt.columns])
                cur_ent, prefix = rel.dst, npre
            if cur_ent != entity:
                raise SpecError(
                    f"$traverse.$via chain must return to {entity!r} —"
                    f" it ends at {cur_ent!r}"
                )
            edges = step.select(
                F.col("__t_origin").alias("src"),
                F.col(prefix + pk).alias("dst"),
            ).distinct()
        else:
            sub = self._compile(tr.edges, refs)
            need = [tr.src, tr.dst] + ([tr.weight] if tr.weight else [])
            for c in need:
                if c not in sub.columns:
                    raise SpecError(
                        f"$traverse.$edges result has no column {c!r}"
                        f" (have {sub.columns}) — name the endpoints"
                        f" with $src/$dst"
                        + (" and the weight with $weight" if tr.weight
                           else "")
                    )
            sel = [F.col(tr.src).alias("src"), F.col(tr.dst).alias("dst")]
            cond = F.col(tr.src).isNotNull() & F.col(tr.dst).isNotNull()
            if tr.weight:
                # NULL-weight edges drop like NULL endpoints; distinct
                # keeps parallel edges with DIFFERENT weights (the min
                # relaxation picks the cheapest)
                sel.append(F.col(tr.weight).alias("w"))
                cond = cond & F.col(tr.weight).isNotNull()
            edges = sub.select(*sel).where(cond).distinct()

        edges = scoped_persist(edges)
        cap = tr.max_depth if tr.max_depth is not None else 100
        at_cap = None
        if tr.max_depth is None:
            at_cap = SpecError(
                f"$traverse did not reach fixpoint within {cap}"
                f" supersteps — the graph's diameter exceeds the safety"
                f" cap (or, with $weight, costs keep improving — a"
                f" negative cycle); set $max_depth to bound the search"
                f" explicitly"
            )
        w, zero = "1", "0"
        if tr.weight is not None:
            # per-path accumulation is left-to-right in both engines —
            # deterministic per path; min across paths is order-free
            wt = dict(
                (f.name, f.dataType.simpleString()) for f in edges.schema
            )["w"]
            cost_t = ("bigint" if wt in ("tinyint", "smallint", "int",
                                         "bigint") else "double")
            w, zero = f"CAST(w AS {cost_t})", f"CAST(0 AS {cost_t})"
        visited = relax_min(
            self.spark,
            seeds.selectExpr("v", f"{zero} AS d"),
            edges.selectExpr("src", "dst", f"{w} AS w"),
            "$traverse",
            cap,
            at_cap,
        )
        reached = visited.selectExpr("v AS __t_v", "d AS __t_d")
        return (
            ent.join(reached, ent[pk] == reached["__t_v"])
            .drop("__t_v")
            .withColumnRenamed("__t_d", tr.alias)
        )

    def _compile(self, qs: QuerySpec, refs: frozenset) -> DataFrame:
        base_frame = None
        if qs.from_inner is not None:
            # M35 (round 16b): the root frame is the compiled INNER
            # query result — same `base` seam $traverse uses, so
            # $filter/fields/every downstream verb compose unchanged.
            # Catalyst sees one fused plan: outer filters and column
            # pruning push INTO the inner query's scan exactly as if
            # the user had written a single query (no materialization
            # barrier), which is what keeps the chained spelling
            # 100 TB-safe.
            inner = qs.from_inner
            if isinstance(inner, JoinFramesSpec):
                base_frame = self._compile_join_frames(inner, refs)
            elif isinstance(inner, SetSpec):
                base_frame = self._compile_set(inner, refs)
            else:
                base_frame = self._compile(inner, refs)
            missing = [
                f for f in qs.root.fields if f not in base_frame.columns
            ]
            if missing:
                raise SpecError(
                    f"$from: no such column(s) {missing} in the inner"
                    f" result (have {sorted(base_frame.columns)})"
                )
        if qs.traverse is not None:
            base_frame = self._traverse_frame(
                qs.root.entity, qs.traverse, refs
            )
        df, cols = self._compile_node(
            qs.root, refs, qs.sample, base=base_frame
        )
        # $select computed columns land before aggregation, so $groupby/
        # $agg/$orderby can reference them like any field; without an agg
        # they join the projection after the requested fields.
        for alias, ex in qs.select:
            df = df.withColumn(alias, self._compile_expr(df, ex))
            cols.append(alias)
        if qs.explode is not None:
            # $explode (round 13, M13): one output row per array
            # element — a codegen Generate, zero shuffle, evaluated
            # streaming per input partition (never materializing the
            # fan-out). Lands after $select so a $split result (or any
            # computed array) is explodable, and before $agg so
            # exploded rows feed aggregation — the token-count
            # pipeline shape. The element column replaces the array
            # column IN PLACE in the projection ($pos ordinal, when
            # requested, lands immediately before it).
            e = qs.explode
            if e.col not in dict.fromkeys(cols):
                raise SpecError(
                    f"$explode: {e.col!r} must be a requested or"
                    f" $select-computed column (have {sorted(set(cols))})"
                )
            from pyspark.sql.types import ArrayType

            dt = df.schema[e.col].dataType
            if not isinstance(dt, ArrayType):
                raise SpecError(
                    f"$explode: column {e.col!r} is"
                    f" {dt.simpleString()}, not an array"
                )
            others = [c for c in dict.fromkeys(cols) if c != e.col]
            for alias in ([e.pos] if e.pos else []) + (
                [e.alias] if e.alias != e.col else []
            ):
                if alias in others:
                    raise SpecError(
                        f"$explode: output column {alias!r} collides"
                        f" with an existing column"
                    )
            if e.pos and e.outer:
                gen = F.posexplode_outer(_qcol(e.col))
            elif e.pos:
                gen = F.posexplode(_qcol(e.col))
            elif e.outer:
                gen = F.explode_outer(_qcol(e.col))
            else:
                gen = F.explode(_qcol(e.col))
            gen = gen.alias(*([e.pos, e.alias] if e.pos else [e.alias]))
            exprs, new_cols = [], []
            for c in dict.fromkeys(cols):
                if c == e.col:
                    exprs.append(gen)
                    new_cols.extend([e.pos, e.alias] if e.pos else [e.alias])
                else:
                    exprs.append(_qcol(c))
                    new_cols.append(c)
            df = df.select(*exprs)
            cols = new_cols
        for pred in qs.where:
            # $where (round 13, M14): row filter over the CURRENT frame
            # — after $select/$explode, so computed and exploded columns
            # are in scope (plus not-yet-projected scan columns when no
            # $explode ran). Predicates over scan-only columns are
            # pushed to the parquet scan by Catalyst exactly like
            # $filter; predicates over Generate output stay streaming
            # (filter-inside-codegen after the explode, no shuffle).
            # ADVICE r13: $where runs BEFORE $unpivot (it is the post-
            # $select/post-$explode filter, documented in the spec.py
            # DSL header), so a predicate naming the $unpivot output
            # columns can never bind here. Surface that as a targeted
            # error instead of the generic scope message.
            if qs.unpivot is not None and pred.op != "$or" and (
                    pred.column in (qs.unpivot.name, qs.unpivot.value)
                    and pred.column not in df.columns):
                raise SpecError(
                    f"$where: {pred.column!r} is a $unpivot output —"
                    f" $where filters the pre-$unpivot frame; to filter"
                    f" the long form, chain a second query over this"
                    f" result"
                )
            _check_pred_columns(pred, df, "$where")
            df = _apply_predicate(df, pred)
        if qs.unpivot is not None:
            # $unpivot (round 10): stack() the listed wide columns into
            # (name, value) long form — a zero-shuffle codegen Generate;
            # kept columns = every other requested/computed column.
            # Measures cast to DOUBLE so the value column has one type
            # (the agg_unpivot discipline). Column names were
            # identifier-checked at parse time, so the inline expr text
            # cannot be injected through.
            u = qs.unpivot
            for c in u.cols:
                if c not in df.columns:
                    raise SpecError(
                        f"$unpivot.$cols: no such column {c!r}"
                        f" (have {sorted(df.columns)})"
                    )
            keep = [c for c in dict.fromkeys(cols) if c not in set(u.cols)]
            stack_args = ", ".join(
                f"'{c}', cast(`{c}` as double)" for c in u.cols
            )
            df = df.select(
                *[_qcol(c) for c in keep],
                F.expr(
                    f"stack({len(u.cols)}, {stack_args})"
                    f" AS (`{u.name}`, `{u.value}`)"
                ),
            )
            cols = keep + [u.name, u.value]
        if qs.pivot is not None:
            # $pivot (round 10; recompiled round 11): wide conditional
            # aggregation over the EXPLICIT value list. Spelled as ONE
            # groupBy with a conditional aggregate per value — the exact
            # FILTER-clause twin of the oracle — rather than Spark's
            # relational .pivot(col, values), which plans as TWO
            # aggregate phases with TWO exchanges ((keys, on) partial →
            # re-shuffle by keys → PivotFirst). The conditional spelling
            # shuffles once, carrying |values| pre-combined cells per
            # key, and the value columns are ALIASED at the aggregate
            # (str(value) — uniqueness enforced at parse time), so no
            # post-hoc name resolution exists to mis-parse dotted values
            # as nested paths (ADVICE r10). $count cells are 0 over
            # empty (count never yields NULL); other aggs keep SQL
            # NULL-over-empty semantics.
            p = qs.pivot
            for c in [p.on] + ([p.column] if p.column else []):
                if c not in df.columns:
                    raise SpecError(
                        f"$pivot: no such column {c!r}"
                        f" (have {sorted(df.columns)})"
                    )
            exprs = [self._pivot_value_expr(df, p, v) for v in p.values]
            df = df.groupBy(*[_qcol(c) for c in qs.groupby]).agg(*exprs)
            # the pivot defines the projection: row keys + value columns
            cols = []
        if qs.aggs:
            # the sketch split (below) builds its own per-branch agg
            # expressions, so the single-agg list is only constructed on
            # the paths that use it
            if qs.grouping is not None:
                exprs = [self._agg_expr(a) for a in qs.aggs]
                # $rollup / $cube / $grouping_sets (round 12, VERDICT
                # r11 item 3): the subtotal-grid spellings, compiling
                # to Spark's native rollup/cube/groupingSets — ONE
                # Expand over the input (|sets| copies of each row,
                # map-side partial-agg'd) feeding a single hash
                # exchange keyed on (groupcols, grouping_id), exactly
                # the plan the registered agg_rollup/agg_cube/
                # agg_grouping_sets keys carry. Subtotal rows emit
                # NULL in the rolled-up key columns; the $grouping agg
                # op (→ grouping()) disambiguates them from NULL data
                # values the way agg_grouping_sets does.
                keys = [_qcol(c) for c in qs.groupby]
                if qs.grouping == "rollup":
                    grouped = df.rollup(*keys)
                elif qs.grouping == "cube":
                    grouped = df.cube(*keys)
                else:  # explicit grouping sets (list of column lists)
                    grouped = df.groupingSets(
                        [[_qcol(c) for c in s] for s in qs.grouping],
                        *keys,
                    )
                df = grouped.agg(*exprs)
            elif qs.groupby:
                split = self._split_sketch_agg(df, qs)
                df = (
                    split
                    if split is not None
                    else df.groupBy(
                        *[_qcol(c) for c in qs.groupby]
                    ).agg(*[self._agg_expr(a) for a in qs.aggs])
                )
            else:
                split = self._split_sketch_agg(df, qs)
                df = (
                    split
                    if split is not None
                    else df.agg(*[self._agg_expr(a) for a in qs.aggs])
                )
            for pred in qs.having:
                # $having predicates see the post-agg frame: agg aliases and
                # group columns only (mirrors SQL HAVING scope)
                _check_pred_columns(pred, df, "$having")
                df = _apply_predicate(df, pred)
        # $derive lands after $agg/$having: post-aggregation computed
        # columns that see agg aliases (withColumn semantics — a
        # same-named derive replaces the column, e.g. casting an exact
        # decimal sum to double at the emission boundary, §7.3).
        for alias, ex in qs.derive:
            df = df.withColumn(alias, self._compile_expr(df, ex))
            if alias not in cols:
                cols.append(alias)
        # $window lands AFTER $agg (SQL ordering: windows see aggregated
        # rows when both are present), so a window can rank agg results.
        for w in qs.windows:
            df = df.withColumn(w.alias, self._compile_window(df, w))
            cols.append(w.alias)
        for pred in qs.qualify:
            # $qualify sees the post-window frame (SQL QUALIFY scope)
            _check_pred_columns(pred, df, "$qualify")
            df = _apply_predicate(df, pred)
        # $pivot, like $agg, defines its own projection (row keys +
        # value columns [+ derives via withColumn above]) — the trailing
        # cols-based select must not run or a $derive alias repopulating
        # ``cols`` would project ONLY the derived columns, silently
        # dropping the keys and pivoted values (ADVICE r10, medium).
        hidden_sortable: set[str] = set()
        if not qs.aggs and qs.pivot is None and cols:
            # Spark's ResolveMissingReferences lets ORDER BY reach
            # through this projection to unrequested input columns
            # (sorted, then dropped) — keep them orderable.
            hidden_sortable = set(df.columns) if not qs.distinct else set()
            df = df.select(*[_qcol(c) for c in dict.fromkeys(cols)])
        if qs.distinct:
            df = df.distinct()
        if qs.orderby:
            # $orderby binds against the FINAL frame (post-agg/pivot/
            # window; plus the hidden pre-projection columns above), so
            # a dotted $pivot value column is orderable — existence-
            # checked here and resolved verbatim via _qcol (ADVICE r11
            # medium: bare F.col parsed "v.click" as nested-field
            # access and crashed)
            for c, _ in qs.orderby:
                if c not in df.columns and c not in hidden_sortable:
                    raise SpecError(
                        f"$orderby: no such column {c!r}"
                        f" (have {sorted(df.columns)})"
                    )
            df = df.orderBy(
                *[
                    _sort_col(c, d)
                    for c, d in qs.orderby
                ]
            )
        if qs.offset is not None:
            # pagination: offset applies before limit (rows n..n+m of the
            # $orderby order — the parser guarantees an order exists)
            df = df.offset(qs.offset)
        if qs.limit is not None:
            df = df.limit(qs.limit)
        return df

    @staticmethod
    def _pivot_value_expr(df: DataFrame, p: PivotSpec, v):
        """One conditional aggregate column for pivot value ``v`` —
        ``agg(CASE WHEN on = v THEN measure END) AS str(v)``, the
        FILTER-clause twin. count() is 0 over an empty cell; the other
        ops yield SQL NULL."""
        cond = F.col(p.on) == F.lit(v)
        if p.op == "$count":
            return F.count(F.when(cond, F.lit(1))).alias(str(v))
        fn = {"$sum": F.sum, "$avg": F.avg, "$min": F.min, "$max": F.max}[
            p.op
        ]
        e = fn(F.when(cond, F.col(p.column)))
        # §7.3 discipline: an exact-decimal measure (cast in $select)
        # aggregates in decimal but must emit double — a raw decimal
        # would surprise API users and trip the driver's HUGEINT guard
        dt = df.schema[p.column].dataType.simpleString()
        if p.op in ("$sum", "$avg") and dt.startswith("decimal"):
            e = e.cast("double")
        return e.alias(str(v))

    # Aggregate classes for the r16 mixed-aggregate split (guide §2.3):
    # exact distinct-class ops compile through Spark's Expand rewrite
    # (every input row duplicated per distinct group), which makes any
    # SKETCH aggregate in the same .agg() consume the doubled stream —
    # measured 1.9 s vs 1.2 s at sf0.1 for count_distinct + HLL(rsd .01)
    # over events, and at 100 TB the Expand doubles the bytes entering
    # the exchange while the split ships rows once plus constant-size
    # sketch partials.
    _DISTINCT_AGG_OPS = frozenset(
        {"$count_distinct", "$sum_distinct", "$avg_distinct"}
    )
    _SKETCH_AGG_OPS = frozenset(
        {"$approx_count_distinct", "$approx_percentile"}
    )

    def _split_sketch_agg(self, df, qs):
        """Compile a plain $groupby/$agg that mixes distinct-class and
        sketch aggregates as TWO grouped aggregates joined back on the
        group keys (null-safe — a NULL group is a group, and an
        equi-join would drop it), emitting the identical columns in the
        identical order as the single-agg spelling. Returns None when
        the rewrite does not apply (no mix, or a subtotal grid —
        rollup/cube/grouping-sets already Expand by design)."""
        if qs.grouping is not None:
            return None
        ops = {a.op for a in qs.aggs}
        if not (ops & self._SKETCH_AGG_OPS and ops & self._DISTINCT_AGG_OPS):
            return None
        # the rewrite renames right-side keys with a __sk_ prefix before
        # the join; a spec whose own names collide would be silently
        # mangled — fall back to the single-agg spelling instead (the
        # ADVICE r15 fixed-temp-name lesson)
        names = set(qs.groupby) | {a.alias for a in qs.aggs}
        if any(n.startswith("__sk_") for n in names):
            return None
        sk = [a for a in qs.aggs if a.op in self._SKETCH_AGG_OPS]
        rest = [a for a in qs.aggs if a.op not in self._SKETCH_AGG_OPS]
        keys = [_qcol(c) for c in qs.groupby]
        if qs.groupby:
            left = df.groupBy(*keys).agg(*[self._agg_expr(a) for a in rest])
            # every key reference goes through _qcol (a dotted group-key
            # name must resolve verbatim, not as nested-field access);
            # the renamed right-side keys are unique post-rename, so the
            # join condition resolves unambiguously without frame refs
            right = (
                df.groupBy(*keys)
                .agg(*[self._agg_expr(a) for a in sk])
                .select(
                    *[
                        _qcol(c).alias("__sk_" + c)
                        for c in qs.groupby
                    ],
                    *[_qcol(a.alias) for a in sk],
                )
            )
            cond = None
            for c in qs.groupby:
                t = _qcol(c).eqNullSafe(_qcol("__sk_" + c))
                cond = t if cond is None else cond & t
            joined = left.join(right, cond).drop(
                *["__sk_" + c for c in qs.groupby]
            )
        else:
            left = df.agg(*[self._agg_expr(a) for a in rest])
            right = df.agg(*[self._agg_expr(a) for a in sk])
            joined = left.crossJoin(F.broadcast(right))
        # restore the single-agg column order: group keys, then agg
        # aliases in spec order
        return joined.select(
            *keys, *[_qcol(a.alias) for a in qs.aggs]
        )

    @staticmethod
    def _agg_expr(a: AggSpec):
        # every column reference resolves via _qcol (round-12 self-
        # review): a $select alias may be any string, so e.g. summing a
        # dotted computed column must resolve verbatim like every other
        # cols-by-name path, not parse as nested-field access
        if a.op == "$count":
            e = F.count(F.lit(1)) if a.column is None else F.count(
                _qcol(a.column)
            )
        elif a.op == "$count_distinct":
            e = F.countDistinct(_qcol(a.column))
        elif a.op == "$sum":
            e = F.sum(_qcol(a.column))
        elif a.op == "$avg":
            e = F.avg(_qcol(a.column))
        elif a.op == "$min":
            e = F.min(_qcol(a.column))
        elif a.op == "$max":
            e = F.max(_qcol(a.column))
        elif a.op == "$min_by":
            e = F.min_by(_qcol(a.column), _qcol(a.order_col))
        elif a.op == "$max_by":
            e = F.max_by(_qcol(a.column), _qcol(a.order_col))
        elif a.op == "$bool_and":
            # M38: NULL-skipping conjunction/disjunction over a boolean
            # column — NULL on empty/all-NULL (probed ≡ DuckDB)
            e = F.bool_and(_qcol(a.column))
        elif a.op == "$bool_or":
            e = F.bool_or(_qcol(a.column))
        elif a.op == "$count_if":
            # TRUE rows only (NULL and FALSE both uncounted — probed ≡
            # DuckDB count(*) FILTER (WHERE p))
            e = F.count_if(_qcol(a.column))
        elif a.op == "$sum_distinct":
            e = F.sum_distinct(_qcol(a.column))
        elif a.op == "$avg_distinct":
            # ONE exact division of the distinct-set aggregates (no
            # native distinct-avg Column builder; an F.expr spelling
            # would thread spec data through SQL text) — bit-identical
            # to DuckDB's avg(DISTINCT x) whenever sum_distinct is
            # (integers/decimals; doubles want the round(6) hedge)
            e = F.sum_distinct(_qcol(a.column)) / F.count_distinct(
                _qcol(a.column)
            )
        elif a.op == "$stddev":
            e = F.stddev_samp(_qcol(a.column))
        elif a.op == "$stddev_pop":
            e = F.stddev_pop(_qcol(a.column))
        elif a.op == "$var":
            e = F.var_samp(_qcol(a.column))
        elif a.op == "$var_pop":
            e = F.var_pop(_qcol(a.column))
        elif a.op == "$median":
            # interpolated (quantile_cont semantics — DuckDB median twin)
            e = F.median(_qcol(a.column))
        elif a.op == "$percentile":
            e = F.percentile(_qcol(a.column), F.lit(a.param))
        elif a.op == "$approx_count_distinct":
            # M24 (round 15): native HLL++ — constant register state
            # per group regardless of input size, map-side combined,
            # shard merge = register max (the 100 TB count-distinct
            # path; agg_hll_from_scratch spells the same algorithm
            # relationally). rsd knob optional.
            e = (F.approx_count_distinct(_qcol(a.column), a.param)
                 if a.param is not None
                 else F.approx_count_distinct(_qcol(a.column)))
        elif a.op == "$approx_percentile":
            # M24: native quantile sketch — bounded state (O(accuracy)
            # per group), merge-able partials, rank error ≤ n/accuracy.
            # accuracy ≥ n is the exact discrete-quantile regime,
            # probed ≡ DuckDB quantile_disc on ties/NULL/all-NULL.
            # M28: a fraction LIST builds the sketch once and reads
            # every quantile from it — array emission in fraction order.
            p, acc = a.param
            pcol = (F.array(*[F.lit(v) for v in p])
                    if isinstance(p, tuple) else F.lit(p))
            e = F.percentile_approx(_qcol(a.column), pcol, F.lit(acc))
        elif a.op == "$corr":
            # Pearson correlation / covariance (round 13, M15): pair
            # exclusion (either side NULL → row skipped) matches DuckDB;
            # merge-able (n, Σx, Σy, Σxy, Σx², Σy²) accumulators keep
            # the plan a single partial+final hash-agg pair.
            e = F.corr(_qcol(a.column), _qcol(a.order_col))
        elif a.op == "$covar":
            e = F.covar_samp(_qcol(a.column), _qcol(a.order_col))
        elif a.op == "$covar_pop":
            e = F.covar_pop(_qcol(a.column), _qcol(a.order_col))
        elif a.op == "$collect_list":
            # SORTED emission (§7.3): collection order after a shuffle
            # is nondeterministic, so the sorted array is the only
            # hashable contract. NULLs are skipped (Spark collect_*
            # semantics; DuckDB twins add FILTER (WHERE x IS NOT NULL)
            # because DuckDB's list() keeps NULLs).
            e = F.sort_array(F.collect_list(_qcol(a.column)))
        elif a.op == "$collect_set":
            e = F.sort_array(F.collect_set(_qcol(a.column)))
        elif a.op == "$grouping":
            # 1 when the column is rolled up in this output row, 0 when
            # grouped — the subtotal/NULL-data disambiguator (SQL
            # GROUPING()). INT emission matches the agg_grouping_sets
            # discipline (Spark's grouping() is a byte; DuckDB's a
            # bigint — both engines agree after the cast). The parser
            # guarantees a $rollup/$cube/$grouping_sets context and
            # that the column is a $groupby key.
            e = F.grouping(_qcol(a.column)).cast("int")
        else:  # pragma: no cover
            raise SpecError(f"unknown agg {a.op!r}")
        return e.alias(a.alias)
