"""§2-E: window functions — all 9 contract keys (SURVEY.md:222-234).

Determinism (§7.3): every window order is total over the emitted columns
(unique keys as tiebreaks; remaining ties only between fully-identical
rows, where assignment is interchangeable). Running/moving sums stay in
exact DECIMAL through the frame and cast to double at the end — windowed
double summation is NOT order-stable across engines (DuckDB uses a segment
tree, Spark accumulates sequentially).

Scale notes:
  - Partitioned windows (per-customer, per-user) shuffle once on the
    partition key and sort within partitions — the canonical Spark window
    plan; skewed partition keys are the thing to watch at 100 TB.
  - The unpartitioned windows here run over an already-aggregated daily
    table (~thousands of rows at any SF) — the single-partition WindowExec
    warning is expected and harmless at that cardinality. Never put an
    unpartitioned window over a fact table; aggregate first.
  - Sessionization is lag → flag → running count within (user) partitions:
    one shuffle on user_id, linear within partition. This is the batch twin
    of stream_session_window.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window, functions as F

from naqed_spark.queries._util import date_str, epoch_us, exact_sum, lanes, load
from naqed_spark.registry import query


@query(
    "win_row_number_topk",
    # BASELINE.md headline: top-3 orders per customer (249 ms @ sf0.1 DuckDB)
    oracle="""
    SELECT o_custkey, o_orderkey, o_totalprice, rn FROM (
      SELECT o_custkey, o_orderkey, o_totalprice,
             row_number() OVER (PARTITION BY o_custkey
                                ORDER BY o_totalprice DESC, o_orderkey ASC)
               AS rn
      FROM orders
    ) WHERE rn <= 3
    """,
)
def win_row_number_topk(spark, sf_dir):
    o = load(spark, sf_dir, "orders")
    w = Window.partitionBy("o_custkey").orderBy(
        F.col("o_totalprice").desc(), F.col("o_orderkey").asc()
    )
    return (
        o.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= 3)
        .select("o_custkey", "o_orderkey", "o_totalprice", "rn")
    )


@query(
    "win_rank_dense",
    # rank/dense_rank are tie-stable: tied rows get the same rank no matter
    # the physical order, so no tiebreak is needed on the rank itself.
    oracle="""
    SELECT l_returnflag, l_orderkey, l_linenumber, l_quantity,
           rank() OVER (PARTITION BY l_returnflag ORDER BY l_quantity DESC)
             AS rnk,
           dense_rank() OVER (PARTITION BY l_returnflag
                              ORDER BY l_quantity DESC) AS drnk
    FROM lineitem WHERE l_quantity >= 48
    """,
)
def win_rank_dense(spark, sf_dir):
    """rank/dense_rank ordered by a VALUE alone are value statistics,
    not positions (round 9): rank = 1 + count of strictly-greater rows,
    dense_rank = 1 + count of distinct greater values. Computed on the
    distinct (flag, quantity) grid with the two-phase suffix pattern
    (bucket offsets + per-bucket local prefix — the grid itself is never
    one task) and broadcast-joined back — the fact rows never shuffle
    and no window touches data-sized input."""
    from naqed_spark.queries.aggs import _grouped_range_bucketed

    li = load(spark, sf_dir, "lineitem").filter(F.col("l_quantity") >= 48)
    vals = li.groupBy("l_returnflag", "l_quantity").agg(
        F.count(F.lit(1)).alias("cnt")
    )
    b = _grouped_range_bucketed(vals, "l_returnflag", "l_quantity")
    wb = Window.partitionBy("l_returnflag").orderBy(
        F.col("bkt").desc()
    ).rowsBetween(Window.unboundedPreceding, -1)
    offs = (
        b.groupBy("l_returnflag", "bkt")
        .agg(F.sum("cnt").alias("tc"), F.count(F.lit(1)).alias("td"))
        .select(
            "l_returnflag", "bkt",
            F.coalesce(F.sum("tc").over(wb), F.lit(0)).alias("off_c"),
            F.coalesce(F.sum("td").over(wb), F.lit(0)).alias("off_d"),
        )
    )
    wl = Window.partitionBy("l_returnflag", "bkt").orderBy(
        F.col("l_quantity").desc()
    )
    from naqed_spark.queries.aggs import _ns_bjoin

    ranked_vals = (
        _ns_bjoin(b, offs, ["l_returnflag", "bkt"])
        .withColumn(
            "lv",
            F.coalesce(
                F.sum("cnt").over(wl.rowsBetween(Window.unboundedPreceding, -1)),
                F.lit(0),
            ),
        )
        .select(
            "l_returnflag", "l_quantity",
            (1 + F.col("off_c") + F.col("lv")).cast("int").alias("rnk"),
            (F.col("off_d") + F.row_number().over(wl)).cast("int")
            .alias("drnk"),
        )
    )
    # null-safe: a NULL flag is a PARTITION BY group, its rows keep ranks
    return _ns_bjoin(li, ranked_vals, ["l_returnflag", "l_quantity"]).select(
        "l_returnflag", "l_orderkey", "l_linenumber", "l_quantity",
        "rnk", "drnk",
    )


@query(
    "win_ntile",
    # ntile depends on the full order → order covers every emitted column.
    oracle="""
    SELECT l_returnflag, l_orderkey, l_linenumber, l_quantity,
           ntile(4) OVER (PARTITION BY l_returnflag
                          ORDER BY l_quantity ASC, l_orderkey ASC,
                                   l_linenumber ASC) AS quartile
    FROM lineitem WHERE l_quantity >= 48
    """,
)
def win_ntile(spark, sf_dir):
    """ntile is a closed-form function of (row position, partition size)
    (round 9): with q = n div k, r = n mod k, the first r tiles hold
    q+1 rows — tile(rn) is pure integer arithmetic once rn is known.
    rn comes from the TWO-LEVEL two-phase row_number: level 1 offsets
    over the distinct (flag, quantity) grid (bucketed suffix/prefix —
    the grid never sits in one task), level 2 offsets over orderkey
    range-buckets WITHIN each (flag, quantity), local row_number only
    inside one (flag, quantity, bucket) cell. Identical integers ⇒
    identical tiles; the fact rows shuffle once on the composite cell
    key instead of funnelling per flag."""
    from naqed_spark.queries.aggs import _grouped_range_bucketed

    li = load(spark, sf_dir, "lineitem").filter(F.col("l_quantity") >= 48)
    # level 1: rows in LOWER quantities, per flag (two-phase over the
    # distinct-quantity grid)
    vals = li.groupBy("l_returnflag", "l_quantity").agg(
        F.count(F.lit(1)).alias("cnt")
    )
    vb = _grouped_range_bucketed(vals, "l_returnflag", "l_quantity")
    wvb = Window.partitionBy("l_returnflag").orderBy("bkt").rowsBetween(
        Window.unboundedPreceding, -1
    )
    voffs = (
        vb.groupBy("l_returnflag", "bkt")
        .agg(F.sum("cnt").alias("tc"))
        .select(
            "l_returnflag", "bkt",
            F.coalesce(F.sum("tc").over(wvb), F.lit(0)).alias("voff"),
        )
    )
    wvl = Window.partitionBy("l_returnflag", "bkt").orderBy("l_quantity")
    from naqed_spark.queries.aggs import _ns_bjoin

    off1 = (
        _ns_bjoin(vb, voffs, ["l_returnflag", "bkt"])
        .withColumn(
            "off1",
            F.col("voff")
            + F.coalesce(
                F.sum("cnt").over(
                    wvl.rowsBetween(Window.unboundedPreceding, -1)
                ),
                F.lit(0),
            ),
        )
        .select("l_returnflag", "l_quantity", "off1")
    )
    n_per = vals.groupBy("l_returnflag").agg(F.sum("cnt").alias("n"))
    # level 2: orderkey range-buckets within each (flag, quantity)
    b = _grouped_range_bucketed(
        li, ["l_returnflag", "l_quantity"], "l_orderkey"
    )
    wb2 = Window.partitionBy("l_returnflag", "l_quantity").orderBy(
        "bkt"
    ).rowsBetween(Window.unboundedPreceding, -1)
    offs2 = (
        b.groupBy("l_returnflag", "l_quantity", "bkt")
        .agg(F.count(F.lit(1)).alias("bc"))
        .select(
            "l_returnflag", "l_quantity", "bkt",
            F.coalesce(F.sum("bc").over(wb2), F.lit(0)).alias("off2"),
        )
    )
    wl = Window.partitionBy("l_returnflag", "l_quantity", "bkt").orderBy(
        "l_orderkey", "l_linenumber"
    )
    rn = (
        F.col("off1") + F.col("off2") + F.row_number().over(wl)
    ).cast("bigint")
    # ntile(4) closed form: first r tiles have q+1 rows
    k = 4
    q = F.floor(F.col("n") / k).cast("bigint")
    r = (F.col("n") % k).cast("bigint")
    head = (F.lit(1) + F.floor((rn - 1) / (q + 1))).cast("int")
    tail = (
        r + 1 + F.floor((rn - r * (q + 1) - 1) / F.greatest(q, F.lit(1)))
    ).cast("int")
    return (
        _ns_bjoin(
            _ns_bjoin(
                _ns_bjoin(b, off1, ["l_returnflag", "l_quantity"]),
                offs2,
                ["l_returnflag", "l_quantity", "bkt"],
            ),
            n_per,
            ["l_returnflag"],
        )
        .select(
            "l_returnflag", "l_orderkey", "l_linenumber", "l_quantity",
            F.when(rn <= r * (q + 1), head).otherwise(tail)
            .alias("quartile"),
        )
    )


@query(
    "win_lag_lead",
    oracle="""
    SELECT event_id, user_id, value,
           lag(value)  OVER (PARTITION BY user_id
                             ORDER BY epoch_us(ts), event_id) AS prev_value,
           lead(value) OVER (PARTITION BY user_id
                             ORDER BY epoch_us(ts), event_id) AS next_value
    FROM events
    """,
)
def win_lag_lead(spark, sf_dir):
    ev = load(spark, sf_dir, "events").withColumn("ts_us", epoch_us("ts"))
    w = Window.partitionBy("user_id").orderBy("ts_us", "event_id")
    return ev.select(
        "event_id",
        "user_id",
        "value",
        F.lag("value").over(w).alias("prev_value"),
        F.lead("value").over(w).alias("next_value"),
    )


def _daily_revenue(spark, sf_dir) -> DataFrame:
    """Per-day order revenue in exact decimal (shared by three windows)."""
    o, (price,) = lanes(load(spark, sf_dir, "orders"), "o_totalprice")
    return o.groupBy(date_str("o_orderdate").alias("order_date")).agg(
        exact_sum(price).alias("daily_dec")
    )


_DAILY_SQL = """
    SELECT CAST(CAST(o_orderdate AS DATE) AS VARCHAR) AS order_date,
           sum(CAST(o_totalprice AS DECIMAL(12,2))) AS daily_dec
    FROM orders GROUP BY 1
"""


@query(
    "win_running_sum",
    oracle=f"""
    WITH daily AS ({_DAILY_SQL})
    SELECT order_date,
           CAST(daily_dec AS DOUBLE) AS daily_revenue,
           CAST(sum(daily_dec) OVER (ORDER BY order_date
                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS DOUBLE)
             AS cum_revenue
    FROM daily
    """,
)
def win_running_sum(spark, sf_dir):
    daily = _daily_revenue(spark, sf_dir)
    w = (
        Window.orderBy("order_date")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return daily.select(
        "order_date",
        F.col("daily_dec").cast("double").alias("daily_revenue"),
        F.sum("daily_dec").over(w).cast("double").alias("cum_revenue"),
    )


@query(
    "win_moving_avg",
    oracle=f"""
    WITH daily AS ({_DAILY_SQL})
    SELECT order_date,
           CAST(sum(daily_dec) OVER w AS DOUBLE)
             / count(*) OVER w AS ma7_revenue
    FROM daily
    WINDOW w AS (ORDER BY order_date ROWS BETWEEN 6 PRECEDING AND CURRENT ROW)
    """,
)
def win_moving_avg(spark, sf_dir):
    daily = _daily_revenue(spark, sf_dir)
    w = Window.orderBy("order_date").rowsBetween(-6, Window.currentRow)
    return daily.select(
        "order_date",
        (
            F.sum("daily_dec").over(w).cast("double")
            / F.count(F.lit(1)).over(w)
        ).alias("ma7_revenue"),
    )


@query(
    "win_range_frame",
    # value-based RANGE frame over epoch-seconds: trailing-7-day revenue.
    oracle=f"""
    WITH daily AS (
      SELECT CAST(epoch(CAST(o_orderdate AS TIMESTAMP)) AS BIGINT) AS day_s,
             sum(CAST(o_totalprice AS DECIMAL(12,2))) AS daily_dec
      FROM orders GROUP BY 1
    )
    SELECT day_s,
           CAST(sum(daily_dec) OVER (ORDER BY day_s
                RANGE BETWEEN 518400 PRECEDING AND CURRENT ROW) AS DOUBLE)
             AS trailing_7d
    FROM daily
    """,
)
def win_range_frame(spark, sf_dir):
    o, (price,) = lanes(load(spark, sf_dir, "orders"), "o_totalprice")
    daily = o.groupBy(
        (epoch_us("o_orderdate") / 1000000).cast("bigint").alias("day_s")
    ).agg(exact_sum(price).alias("daily_dec"))
    w = Window.orderBy("day_s").rangeBetween(-6 * 86400, Window.currentRow)
    return daily.select(
        "day_s",
        F.sum("daily_dec").over(w).cast("double").alias("trailing_7d"),
    )


@query(
    "win_percent_cume",
    # percent_rank/cume_dist are rank-derived → tie-stable; the division
    # (rank-1)/(n-1) is one identical double op on both engines. Rank
    # statistics are DEFINED over non-null values only (a null balance
    # has no rank, and the engines disagree on null sort order — Spark
    # nulls-first vs DuckDB nulls-last — so including them is
    # ill-defined); both spellings filter identically.
    oracle="""
    SELECT c_nationkey, c_custkey, c_acctbal,
           percent_rank() OVER (PARTITION BY c_nationkey ORDER BY c_acctbal)
             AS pr,
           cume_dist() OVER (PARTITION BY c_nationkey ORDER BY c_acctbal)
             AS cd
    FROM customer WHERE c_acctbal IS NOT NULL
    """,
)
def win_percent_cume(spark, sf_dir):
    """percent_rank/cume_dist ordered by a VALUE are value statistics
    (round 9): pr = (1 + #less − 1)/(n − 1), cd = #at-or-below / n —
    tie-stable, so they live on the distinct (nation, acctbal) grid.
    Two-phase prefix counts over the grid (bucket offsets + local
    exclusive prefix) + broadcast n per nation + broadcast join-back:
    the customer rows never shuffle and no window touches data-sized
    input. Integer counts ⇒ one identical double division per grid row
    on both engines."""
    from naqed_spark.queries.aggs import _grouped_range_bucketed

    c = load(spark, sf_dir, "customer").filter(
        F.col("c_acctbal").isNotNull()
    )
    vals = c.groupBy("c_nationkey", "c_acctbal").agg(
        F.count(F.lit(1)).alias("cnt")
    )
    b = _grouped_range_bucketed(vals, "c_nationkey", "c_acctbal")
    wb = Window.partitionBy("c_nationkey").orderBy("bkt").rowsBetween(
        Window.unboundedPreceding, -1
    )
    offs = (
        b.groupBy("c_nationkey", "bkt")
        .agg(F.sum("cnt").alias("tc"))
        .select(
            "c_nationkey", "bkt",
            F.coalesce(F.sum("tc").over(wb), F.lit(0)).alias("off_c"),
        )
    )
    n_per = vals.groupBy("c_nationkey").agg(
        F.sum("cnt").alias("n")
    )
    wl = Window.partitionBy("c_nationkey", "bkt").orderBy("c_acctbal")
    grid = (
        b.join(F.broadcast(offs), ["c_nationkey", "bkt"])
        .join(F.broadcast(n_per), "c_nationkey")
        .withColumn(
            "less",
            F.col("off_c")
            + F.coalesce(
                F.sum("cnt").over(wl.rowsBetween(Window.unboundedPreceding, -1)),
                F.lit(0),
            ),
        )
        .select(
            "c_nationkey", "c_acctbal",
            F.when(F.col("n") == 1, F.lit(0.0))
            .otherwise(
                F.col("less").cast("double") / (F.col("n") - 1)
            ).alias("pr"),
            (
                (F.col("less") + F.col("cnt")).cast("double") / F.col("n")
            ).alias("cd"),
        )
    )
    return c.join(
        F.broadcast(grid), ["c_nationkey", "c_acctbal"]
    ).select("c_nationkey", "c_custkey", "c_acctbal", "pr", "cd")


@query(
    "win_sessionize",
    # BASELINE.md headline (2,074 ms @ sf0.1 DuckDB): 30-min-gap sessions.
    # lag → break flag → running sum, all within user partitions; gap rule
    # "new session when gap > 30 min" (the native session_window twin uses
    # >= — both documented, each consistent with its own oracle).
    oracle="""
    WITH seq AS (
      SELECT user_id, event_id, epoch_us(ts) AS ts_us,
             lag(epoch_us(ts)) OVER (PARTITION BY user_id
                                     ORDER BY epoch_us(ts), event_id) AS prev_us
      FROM events
    ), flagged AS (
      SELECT *, CASE WHEN prev_us IS NULL
                       OR ts_us - prev_us > 1800000000 THEN 1 ELSE 0 END
                  AS is_new
      FROM seq
    ), sess AS (
      SELECT user_id, event_id, ts_us,
             CAST(sum(is_new) OVER (PARTITION BY user_id
                                    ORDER BY ts_us, event_id
                                    ROWS BETWEEN UNBOUNDED PRECEDING
                                         AND CURRENT ROW) AS BIGINT)
               AS session_id
      FROM flagged
    )
    SELECT user_id, session_id,
           count(*) AS n_events,
           min(ts_us) AS session_start_us,
           max(ts_us) AS session_end_us
    FROM sess GROUP BY user_id, session_id
    """,
)
def win_sessionize(spark, sf_dir):
    ev = load(spark, sf_dir, "events").select(
        "user_id", "event_id", epoch_us("ts").alias("ts_us")
    )
    w = Window.partitionBy("user_id").orderBy("ts_us", "event_id")
    gap_us = 30 * 60 * 1000 * 1000
    prev = F.col("prev_us")
    flagged = ev.withColumn("prev_us", F.lag("ts_us").over(w)).withColumn(
        "is_new",
        F.when(
            prev.isNull() | (F.col("ts_us") - prev > gap_us), 1
        ).otherwise(0),
    )
    sess = flagged.withColumn(
        "session_id",
        F.sum("is_new").over(
            w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
        ),
    )
    return sess.groupBy("user_id", "session_id").agg(
        F.count(F.lit(1)).alias("n_events"),
        F.min("ts_us").alias("session_start_us"),
        F.max("ts_us").alias("session_end_us"),
    )


@query(
    "win_first_last_nth",
    # navigation functions over an EXPLICIT full-partition frame: the
    # default frame with ORDER BY stops at CURRENT ROW, which makes
    # last_value a footgun — always pin ROWS BETWEEN UNBOUNDED PRECEDING
    # AND UNBOUNDED FOLLOWING. Order includes the unique key (§7.3).
    oracle="""
    SELECT o_custkey, o_orderkey, o_totalprice,
           first_value(o_orderkey) OVER w AS first_ok,
           last_value(o_orderkey) OVER w AS last_ok,
           nth_value(o_orderkey, 2) OVER w AS second_ok
    FROM orders
    WINDOW w AS (PARTITION BY o_custkey
                 ORDER BY o_totalprice DESC, o_orderkey ASC
                 ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING)
    """,
)
def win_first_last_nth(spark, sf_dir):
    o = load(spark, sf_dir, "orders")
    w = (
        Window.partitionBy("o_custkey")
        .orderBy(F.col("o_totalprice").desc(), F.col("o_orderkey").asc())
        .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    )
    return o.select(
        "o_custkey",
        "o_orderkey",
        "o_totalprice",
        F.first("o_orderkey").over(w).alias("first_ok"),
        F.last("o_orderkey").over(w).alias("last_ok"),
        F.nth_value("o_orderkey", 2).over(w).alias("second_ok"),
    )


@query(
    "win_count_distinct_over",
    # COUNT(DISTINCT x) OVER (PARTITION BY k) — Spark's analyzer rejects
    # DISTINCT aggregates in window frames outright, so the engine rewrites
    # it to the classic two-window form: dense_rank over (k ORDER BY x)
    # then max(rank) over (k). Both windows share one partitioning, so
    # Catalyst plans a SINGLE hash exchange on o_custkey followed by two
    # in-memory Window operators — the 100 TB cost is one shuffle, same as
    # the naive aggregate; no per-group state beyond the sort run.
    oracle="""
    SELECT o_orderkey, o_custkey, o_orderpriority,
           max(dr) OVER (PARTITION BY o_custkey) AS n_distinct_prio
    FROM (
      SELECT o_orderkey, o_custkey, o_orderpriority,
             dense_rank() OVER (PARTITION BY o_custkey
                                ORDER BY o_orderpriority) AS dr
      FROM orders
    )
    """,
)
def win_count_distinct_over(spark, sf_dir):
    o = load(spark, sf_dir, "orders")
    w_rank = Window.partitionBy("o_custkey").orderBy("o_orderpriority")
    w_all = Window.partitionBy("o_custkey")
    return (
        o.withColumn("dr", F.dense_rank().over(w_rank))
        .withColumn("n_distinct_prio", F.max("dr").over(w_all))
        .select(
            "o_orderkey", "o_custkey", "o_orderpriority", "n_distinct_prio"
        )
    )


@query(
    "win_cumulative_distinct",
    # Running DISTINCT count over time — "how many distinct event types
    # has this user seen so far": another DISTINCT-window Spark rejects
    # outright, rewritten as first-occurrence flag (row_number over
    # (user, type) = 1) + running sum over (user, time). Two window passes
    # on different keys → two exchanges; the second reuses the first's
    # rows unexpanded, so the 100 TB cost is two narrow shuffles of the
    # event stream, no state beyond the sort runs.
    oracle="""
    SELECT event_id, user_id, epoch_us(ts) AS ts_us,
           CAST(sum(is_first) OVER (PARTITION BY user_id
                               ORDER BY epoch_us(ts), event_id
                               ROWS BETWEEN UNBOUNDED PRECEDING
                               AND CURRENT ROW) AS BIGINT) AS n_types_seen
    FROM (
      SELECT event_id, user_id, ts,
             CASE WHEN row_number() OVER (
                    PARTITION BY user_id, event_type
                    ORDER BY epoch_us(ts), event_id) = 1
                  THEN 1 ELSE 0 END AS is_first
      FROM events
    )
    """,
)
def win_cumulative_distinct(spark, sf_dir):
    ev = load(spark, sf_dir, "events")
    w_first = Window.partitionBy("user_id", "event_type").orderBy(
        F.unix_micros("ts"), "event_id"
    )
    w_run = (
        Window.partitionBy("user_id")
        .orderBy(F.unix_micros("ts"), "event_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return (
        ev.withColumn(
            "is_first",
            F.when(F.row_number().over(w_first) == 1, 1).otherwise(0),
        )
        .select(
            "event_id",
            "user_id",
            F.unix_micros("ts").alias("ts_us"),
            F.sum("is_first").over(w_run).alias("n_types_seen"),
        )
    )


@query(
    "win_median_over",
    # Aggregate-percentile over the group, attached to every row: each
    # event against its type's median — the "how unusual is this row
    # within its group" primitive without collapsing rows. The oracle
    # keeps the windowed SQL spelling; the Spark side computes the SAME
    # values as one percentile aggregate + a broadcast join-back (round
    # 9: the unordered window shuffled the whole fact table onto a
    # handful of type partitions for a per-group scalar — the broadcast
    # form touches rows in place, no fact shuffle at all). Interpolated
    # medians round(6) before the deviation arithmetic.
    oracle="""
    SELECT event_id, event_type, value,
           round(round(quantile_cont(value, 0.5) OVER (
                   PARTITION BY event_type), 6), 6) AS type_median,
           round(value - round(quantile_cont(value, 0.5) OVER (
                   PARTITION BY event_type), 6), 6) AS dev
    FROM events
    """,
)
def win_median_over(spark, sf_dir):
    from naqed_spark.queries.aggs import _ns_bjoin

    ev = load(spark, sf_dir, "events")
    med = ev.groupBy("event_type").agg(
        F.round(F.expr("percentile(value, 0.5)"), 6).alias("__med")
    )
    # null-safe join-back: a NULL event_type is a PARTITION BY group in
    # the oracle's window, so its rows keep their group median too
    return _ns_bjoin(ev, med, ["event_type"]).select(
        "event_id",
        "event_type",
        "value",
        F.round(F.col("__med"), 6).alias("type_median"),
        F.round(F.col("value") - F.col("__med"), 6).alias("dev"),
    )


@query(
    "win_rolling_corr",
    # Rolling 7-day correlation between two daily series (click vs
    # purchase cents) — the co-movement monitor. The five moment sums
    # (Σx, Σy, Σxy, Σx², Σy²) are WINDOW sums over exact integer cents
    # (DECIMAL for the products) sharing ONE ordering, so Catalyst
    # stacks them over a single exchange; r assembles from identical
    # integers on both engines, round(6), NULL when the window variance
    # is 0. The pivot to (day, x, y) is a tiny conditional aggregate.
    oracle="""
    WITH daily AS (
      SELECT CAST(epoch_us(date_trunc('day', ts)) AS BIGINT) AS day_us,
             CAST(SUM(CASE WHEN event_type = 'click'
                      THEN CAST(round(value * 100, 0) AS BIGINT)
                      ELSE 0 END) AS BIGINT) AS x,
             CAST(SUM(CASE WHEN event_type = 'purchase'
                      THEN CAST(round(value * 100, 0) AS BIGINT)
                      ELSE 0 END) AS BIGINT) AS y
      FROM events GROUP BY 1
    ),
    m AS (
      SELECT day_us, x, y,
             count(*) OVER w AS n,
             CAST(sum(CAST(x AS DECIMAL(38,0))) OVER w AS DOUBLE) AS sx,
             CAST(sum(CAST(y AS DECIMAL(38,0))) OVER w AS DOUBLE) AS sy,
             CAST(sum(CAST(x AS DECIMAL(19,0)) * CAST(y AS DECIMAL(19,0)))
                  OVER w AS DOUBLE) AS sxy,
             CAST(sum(CAST(x AS DECIMAL(19,0)) * CAST(x AS DECIMAL(19,0)))
                  OVER w AS DOUBLE) AS sxx,
             CAST(sum(CAST(y AS DECIMAL(19,0)) * CAST(y AS DECIMAL(19,0)))
                  OVER w AS DOUBLE) AS syy
      FROM daily
      WINDOW w AS (ORDER BY day_us ROWS BETWEEN 6 PRECEDING AND CURRENT ROW)
    )
    SELECT day_us, n,
           round((n * sxy - sx * sy)
                 / nullif(sqrt((n * sxx - sx * sx) * (n * syy - sy * sy)),
                          0), 6) AS rolling_r
    FROM m
    """,
)
def win_rolling_corr(spark, sf_dir):
    ev = load(spark, sf_dir, "events")
    cents = F.round(F.col("value") * 100, 0).cast("bigint")
    daily = ev.groupBy(
        F.unix_micros(F.date_trunc("day", "ts")).alias("day_us")
    ).agg(
        F.sum(F.when(F.col("event_type") == "click", cents).otherwise(0))
        .cast("bigint").alias("x"),
        F.sum(F.when(F.col("event_type") == "purchase", cents).otherwise(0))
        .cast("bigint").alias("y"),
    )
    w = Window.orderBy("day_us").rowsBetween(-6, Window.currentRow)
    d19 = lambda c: c.cast("decimal(19,0)")  # noqa: E731
    x, y = F.col("x"), F.col("y")
    m = (
        daily.withColumn("n", F.count(F.lit(1)).over(w))
        .withColumn("sx", F.sum(x.cast("decimal(38,0)")).over(w).cast("double"))
        .withColumn("sy", F.sum(y.cast("decimal(38,0)")).over(w).cast("double"))
        .withColumn("sxy", F.sum(d19(x) * d19(y)).over(w).cast("double"))
        .withColumn("sxx", F.sum(d19(x) * d19(x)).over(w).cast("double"))
        .withColumn("syy", F.sum(d19(y) * d19(y)).over(w).cast("double"))
    )
    n, sx, sy = F.col("n"), F.col("sx"), F.col("sy")
    sxy, sxx, syy = F.col("sxy"), F.col("sxx"), F.col("syy")
    r = (n * sxy - sx * sy) / F.nullif(
        F.sqrt((n * sxx - sx * sx) * (n * syy - sy * sy)), F.lit(0.0)
    )
    return m.select("day_us", "n", F.round(r, 6).alias("rolling_r"))


@query(
    "win_weighted_moving_avg",
    # Linearly-weighted moving average (3-tap WMA: weights 3/2/1 on
    # current/prev/prev2) per user — the lag-spelled FIR filter that,
    # unlike win_moving_avg's uniform frame, cannot be expressed as a
    # frame aggregate at all (frames cannot weight by offset): the
    # engine rewrite is explicit lag() taps. Exact integer cents
    # arithmetic; edges emit NULL (incomplete taps) rather than a
    # silently rescaled average. One user_id exchange shared by all
    # three lags.
    oracle="""
    SELECT user_id, event_id, ts_us,
           CASE WHEN p2 IS NOT NULL THEN
             round((3 * c + 2 * p1 + 1 * p2) / 6.0, 6)
           END AS wma_cents
    FROM (
      SELECT user_id, event_id, epoch_us(ts) AS ts_us,
             CAST(round(value * 100, 0) AS BIGINT) AS c,
             lag(CAST(round(value * 100, 0) AS BIGINT), 1) OVER w AS p1,
             lag(CAST(round(value * 100, 0) AS BIGINT), 2) OVER w AS p2
      FROM events
      WINDOW w AS (PARTITION BY user_id ORDER BY epoch_us(ts), event_id)
    )
    """,
)
def win_weighted_moving_avg(spark, sf_dir):
    ev = load(spark, sf_dir, "events").select(
        "user_id",
        "event_id",
        F.unix_micros("ts").alias("ts_us"),
        F.round(F.col("value") * 100, 0).cast("bigint").alias("c"),
    )
    w = Window.partitionBy("user_id").orderBy("ts_us", "event_id")
    taps = ev.withColumn("p1", F.lag("c", 1).over(w)).withColumn(
        "p2", F.lag("c", 2).over(w)
    )
    wma = F.when(
        F.col("p2").isNotNull(),
        F.round(
            (3 * F.col("c") + 2 * F.col("p1") + F.col("p2")) / 6.0, 6
        ),
    )
    return taps.select(
        "user_id", "event_id", "ts_us", wma.alias("wma_cents")
    )
