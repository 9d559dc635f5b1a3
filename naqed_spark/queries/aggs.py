"""§2-D: aggregations — all 13 contract keys (SURVEY.md:204-220).

Scale notes (100 TB posture):
  - Every groupBy here is a hash aggregate with map-side partial
    aggregation (Spark plans partial_ + final HashAggregate automatically);
    the shuffle carries only the partial states, never raw rows.
  - countDistinct expands to a two-phase exact distinct; at very high
    cardinality prefer agg_approx_count_distinct (HLL, constant state).
  - rollup/cube expand the input once per grouping set before the hash agg
    (Expand node) — cost is |sets| × input, which is why grouping-set lists
    stay small.

Determinism (SURVEY.md §7.3 + _util docstring):
  - money sums → exact DECIMAL, cast double at the end (bit-identical).
  - l_quantity is 0.25-step → binary-exact doubles; sums/avgs are exact
    regardless of order, no rounding needed.
  - averages → exact-decimal sum cast to double, divided by count (one
    identical double division on both engines).
  - stats run on small-magnitude columns (quantity/discount/tax) where both
    engines' accumulation error (~1e-10) is far below the round(4/6) grain.
"""

from __future__ import annotations

from pyspark.sql import Window, functions as F

from naqed_spark.queries._util import (
    dsum,
    exact_sum,
    lanes,
    load,
    r4,
    r6,
    scoped_persist,
)
from naqed_spark.registry import query


@query(
    "agg_global",
    oracle="""
    SELECT count(*) AS n,
           sum(l_quantity) AS sum_qty,
           avg(l_quantity) AS avg_qty,
           min(l_extendedprice) AS min_price,
           max(l_extendedprice) AS max_price,
           CAST(sum(CAST(l_extendedprice AS DECIMAL(12,2))) AS DOUBLE)
             AS sum_price,
           CAST(sum(CAST(l_extendedprice AS DECIMAL(12,2))) AS DOUBLE)
             / count(*) AS avg_price
    FROM lineitem
    """,
)
def agg_global(spark, sf_dir):
    li, (price,) = lanes(load(spark, sf_dir, "lineitem"), "l_extendedprice")
    sum_price = dsum(price)
    return li.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("l_quantity").alias("sum_qty"),
        F.avg("l_quantity").alias("avg_qty"),
        F.min("l_extendedprice").alias("min_price"),
        F.max("l_extendedprice").alias("max_price"),
        sum_price.alias("sum_price"),
        (sum_price / F.count(F.lit(1))).alias("avg_price"),
    )


@query(
    "agg_groupby_hash",
    # TPC-H Q1: the BASELINE.md headline aggregation.
    oracle="""
    SELECT l_returnflag, l_linestatus,
           sum(l_quantity) AS sum_qty,
           CAST(sum(CAST(l_extendedprice AS DECIMAL(12,2))) AS DOUBLE)
             AS sum_base_price,
           CAST(sum(CAST(l_extendedprice AS DECIMAL(12,2))
                    * (1 - CAST(l_discount AS DECIMAL(4,2)))) AS DOUBLE)
             AS sum_disc_price,
           CAST(sum(CAST(l_extendedprice AS DECIMAL(12,2))
                    * (1 - CAST(l_discount AS DECIMAL(4,2)))
                    * (1 + CAST(l_tax AS DECIMAL(4,2)))) AS DOUBLE)
             AS sum_charge,
           avg(l_quantity) AS avg_qty,
           CAST(sum(CAST(l_extendedprice AS DECIMAL(12,2))) AS DOUBLE)
             / count(*) AS avg_price,
           CAST(sum(CAST(l_discount AS DECIMAL(4,2))) AS DOUBLE)
             / count(*) AS avg_disc,
           count(*) AS count_order
    FROM lineitem
    WHERE l_shipdate <= TIMESTAMP '1998-09-01 00:00:00'
    GROUP BY l_returnflag, l_linestatus
    """,
)
def agg_groupby_hash(spark, sf_dir):
    li, (price, disc, tax) = lanes(
        load(spark, sf_dir, "lineitem").filter(
            F.col("l_shipdate") <= F.lit("1998-09-01").cast("timestamp_ntz")
        ),
        "l_extendedprice",
        ("l_discount", "decimal(4,2)"),
        ("l_tax", "decimal(4,2)"),
    )
    n = F.count(F.lit(1))
    return li.groupBy("l_returnflag", "l_linestatus").agg(
        F.sum("l_quantity").alias("sum_qty"),
        dsum(price).alias("sum_base_price"),
        dsum(price * (1 - disc)).alias("sum_disc_price"),
        dsum(price * (1 - disc) * (1 + tax)).alias("sum_charge"),
        F.avg("l_quantity").alias("avg_qty"),
        (dsum(price) / n).alias("avg_price"),
        (dsum(disc) / n).alias("avg_disc"),
        n.alias("count_order"),
    )


@query(
    "agg_count_distinct",
    oracle="""
    SELECT event_type,
           count(DISTINCT user_id) AS n_users,
           count(*) AS n_events
    FROM events GROUP BY event_type
    """,
)
def agg_count_distinct(spark, sf_dir):
    return (
        load(spark, sf_dir, "events")
        .groupBy("event_type")
        .agg(
            F.countDistinct("user_id").alias("n_users"),
            F.count(F.lit(1)).alias("n_events"),
        )
    )


@query("agg_approx_count_distinct", rows_only=True)
def agg_approx_count_distinct(spark, sf_dir):
    """HLL distinct users per event_type. rows-only by design (SURVEY §2-D):
    Spark's HLL++ and DuckDB's approx sketch differ; tests assert the
    estimate is within 5% of exact. At 100 TB this is THE distinct-count
    path — constant memory per group vs countDistinct's expand-shuffle."""
    return (
        load(spark, sf_dir, "events")
        .groupBy("event_type")
        .agg(F.approx_count_distinct("user_id").alias("approx_users"))
    )


@query(
    "agg_having",
    oracle="""
    SELECT c_nationkey, count(*) AS n_cust,
           CAST(sum(CAST(c_acctbal AS DECIMAL(12,2))) AS DOUBLE) AS total_bal
    FROM customer
    GROUP BY c_nationkey
    HAVING count(*) > 50
    """,
)
def agg_having(spark, sf_dir):
    c, (bal,) = lanes(load(spark, sf_dir, "customer"), "c_acctbal")
    return (
        c.groupBy("c_nationkey")
        .agg(
            F.count(F.lit(1)).alias("n_cust"),
            dsum(bal).alias("total_bal"),
        )
        .filter(F.col("n_cust") > 50)
    )


@query(
    "agg_filtered",
    # FILTER-clause aggregation: Spark's sum(when(cond, x)) ≡ ANSI FILTER.
    oracle="""
    SELECT l_returnflag,
           sum(l_quantity) FILTER (WHERE l_linestatus = 'F') AS qty_f,
           sum(l_quantity) FILTER (WHERE l_linestatus = 'O') AS qty_o,
           count(*) FILTER (WHERE l_discount > 0.05) AS n_high_disc,
           count(*) AS n
    FROM lineitem GROUP BY l_returnflag
    """,
)
def agg_filtered(spark, sf_dir):
    li = load(spark, sf_dir, "lineitem")
    return li.groupBy("l_returnflag").agg(
        F.sum(F.when(F.col("l_linestatus") == "F", F.col("l_quantity"))).alias(
            "qty_f"
        ),
        F.sum(F.when(F.col("l_linestatus") == "O", F.col("l_quantity"))).alias(
            "qty_o"
        ),
        F.count(F.when(F.col("l_discount") > 0.05, F.lit(1))).alias(
            "n_high_disc"
        ),
        F.count(F.lit(1)).alias("n"),
    )


@query(
    "agg_rollup",
    oracle="""
    SELECT l_returnflag, l_linestatus,
           sum(l_quantity) AS sum_qty, count(*) AS n
    FROM lineitem
    GROUP BY ROLLUP (l_returnflag, l_linestatus)
    """,
)
def agg_rollup(spark, sf_dir):
    return (
        load(spark, sf_dir, "lineitem")
        .rollup("l_returnflag", "l_linestatus")
        .agg(F.sum("l_quantity").alias("sum_qty"), F.count(F.lit(1)).alias("n"))
    )


@query(
    "agg_cube",
    oracle="""
    SELECT o_orderstatus, o_orderpriority, count(*) AS n,
           CAST(sum(CAST(o_totalprice AS DECIMAL(12,2))) AS DOUBLE) AS total
    FROM orders
    GROUP BY CUBE (o_orderstatus, o_orderpriority)
    """,
)
def agg_cube(spark, sf_dir):
    o, (price,) = lanes(load(spark, sf_dir, "orders"), "o_totalprice")
    return (
        o.cube("o_orderstatus", "o_orderpriority")
        .agg(
            F.count(F.lit(1)).alias("n"),
            dsum(price).alias("total"),
        )
    )


@query(
    "agg_grouping_sets",
    oracle="""
    SELECT l_returnflag, l_linestatus,
           grouping(l_returnflag) AS g_flag,
           grouping(l_linestatus) AS g_status,
           sum(l_quantity) AS sum_qty
    FROM lineitem
    GROUP BY GROUPING SETS ((l_returnflag), (l_linestatus), ())
    """,
)
def agg_grouping_sets(spark, sf_dir):
    li = load(spark, sf_dir, "lineitem")
    li.createOrReplaceTempView("naqed_gs_lineitem")
    return spark.sql(
        """
        SELECT l_returnflag, l_linestatus,
               CAST(grouping(l_returnflag) AS INT) AS g_flag,
               CAST(grouping(l_linestatus) AS INT) AS g_status,
               sum(l_quantity) AS sum_qty
        FROM naqed_gs_lineitem
        GROUP BY GROUPING SETS ((l_returnflag), (l_linestatus), ())
        """
    )


@query(
    "agg_stats",
    # stats on small-magnitude columns only: accumulation error ~1e-10 is
    # far below the rounding grain, so round(4/6) is deterministic. Running
    # these on 1e5-magnitude money columns would NOT survive the hash.
    oracle="""
    SELECT l_returnflag,
           round(stddev_samp(l_quantity), 4) AS sd_qty,
           round(var_samp(l_quantity), 4) AS var_qty,
           round(corr(l_discount, l_tax), 6) AS corr_disc_tax,
           round(covar_samp(l_quantity, l_discount), 6) AS cov_qty_disc
    FROM lineitem GROUP BY l_returnflag
    """,
)
def agg_stats(spark, sf_dir):
    li = load(spark, sf_dir, "lineitem")
    return li.groupBy("l_returnflag").agg(
        r4(F.stddev_samp("l_quantity")).alias("sd_qty"),
        r4(F.var_samp("l_quantity")).alias("var_qty"),
        r6(F.corr("l_discount", "l_tax")).alias("corr_disc_tax"),
        r6(F.covar_samp("l_quantity", "l_discount")).alias("cov_qty_disc"),
    )


@query(
    "agg_percentile_exact",
    # l_quantity is 0.25-step → interpolated quantiles land on 0.125 steps,
    # binary-exact, so round(4) is boundary-free on both engines.
    oracle="""
    SELECT l_returnflag,
           round(quantile_cont(l_quantity, 0.5), 4) AS median_qty,
           round(quantile_cont(l_quantity, 0.9), 4) AS p90_qty
    FROM lineitem GROUP BY l_returnflag
    """,
)
def agg_percentile_exact(spark, sf_dir):
    li = load(spark, sf_dir, "lineitem")
    return li.groupBy("l_returnflag").agg(
        r4(F.percentile("l_quantity", F.lit(0.5))).alias("median_qty"),
        r4(F.percentile("l_quantity", F.lit(0.9))).alias("p90_qty"),
    )


@query(
    "agg_collect_set",
    # collections are order-nondeterministic after shuffles → always sorted
    # before emission (§7.3), and emitted as a joined string for hashing.
    oracle="""
    SELECT c_nationkey,
           array_to_string(list_sort(list(DISTINCT c_mktsegment)), ',')
             AS segments
    FROM customer GROUP BY c_nationkey
    """,
)
def agg_collect_set(spark, sf_dir):
    return (
        load(spark, sf_dir, "customer")
        .groupBy("c_nationkey")
        .agg(
            F.array_join(
                F.sort_array(F.collect_set("c_mktsegment")), ","
            ).alias("segments")
        )
    )


@query(
    "agg_min_max_by",
    # arg-min/arg-max with mandatory unique tiebreak (§7.3): the order value
    # price*1e5 + key is computed identically on both engines (determinism
    # needs identical doubles, not exact ones) and unique by construction
    # (keys differ by ≥1 ≫ the ~1e-6 multiply error).
    oracle="""
    SELECT o_orderpriority,
           max_by(o_orderkey, o_totalprice * 100000 + o_orderkey)
             AS biggest_order,
           min_by(o_orderkey, o_totalprice * 100000 + o_orderkey)
             AS smallest_order,
           max(o_totalprice) AS max_price,
           min(o_totalprice) AS min_price
    FROM orders GROUP BY o_orderpriority
    """,
)
def agg_min_max_by(spark, sf_dir):
    o = load(spark, sf_dir, "orders")
    by = F.col("o_totalprice") * 100000 + F.col("o_orderkey")
    return o.groupBy("o_orderpriority").agg(
        F.max_by("o_orderkey", by).alias("biggest_order"),
        F.min_by("o_orderkey", by).alias("smallest_order"),
        F.max("o_totalprice").alias("max_price"),
        F.min("o_totalprice").alias("min_price"),
    )


_EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]


@query(
    "agg_pivot",
    # wide per-user event-type counts. Spark pivot() with an EXPLICIT value
    # list — at 100 TB an implicit pivot runs an extra distinct pass over
    # the data to discover columns; always enumerate. Oracle: conditional
    # aggregation (the portable form of PIVOT).
    oracle="""
    SELECT user_id,
           count(*) FILTER (WHERE event_type = 'click') AS click,
           count(*) FILTER (WHERE event_type = 'error') AS error,
           count(*) FILTER (WHERE event_type = 'purchase') AS purchase,
           count(*) FILTER (WHERE event_type = 'signup') AS signup,
           count(*) FILTER (WHERE event_type = 'view') AS view
    FROM events GROUP BY user_id
    """,
)
def agg_pivot(spark, sf_dir):
    ev = load(spark, sf_dir, "events").select("user_id", "event_type")
    out = (
        ev.groupBy("user_id")
        .pivot("event_type", _EVENT_TYPES)
        .agg(F.count(F.lit(1)))
    )
    # pivot yields NULL for absent combos; the conditional-agg twin yields 0
    return out.select(
        "user_id",
        *[F.coalesce(F.col(t), F.lit(0)).cast("long").alias(t)
          for t in _EVENT_TYPES],
    )


@query(
    "agg_unpivot",
    # long form back out of wide columns via stack() — the inverse surface.
    oracle="""
    SELECT o_orderkey, 'totalprice' AS measure, o_totalprice AS val
    FROM orders
    UNION ALL
    SELECT o_orderkey, 'custkey' AS measure, CAST(o_custkey AS DOUBLE) AS val
    FROM orders
    """,
)
def agg_unpivot(spark, sf_dir):
    o = load(spark, sf_dir, "orders")
    return o.select(
        "o_orderkey",
        F.expr(
            "stack(2, 'totalprice', o_totalprice,"
            " 'custkey', cast(o_custkey as double)) AS (measure, val)"
        ),
    )


@query(
    "agg_string_concat_ordered",
    # listagg/string_agg: ordered string concatenation per group. Ordered
    # deterministically by the unique key; Spark spells it
    # array_join(array_sort(collect_list(...))) since collect_list order is
    # partition-arbitrary — sorting AFTER collection is the deterministic
    # (and shuffle-identical) form.
    oracle="""
    SELECT c_nationkey,
           string_agg(c_name, ',' ORDER BY c_custkey) AS names
    FROM customer
    WHERE c_custkey <= 200
    GROUP BY c_nationkey
    """,
)
def agg_string_concat_ordered(spark, sf_dir):
    c = load(spark, sf_dir, "customer").filter(F.col("c_custkey") <= 200)
    ordered = F.transform(
        F.array_sort(F.collect_list(F.struct("c_custkey", "c_name"))),
        lambda x: x["c_name"],
    )
    return c.groupBy("c_nationkey").agg(
        F.array_join(ordered, ",").alias("names")
    )


@query(
    "agg_mode",
    # mode (most frequent value) per group with a deterministic smallest-
    # value tiebreak — expressed as count + windowed argmax on both engines
    # (DuckDB's native mode() leaves ties unspecified). Two shuffles: the
    # (seg, nation) count is map-side combined; the per-seg argmax window
    # rides WindowGroupLimit.
    oracle="""
    SELECT c_mktsegment, c_nationkey AS mode_nation, n FROM (
      SELECT c_mktsegment, c_nationkey, n,
             row_number() OVER (PARTITION BY c_mktsegment
                                ORDER BY n DESC, c_nationkey ASC) AS rn
      FROM (SELECT c_mktsegment, c_nationkey, count(*) AS n
            FROM customer GROUP BY c_mktsegment, c_nationkey))
    WHERE rn = 1
    """,
)
def agg_mode(spark, sf_dir):
    from pyspark.sql import Window

    c = load(spark, sf_dir, "customer")
    counts = c.groupBy("c_mktsegment", "c_nationkey").agg(
        F.count(F.lit(1)).alias("n")
    )
    w = Window.partitionBy("c_mktsegment").orderBy(
        F.col("n").desc(), F.col("c_nationkey").asc()
    )
    return (
        counts.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select(
            "c_mktsegment", F.col("c_nationkey").alias("mode_nation"), "n"
        )
    )


@query(
    "agg_bool",
    # boolean aggregate family — bool_and / bool_or / count_if share names
    # and semantics across Spark 3.5+ and DuckDB.
    oracle="""
    SELECT o_orderstatus,
           bool_and(o_totalprice > 1000)   AS all_over_1k,
           bool_or(o_totalprice > 400000)  AS any_over_400k,
           CAST(count_if(o_orderpriority = '1-URGENT') AS BIGINT) AS n_urgent
    FROM orders GROUP BY o_orderstatus
    """,
)
def agg_bool(spark, sf_dir):
    o = load(spark, sf_dir, "orders")
    return o.groupBy("o_orderstatus").agg(
        F.bool_and(F.col("o_totalprice") > 1000).alias("all_over_1k"),
        F.bool_or(F.col("o_totalprice") > 400000).alias("any_over_400k"),
        F.count_if(F.col("o_orderpriority") == "1-URGENT").alias("n_urgent"),
    )


@query(
    "agg_hist_orders_per_cust",
    # TPC-H Q13 shape: two-level aggregation — orders per customer via a
    # LEFT join (customers with none count 0), then the distribution
    # (how many customers have k orders). Both aggs are map-side combined;
    # the second runs over |customers| rows, the third over |distinct k|.
    oracle="""
    SELECT n_orders, count(*) AS n_customers FROM (
      SELECT c.c_custkey, count(o.o_orderkey) AS n_orders
      FROM customer c LEFT JOIN orders o ON o.o_custkey = c.c_custkey
      GROUP BY c.c_custkey)
    GROUP BY n_orders
    """,
)
def agg_hist_orders_per_cust(spark, sf_dir):
    c = load(spark, sf_dir, "customer").select("c_custkey")
    o = load(spark, sf_dir, "orders").select("o_custkey", "o_orderkey")
    per_cust = (
        c.join(o, c.c_custkey == o.o_custkey, "left")
        .groupBy("c_custkey")
        .agg(F.count("o_orderkey").alias("n_orders"))
    )
    return per_cust.groupBy("n_orders").agg(
        F.count(F.lit(1)).alias("n_customers")
    )


@query(
    "agg_corr_regr",
    # bivariate statistics family: corr / covar_pop / regr_slope(y, x) per
    # group — same names and (y, x) argument order on both engines; float
    # folds get the round(6) hedge like agg_stats.
    oracle="""
    SELECT l_returnflag,
           round(corr(l_quantity, l_extendedprice), 6) AS qp_corr,
           round(covar_pop(l_quantity, l_extendedprice), 6) AS qp_covar,
           round(regr_slope(l_extendedprice, l_quantity), 6) AS price_per_qty
    FROM lineitem GROUP BY l_returnflag
    """,
)
def agg_corr_regr(spark, sf_dir):
    li = load(spark, sf_dir, "lineitem")
    return li.groupBy("l_returnflag").agg(
        r6(F.corr("l_quantity", "l_extendedprice")).alias("qp_corr"),
        r6(F.covar_pop("l_quantity", "l_extendedprice")).alias("qp_covar"),
        r6(F.regr_slope("l_extendedprice", "l_quantity")).alias(
            "price_per_qty"
        ),
    )


@query("agg_hll_partial_merge", rows_only=True)
def agg_hll_partial_merge(spark, sf_dir):
    """Mergeable-sketch distinct counting (Apache DataSketches HLL, built
    into Spark 3.5+): per-nation customer sketches are built ONCE, then
    re-aggregated to per-region estimates by merging the tiny binary
    sketches — never re-touching the base table. This is THE 100 TB
    pattern for distinct-count rollups across shards/time windows: the
    expensive pass is linear and partial, every further rollup is
    sketch-sized. Rows-only by design (SURVEY §2: approx family — DuckDB
    has no DataSketches twin); the estimate itself is deterministic and
    tolerance-tested against the exact count in tests/test_oracle.py."""
    c = load(spark, sf_dir, "customer")
    n = load(spark, sf_dir, "nation").select("n_nationkey", "n_regionkey")
    per_nation = c.groupBy("c_nationkey").agg(
        F.expr("hll_sketch_agg(c_custkey, 14)").alias("sk"),
        F.count(F.lit(1)).alias("n_rows"),
    )
    return (
        per_nation.join(
            F.broadcast(n), per_nation["c_nationkey"] == n["n_nationkey"]
        )
        .groupBy("n_regionkey")
        .agg(
            F.expr("hll_sketch_estimate(hll_union_agg(sk))").alias(
                "est_customers"
            ),
            F.sum("n_rows").alias("n_customers"),
        )
        .select("n_regionkey", "est_customers", "n_customers")
    )


@query("agg_approx_percentile_sketch", rows_only=True)
def agg_approx_percentile_sketch(spark, sf_dir):
    """approx_percentile per group — the bounded-memory quantile sketch
    (vs agg_percentile_exact's exact form, which must see every value).
    Rows-only by design like the other approx ops; accuracy and error
    bounds are tolerance-tested locally in tests/test_oracle.py."""
    li = load(spark, sf_dir, "lineitem")
    return li.groupBy("l_returnflag").agg(
        F.expr(
            "approx_percentile(l_extendedprice, array(0.5, 0.9, 0.99), 1000)"
        ).cast("string").alias("price_pcts"),
        F.expr("approx_percentile(l_quantity, 0.5, 1000)").alias(
            "median_qty"
        ),
    )


@query(
    "agg_conditional_ratio",
    # Conditional-aggregate family: count_if / sum-if and ratio-of-sums
    # per group — the shape of every "share of revenue from X" metric.
    # All predicates evaluate inside the partial aggregate (map-side
    # combine), so the shuffle carries one row per (group × 4 measures);
    # ratios divide two exact-decimal sums cast to double (bit-identical
    # on both engines, round(6) hedge per SURVEY.md §7.3).
    oracle="""
    SELECT l_returnflag,
           count(*) AS n_rows,
           count(*) FILTER (WHERE l_discount > 0.05) AS n_disc,
           round(CAST(count(*) FILTER (WHERE l_discount > 0.05) AS DOUBLE)
                 / count(*), 6) AS disc_row_share,
           CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2))) AS DOUBLE)
             AS rev_total,
           CAST(SUM(CASE WHEN l_discount > 0.05
                         THEN CAST(l_extendedprice AS DECIMAL(12,2))
                         ELSE CAST(0 AS DECIMAL(12,2)) END) AS DOUBLE)
             AS rev_disc,
           round(CAST(SUM(CASE WHEN l_discount > 0.05
                              THEN CAST(l_extendedprice AS DECIMAL(12,2))
                              ELSE CAST(0 AS DECIMAL(12,2)) END) AS DOUBLE)
                 / CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2)))
                        AS DOUBLE), 6) AS disc_rev_share
    FROM lineitem
    GROUP BY l_returnflag
    """,
)
def agg_conditional_ratio(spark, sf_dir):
    li, (price,) = lanes(load(spark, sf_dir, "lineitem"), "l_extendedprice")
    is_disc = "l_discount > 0.05"
    disc_price = price.where(is_disc, otherwise=0)
    return li.groupBy("l_returnflag").agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.count_if(F.expr(is_disc)).alias("n_disc"),
        r6(F.count_if(F.expr(is_disc)).cast("double") / F.count(F.lit(1))).alias(
            "disc_row_share"
        ),
        dsum(price).alias("rev_total"),
        dsum(disc_price).alias("rev_disc"),
        r6(dsum(disc_price) / dsum(price)).alias("disc_rev_share"),
    )


@query(
    "agg_bitmap_distinct",
    # EXACT distinct counting via bitmap aggregation (Spark ≥3.5
    # bitmap_construct_agg): keys are bucketed into 32k-bit bitmaps, OR-ed
    # per (group, bucket) — a partial-mergeable representation like HLL
    # but exact, so it CAN be oracle-hash-checked (vs the rows-only
    # approx sketches). The 100 TB shape: the shuffle carries one 4 KB
    # bitmap per (group × bucket) instead of every distinct key, buckets
    # merge associatively across partitions/partial files, and the final
    # count is a sum of popcounts. This is the materialized-view pattern
    # for exact COUNT(DISTINCT) at scale.
    oracle="""
    SELECT l_returnflag, count(DISTINCT l_orderkey) AS n_distinct_orders
    FROM lineitem GROUP BY l_returnflag
    """,
)
def agg_bitmap_distinct(spark, sf_dir):
    li = load(spark, sf_dir, "lineitem")
    per_bucket = li.groupBy(
        "l_returnflag",
        F.expr("bitmap_bucket_number(l_orderkey)").alias("bucket"),
    ).agg(
        F.expr(
            "bitmap_count(bitmap_construct_agg("
            "bitmap_bit_position(l_orderkey)))"
        ).alias("c")
    )
    return per_bucket.groupBy("l_returnflag").agg(
        F.sum("c").alias("n_distinct_orders")
    )


@query(
    "agg_grouping_id",
    # GROUPING()/grouping-level labels for grouping sets: the bit flags
    # that let a consumer tell a real NULL group from a rollup subtotal —
    # without them, multi-level rollup outputs are ambiguous. Same single
    # expand+aggregate plan as agg_grouping_sets; the flags are free
    # metadata, not extra passes.
    oracle="""
    SELECT l_returnflag, l_linestatus,
           CAST(grouping(l_returnflag) AS INT) AS g_flag,
           CAST(grouping(l_linestatus) AS INT) AS g_status,
           count(*) AS n,
           CAST(SUM(CAST(l_quantity AS DECIMAL(12,2))) AS DOUBLE) AS qty
    FROM lineitem
    GROUP BY GROUPING SETS ((l_returnflag, l_linestatus),
                            (l_returnflag), ())
    """,
)
def agg_grouping_id(spark, sf_dir):
    li, (qty,) = lanes(load(spark, sf_dir, "lineitem"), "l_quantity")
    return (
        li.groupingSets(
            [["l_returnflag", "l_linestatus"], ["l_returnflag"], []],
            "l_returnflag",
            "l_linestatus",
        )
        .agg(
            F.grouping("l_returnflag").cast("int").alias("g_flag"),
            F.grouping("l_linestatus").cast("int").alias("g_status"),
            F.count(F.lit(1)).alias("n"),
            dsum(qty).alias("qty"),
        )
    )


@query(
    "agg_higher_moments",
    # Skewness / excess kurtosis per group, computed FROM RAW MOMENTS
    # (Σx, Σx², Σx³, Σx⁴ over exact integer cents) instead of the
    # engines' built-in skewness/kurtosis — whose bias corrections
    # (sample vs population) differ between Spark and DuckDB and would
    # never hash-match. The x³/x⁴ sums go through DECIMAL(38,0): cents⁴
    # ≈ 5.8e18 is within one row of BIGINT overflow, and Spark's
    # sum(bigint) wraps where DuckDB promotes to HUGEINT — decimal is
    # the overflow-safe exact form BOTH engines share. Assembly into
    # g1/g2 is identical IEEE arithmetic on identical inputs, round(6).
    # One map-side-combined pass.
    oracle="""
    WITH m AS (
      SELECT event_type,
             count(*) AS n,
             CAST(sum(c) AS DOUBLE) AS s1,
             CAST(sum(c * c) AS DOUBLE) AS s2,
             CAST(sum(CAST(c AS DECIMAL(19,0)) * CAST(c * c AS DECIMAL(19,0)))
                  AS DOUBLE) AS s3,
             CAST(sum(CAST(c * c AS DECIMAL(19,0))
                      * CAST(c * c AS DECIMAL(19,0))) AS DOUBLE) AS s4
      FROM (SELECT event_type,
                   CAST(round(value * 100, 0) AS BIGINT) AS c
            FROM events)
      GROUP BY event_type
    )
    SELECT event_type, n,
           round((s3 / n - 3 * (s1 / n) * (s2 / n) + 2 * pow(s1 / n, 3))
                 / pow(s2 / n - pow(s1 / n, 2), 1.5), 6) AS skew_g1,
           round((s4 / n - 4 * (s1 / n) * (s3 / n)
                  + 6 * pow(s1 / n, 2) * (s2 / n) - 3 * pow(s1 / n, 4))
                 / pow(s2 / n - pow(s1 / n, 2), 2) - 3.0, 6) AS kurt_g2
    FROM m
    """,
)
def agg_higher_moments(spark, sf_dir):
    ev = load(spark, sf_dir, "events").select(
        "event_type",
        F.round(F.col("value") * 100, 0).cast("bigint").alias("c"),
    )
    c = F.col("c")
    m = ev.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(c).cast("double").alias("s1"),
        F.sum(c * c).cast("double").alias("s2"),
        F.sum(
            c.cast("decimal(19,0)") * (c * c).cast("decimal(19,0)")
        ).cast("double").alias("s3"),
        F.sum(
            (c * c).cast("decimal(19,0)") * (c * c).cast("decimal(19,0)")
        ).cast("double").alias("s4"),
    )
    n, s1, s2, s3, s4 = (F.col(x) for x in ("n", "s1", "s2", "s3", "s4"))
    mu = s1 / n
    var = s2 / n - F.pow(mu, 2)
    skew = (s3 / n - 3 * mu * (s2 / n) + 2 * F.pow(mu, 3)) / F.pow(var, 1.5)
    kurt = (
        s4 / n - 4 * mu * (s3 / n) + 6 * F.pow(mu, 2) * (s2 / n)
        - 3 * F.pow(mu, 4)
    ) / F.pow(var, 2) - 3.0
    return m.select(
        "event_type",
        "n",
        F.round(skew, 6).alias("skew_g1"),
        F.round(kurt, 6).alias("kurt_g2"),
    )


@query(
    "agg_product_rewrite",
    # PRODUCT aggregate: Spark has no product() — the engine rewrite is
    # exp(Σ ln x) over positive inputs (compounding factors, geometric
    # means). The geometric mean drops out of the same sums for free.
    # DuckDB's native product() is deliberately NOT the oracle twin —
    # the ln-sum form is spelled identically on both engines because
    # exp/ln round-trips differ from native multiplication in the last
    # ulp. Determinism: the ln-SUM is rounded to 6 decimals BEFORE any
    # exponentiation (exp amplifies summation-order ulps), and the
    # product is emitted as MANTISSA × 10^EXP10: the raw exp() value can
    # be arbitrarily large, where a 1-ulp libm difference between
    # engines exceeds any decimal rounding (the round-9 null probe hit
    # exactly that on a new group), while the mantissa lives in [1, 10)
    # where round(6) hedges pow's last ulp — and at 100 TB the raw
    # product overflows double anyway, so mantissa/exponent is the only
    # scale-true emission. The log10 divisor is a shared literal, so the
    # division and floor are bit-identical on both engines.
    oracle="""
    WITH s AS (
      SELECT l_returnflag,
             count(*) AS n,
             round(sum(ln(1.0 + CAST(l_discount AS DECIMAL(4,2)))), 6)
               AS rs,
             round(avg(ln(1.0 + CAST(l_discount AS DECIMAL(4,2)))), 6)
               AS ra
      FROM lineitem GROUP BY l_returnflag
    )
    SELECT l_returnflag, n,
           round(pow(10, rs / 2.302585092994046
                         - floor(rs / 2.302585092994046)), 6)
             AS product_mantissa,
           CAST(floor(rs / 2.302585092994046) AS BIGINT) AS product_exp10,
           round(exp(ra), 6) AS geo_mean_factor
    FROM s
    """,
)
def agg_product_rewrite(spark, sf_dir):
    li = load(spark, sf_dir, "lineitem")
    factor = 1.0 + F.col("l_discount").cast("decimal(4,2)")
    ln10 = F.lit(2.302585092994046)
    s = li.groupBy("l_returnflag").agg(
        F.count(F.lit(1)).alias("n"),
        F.round(F.sum(F.log(factor)), 6).alias("rs"),
        F.round(F.avg(F.log(factor)), 6).alias("ra"),
    )
    lg = F.col("rs") / ln10
    return s.select(
        "l_returnflag",
        "n",
        F.round(F.pow(F.lit(10.0), lg - F.floor(lg)), 6).alias(
            "product_mantissa"
        ),
        F.floor(lg).cast("bigint").alias("product_exp10"),
        F.round(F.exp(F.col("ra")), 6).alias("geo_mean_factor"),
    )


@query(
    "agg_listagg_distinct",
    # DISTINCT ordered listagg: Spark's listagg/string_agg cannot take
    # DISTINCT with a separate order — the engine rewrite is collect_set
    # → array_sort → array_join (set semantics, deterministic order,
    # §7.3-serializable). Per-group output is bounded by the DISTINCT
    # domain (priorities: 5), so the aggregate state is tiny even when
    # groups are huge — the safe cousin of the unbounded
    # agg_string_concat_ordered.
    oracle="""
    SELECT o_custkey,
           string_agg(DISTINCT o_orderpriority, '|' ORDER BY o_orderpriority)
             AS prios,
           count(DISTINCT o_orderpriority) AS n_prios
    FROM orders GROUP BY o_custkey
    """,
)
def agg_listagg_distinct(spark, sf_dir):
    o = load(spark, sf_dir, "orders")
    return o.groupBy("o_custkey").agg(
        F.array_join(
            F.array_sort(F.collect_set("o_orderpriority")), "|"
        ).alias("prios"),
        F.countDistinct("o_orderpriority").alias("n_prios"),
    )


@query(
    "agg_profile_columns",
    # One-pass data-quality profile — the monitoring query a pipeline
    # runs on every new partition before trusting it: per column-of-
    # interest, row/null/distinct counts and value bounds, spelled as ONE
    # aggregate over one scan (not a per-column loop — at 100 TB, N
    # passes for N columns is the profiler anti-pattern). Distinct
    # counts are exact here; swap approx_count_distinct at scale, same
    # single-pass plan.
    oracle="""
    SELECT count(*) AS n_rows,
           count(l_returnflag) AS rf_non_null,
           count(DISTINCT l_returnflag) AS rf_distinct,
           count(DISTINCT l_linestatus) AS status_distinct,
           min(l_quantity) AS qty_min,
           max(l_quantity) AS qty_max,
           count(DISTINCT l_orderkey) AS key_distinct,
           CAST(sum(CASE WHEN l_quantity IS NULL THEN 1 ELSE 0 END)
                AS BIGINT) AS qty_nulls
    FROM lineitem
    """,
)
def agg_profile_columns(spark, sf_dir):
    li = load(spark, sf_dir, "lineitem")
    return li.agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.count("l_returnflag").alias("rf_non_null"),
        F.countDistinct("l_returnflag").alias("rf_distinct"),
        F.countDistinct("l_linestatus").alias("status_distinct"),
        F.min("l_quantity").alias("qty_min"),
        F.max("l_quantity").alias("qty_max"),
        F.countDistinct("l_orderkey").alias("key_distinct"),
        F.sum(
            F.when(F.col("l_quantity").isNull(), 1).otherwise(0)
        ).cast("bigint").alias("qty_nulls"),
    )


@query(
    "agg_count_distinct_multi",
    # Multi-column DISTINCT counting: distinct (key, date) combinations
    # per group plus the single-column distincts they decompose from —
    # the cardinality profile behind join-size estimation. Spark's
    # countDistinct(a, b) and DuckDB's count(DISTINCT (a, b)) agree on
    # NULL-free keys (both skip rows where any part is NULL — the
    # fixture keys are dense and non-null). One two-phase distinct
    # aggregate per measure, all sharing the group-key exchange.
    oracle="""
    SELECT o_orderstatus,
           count(DISTINCT (o_custkey, o_orderdate)) AS cust_date_combos,
           count(DISTINCT o_custkey) AS n_custs,
           count(DISTINCT o_orderdate) AS n_dates,
           count(*) AS n_rows
    FROM orders
    GROUP BY o_orderstatus
    """,
)
def agg_count_distinct_multi(spark, sf_dir):
    o = load(spark, sf_dir, "orders")
    return o.groupBy("o_orderstatus").agg(
        F.countDistinct("o_custkey", "o_orderdate").alias(
            "cust_date_combos"
        ),
        F.countDistinct("o_custkey").alias("n_custs"),
        F.countDistinct("o_orderdate").alias("n_dates"),
        F.count(F.lit(1)).alias("n_rows"),
    )


@query(
    "agg_percent_of_total",
    # Percent-of-total / percent-of-parent — the report staple: each
    # (flag, status) cell's share of its flag subtotal and of the grand
    # total. Exact decimal sums at every level; the three levels reuse
    # ONE detail aggregate (cell → flag via re-aggregation, flag →
    # grand via broadcast), so the fact table is scanned and shuffled
    # once. Shares divide exact doubles, round(6).
    oracle="""
    WITH cell AS (
      SELECT l_returnflag, l_linestatus,
             CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2))) AS DOUBLE)
               AS rev
      FROM lineitem GROUP BY l_returnflag, l_linestatus
    ),
    flag AS (
      SELECT l_returnflag, CAST(sum(rev) AS DOUBLE) AS flag_rev
      FROM cell GROUP BY l_returnflag
    ),
    total AS (SELECT CAST(sum(flag_rev) AS DOUBLE) AS t FROM flag)
    SELECT c.l_returnflag, c.l_linestatus, round(c.rev, 4) AS rev,
           round(c.rev / f.flag_rev, 6) AS pct_of_flag,
           round(c.rev / total.t, 6) AS pct_of_total
    FROM cell c JOIN flag f USING (l_returnflag) CROSS JOIN total
    """,
)
def agg_percent_of_total(spark, sf_dir):
    li, (price,) = lanes(load(spark, sf_dir, "lineitem"), "l_extendedprice")
    cell = li.groupBy("l_returnflag", "l_linestatus").agg(
        dsum(price).alias("rev")
    )
    flag = cell.groupBy("l_returnflag").agg(
        F.sum("rev").cast("double").alias("flag_rev")
    )
    total = flag.agg(F.sum("flag_rev").cast("double").alias("t"))
    return (
        cell.join(F.broadcast(flag), "l_returnflag")
        .crossJoin(F.broadcast(total))
        .select(
            "l_returnflag",
            "l_linestatus",
            F.round(F.col("rev"), 4).alias("rev"),
            r6(F.col("rev") / F.col("flag_rev")).alias("pct_of_flag"),
            r6(F.col("rev") / F.col("t")).alias("pct_of_total"),
        )
    )


@query(
    "agg_benford_digits",
    # First-significant-digit distribution of o_totalprice vs Benford's
    # law — the forensic data-quality check that flags fabricated or
    # truncated monetary columns. The digit is extracted from the exact
    # DECIMAL's string form (both engines render "1320.51" identically;
    # floor(log10(x)) would be ulp-fragile at powers of ten). Counts are
    # exact; the observed share and Benford expectation ln(1+1/d)/ln(10)
    # carry the round(6) hedge.
    oracle="""
    WITH d AS (
      SELECT CAST(substr(CAST(CAST(o_totalprice AS DECIMAL(12,2))
                              AS VARCHAR), 1, 1) AS INT) AS digit
      FROM orders WHERE o_totalprice >= 1
    ), tot AS (SELECT CAST(count(*) AS DOUBLE) AS n FROM d)
    SELECT digit, count(*) AS cnt,
           round(count(*) / max(tot.n), 6) AS observed,
           round(ln(1.0 + 1.0 / digit) / ln(10.0), 6) AS benford
    FROM d CROSS JOIN tot
    GROUP BY digit ORDER BY digit
    """,
)
def agg_benford_digits(spark, sf_dir):
    """One scan, one 9-group hash aggregate with a broadcast 1-row total
    — the shape survives any scale because the group key domain is
    fixed at nine digits."""
    d = (
        load(spark, sf_dir, "orders")
        .filter(F.col("o_totalprice") >= 1)
        .select(
            F.substring(
                F.col("o_totalprice").cast("decimal(12,2)").cast("string"),
                1,
                1,
            )
            .cast("int")
            .alias("digit")
        )
    )
    tot = d.agg(F.count("*").cast("double").alias("n"))
    return (
        d.crossJoin(F.broadcast(tot))
        .groupBy("digit")
        .agg(
            F.count("*").alias("cnt"),
            r6(F.count("*") / F.max("n")).alias("observed"),
            r6(
                F.log(F.lit(1.0) + F.lit(1.0) / F.col("digit"))
                / F.log(F.lit(10.0))
            ).alias("benford"),
        )
        .orderBy("digit")
    )


@query(
    "agg_weighted_median",
    # Exact weighted median of l_extendedprice weighted by l_quantity,
    # per return flag: the first row (in a TOTAL order: price, orderkey,
    # linenumber) whose doubled cumulative weight reaches the group
    # total. Quantities are whole-numbered so every cumulative sum is an
    # exact integer-valued double — the crossing comparison is engine-
    # identical, no percentile interpolation ambiguity.
    oracle="""
    WITH c AS (
      SELECT l_returnflag, l_extendedprice,
             SUM(l_quantity) OVER (PARTITION BY l_returnflag
               ORDER BY l_extendedprice, l_orderkey, l_linenumber
               ROWS UNBOUNDED PRECEDING) AS cw,
             SUM(l_quantity) OVER (PARTITION BY l_returnflag) AS tw
      FROM lineitem
    ), hit AS (
      SELECT l_returnflag, l_extendedprice, cw, tw,
             row_number() OVER (PARTITION BY l_returnflag ORDER BY cw)
               AS rn
      FROM c WHERE 2 * cw >= tw
    )
    SELECT l_returnflag, l_extendedprice AS weighted_median, tw AS total_w
    FROM hit WHERE rn = 1 ORDER BY l_returnflag
    """,
)
def agg_weighted_median(spark, sf_dir):
    """TWO-PHASE crossing search (round 9: the old per-flag cumulative
    window put ~a third of the fact table through one task — return flag
    has 3 values at any scale). Phase 1: range-bucket each flag's rows
    by price (broadcast per-flag min/max), sum quantities per (flag,
    bucket), exclusive-prefix over the ≤1024-row-per-flag bucket frame,
    and pick the CROSSING bucket — the first whose end-of-bucket
    cumulative weight reaches half the flag total. Phase 2: the ordered
    cumulative window runs only over that one bucket's rows (~1/1024 of
    the group), seeded with the bucket offset. Quantity sums are exact
    integer-valued doubles, so offset + local_cum equals the single-
    window cw bit-for-bit and the crossing row is identical."""
    li = load(spark, sf_dir, "lineitem").select(
        "l_returnflag", "l_extendedprice", "l_orderkey", "l_linenumber",
        "l_quantity",
    )
    b = _grouped_range_bucketed(li, "l_returnflag", "l_extendedprice")
    bt = b.groupBy("l_returnflag", "bkt").agg(
        F.sum("l_quantity").alias("tq")
    )
    wb = Window.partitionBy("l_returnflag").orderBy("bkt").rowsBetween(
        Window.unboundedPreceding, -1
    )
    off = bt.select(
        "l_returnflag", "bkt", "tq",
        F.coalesce(F.sum("tq").over(wb), F.lit(0.0)).alias("off"),
    )
    tw = bt.groupBy("l_returnflag").agg(F.sum("tq").alias("tw"))
    # crossing bucket: first whose end-of-bucket cumulative reaches tw/2
    cross = (
        _ns_bjoin(off, tw, ["l_returnflag"])
        .filter(2 * (F.col("off") + F.col("tq")) >= F.col("tw"))
        .groupBy("l_returnflag")
        .agg(
            F.min("bkt").alias("cbkt"),
            F.min_by("off", "bkt").alias("coff"),
            F.max("tw").alias("tw"),
        )
    )
    wl = Window.partitionBy("l_returnflag").orderBy(
        "l_extendedprice", "l_orderkey", "l_linenumber"
    ).rowsBetween(Window.unboundedPreceding, Window.currentRow)
    cand = (
        _ns_bjoin(b, cross, ["l_returnflag"])
        .filter(F.col("bkt") == F.col("cbkt"))
        .withColumn("cw", F.col("coff") + F.sum("l_quantity").over(wl))
        .filter(2 * F.col("cw") >= F.col("tw"))
    )
    rn = F.row_number().over(
        Window.partitionBy("l_returnflag").orderBy("cw")
    )
    return (
        cand.withColumn("rn", rn)
        .filter(F.col("rn") == 1)
        .select(
            "l_returnflag",
            F.col("l_extendedprice").alias("weighted_median"),
            F.col("tw").alias("total_w"),
        )
        .orderBy("l_returnflag")
    )


@query(
    "agg_entropy_categorical",
    # Shannon entropy (nats) of the order-priority mix per market
    # segment — the categorical drift/imbalance primitive. Shares are
    # exact integer ratios so each p·ln p term is engine-identical; only
    # the ~5-term sum order differs → round(6) hedge.
    oracle="""
    WITH c AS (
      SELECT c_mktsegment, o_orderpriority, count(*) AS cnt
      FROM orders JOIN customer ON o_custkey = c_custkey
      GROUP BY 1, 2
    ), t AS (
      SELECT c_mktsegment, CAST(sum(cnt) AS DOUBLE) AS tot FROM c
      GROUP BY 1
    )
    SELECT c.c_mktsegment,
           CAST(sum(cnt) AS BIGINT) AS n_orders,
           round(-sum((cnt / tot) * ln(cnt / tot)), 6) AS entropy_nats
    FROM c JOIN t ON c.c_mktsegment = t.c_mktsegment
    GROUP BY c.c_mktsegment ORDER BY c.c_mktsegment
    """,
)
def agg_entropy_categorical(spark, sf_dir):
    """Two stacked hash aggregates on the same segment key (the second
    reuses the first's partitioning — no extra exchange); the cell grid
    is |segments| × |priorities| = tiny at any fact-table scale."""
    c = (
        load(spark, sf_dir, "orders")
        .join(
            load(spark, sf_dir, "customer").select(
                "c_custkey", "c_mktsegment"
            ),
            F.col("o_custkey") == F.col("c_custkey"),
        )
        .groupBy("c_mktsegment", "o_orderpriority")
        .agg(F.count("*").alias("cnt"))
    )
    t = c.groupBy(F.col("c_mktsegment").alias("t_seg")).agg(
        F.sum("cnt").cast("double").alias("tot")
    )
    p = F.col("cnt") / F.col("tot")
    return (
        c.join(t, c["c_mktsegment"] == t["t_seg"])
        .groupBy("c_mktsegment")
        .agg(
            F.sum("cnt").cast("bigint").alias("n_orders"),
            r6(-F.sum(p * F.log(p))).alias("entropy_nats"),
        )
        .orderBy("c_mktsegment")
    )


@query(
    "agg_gini_concentration",
    # Gini coefficient of customer spend per market segment — the
    # revenue-concentration governance metric. Exact decimal spend sums;
    # rank-weighted sum via G = (2·Σ i·sᵢ − (n+1)·Σ sᵢ) / (n·Σ sᵢ) over
    # the (spend, custkey) total order, everything decimal-exact until
    # the one final division.
    oracle="""
    WITH s AS (
      SELECT c_mktsegment, o_custkey,
             sum(CAST(o_totalprice AS DECIMAL(12,2))) AS spend
      FROM orders JOIN customer ON c_custkey = o_custkey
      GROUP BY 1, 2
    ), r AS (
      SELECT c_mktsegment, spend,
             row_number() OVER (PARTITION BY c_mktsegment
               ORDER BY spend, o_custkey) AS i
      FROM s
    )
    SELECT c_mktsegment,
           CAST(count(*) AS BIGINT) AS n_cust,
           round((2.0 * CAST(sum(i * spend) AS DOUBLE)
                  - (count(*) + 1) * CAST(sum(spend) AS DOUBLE))
                 / (count(*) * CAST(sum(spend) AS DOUBLE)), 6) AS gini
    FROM r GROUP BY c_mktsegment ORDER BY c_mktsegment
    """,
)
def agg_gini_concentration(spark, sf_dir):
    """TWO-PHASE rank (round 9: segments are 5 values at any scale, so a
    per-segment rank window over the customer dimension is 1/5 of all
    customers through one task). Per-(segment, spend-bucket) row counts
    are exclusive-prefix-summed over the ≤1024-row-per-segment bucket
    frame and broadcast; the global rank i = bucket count offset +
    per-bucket local row_number in the same (spend, custkey) total order
    — identical integers, so every i·spend term matches the single-
    window spelling exactly. Spend aggregation itself is the usual
    map-side-partial hash agg on the customer key."""
    oc, (price,) = lanes(
        load(spark, sf_dir, "orders").join(
            load(spark, sf_dir, "customer").select(
                "c_custkey", "c_mktsegment"
            ),
            F.col("o_custkey") == F.col("c_custkey"),
        ),
        "o_totalprice",
    )
    s = oc.groupBy("c_mktsegment", "o_custkey").agg(
        exact_sum(price).alias("spend")
    )
    b = _grouped_range_bucketed(
        s.withColumn("spend_d", F.col("spend").cast("double")),
        "c_mktsegment", "spend_d",
    )
    wb = Window.partitionBy("c_mktsegment").orderBy("bkt").rowsBetween(
        Window.unboundedPreceding, -1
    )
    offsets = (
        b.groupBy("c_mktsegment", "bkt")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .select(
            "c_mktsegment", "bkt",
            F.coalesce(F.sum("cnt").over(wb), F.lit(0)).alias("off_cnt"),
        )
    )
    wl = Window.partitionBy("c_mktsegment", "bkt").orderBy(
        "spend", "o_custkey"
    )
    r = _ns_bjoin(b, offsets, ["c_mktsegment", "bkt"]).withColumn(
        "i", F.col("off_cnt") + F.row_number().over(wl)
    )
    n = F.count("*")
    tot = F.sum("spend").cast("double")
    return (
        r.groupBy("c_mktsegment")
        .agg(
            n.cast("bigint").alias("n_cust"),
            r6(
                (
                    2.0 * F.sum(F.col("i") * F.col("spend")).cast("double")
                    - (n + 1) * tot
                )
                / (n * tot)
            ).alias("gini"),
        )
        .orderBy("c_mktsegment")
    )


@query(
    "agg_hll_from_scratch",
    # HyperLogLog built from relational primitives — unlike the engine
    # sketches (agg_approx_count_distinct, rows-only by necessity), this
    # one is HASH-EXACT across engines: md5 is bit-identical, the
    # 40-bit hash splits into an 8-bit bucket and a 32-bit suffix with
    # integer-only arithmetic, rho is a binary-string length (no log2),
    # registers are exact integer maxima, and Σ2⁻ᴹ over 256 registers
    # spans ≤41 dyadic bits — exact in double in ANY summation order.
    # Flajolet's alpha and the small-range ln(m/V) correction are the
    # only libm touches → round(6) on the estimate columns.
    oracle="""
    WITH h AS (
      SELECT event_type,
             CAST(('0x' || substr(md5(CAST(user_id AS VARCHAR)), 1, 10))
                  AS BIGINT) AS v
      FROM events
    ), b AS (
      SELECT event_type, v // 4294967296 AS bucket,
             v % 4294967296 AS w
      FROM h
    ), regs AS (
      SELECT event_type, bucket,
             max(CASE WHEN w = 0 THEN 33
                      ELSE 33 - length(bin(w)) END) AS m
      FROM b GROUP BY 1, 2
    ), z AS (
      SELECT event_type,
             sum(power(2.0, -m)) + (256 - count(*)) AS zz,
             256 - count(*) AS v_empty
      FROM regs GROUP BY 1
    ), est AS (
      SELECT event_type,
             CASE WHEN (0.7213 / (1.0 + 1.079 / 256)) * 256 * 256 / zz
                       <= 640.0 AND v_empty > 0
                  THEN 256.0 * ln(256.0 / v_empty)
                  ELSE (0.7213 / (1.0 + 1.079 / 256)) * 256 * 256 / zz
             END AS e
      FROM z
    ), exact AS (
      SELECT event_type, count(DISTINCT user_id) AS n_exact FROM events
      GROUP BY 1
    )
    SELECT est.event_type, n_exact,
           round(e, 6) AS hll_estimate,
           round((e - n_exact) / n_exact, 6) AS rel_err
    FROM est JOIN exact ON est.event_type = exact.event_type
    ORDER BY est.event_type
    """,
)
def agg_hll_from_scratch(spark, sf_dir):
    """The scale story IS HyperLogLog's: register state is a constant
    256 rows per group key regardless of input size, the register max
    combines map-side, and merging shards = elementwise max — the
    distributed sketch contract, here expressed as a plain groupBy so
    every piece is visible to Catalyst. (Production path:
    approx_count_distinct — same algorithm fused in the JVM.)"""
    B = 4294967296  # 2^32 (8-bit bucket, 32-bit suffix: p=256 registers)
    ev = load(spark, sf_dir, "events").select(
        "event_type",
        F.conv(
            F.substring(F.md5(F.col("user_id").cast("string")), 1, 10),
            16,
            10,
        )
        .cast("bigint")
        .alias("v"),
    )
    b = ev.select(
        "event_type",
        ((F.col("v") - F.col("v") % B) / B).cast("bigint").alias("bucket"),
        (F.col("v") % B).alias("w"),
    )
    rho = F.when(F.col("w") == 0, 33).otherwise(
        33 - F.length(F.bin(F.col("w")))
    )
    regs = b.groupBy("event_type", "bucket").agg(F.max(rho).alias("m"))
    z = regs.groupBy("event_type").agg(
        (F.sum(F.pow(F.lit(2.0), -F.col("m"))) + (256 - F.count("*"))).alias(
            "zz"
        ),
        (256 - F.count("*")).alias("v_empty"),
    )
    e_raw = (0.7213 / (1.0 + 1.079 / 256)) * 256 * 256 / F.col("zz")
    e = F.when(
        (e_raw <= 640.0) & (F.col("v_empty") > 0),
        256.0 * F.log(256.0 / F.col("v_empty")),
    ).otherwise(e_raw)
    exact = (
        load(spark, sf_dir, "events")
        .groupBy(F.col("event_type").alias("x_type"))
        .agg(F.countDistinct("user_id").alias("n_exact"))
    )
    return (
        z.select("event_type", e.alias("e"))
        .join(exact, F.col("event_type") == F.col("x_type"))
        .select(
            "event_type",
            "n_exact",
            F.round(F.col("e"), 6).alias("hll_estimate"),
            F.round((F.col("e") - F.col("n_exact")) / F.col("n_exact"), 6)
            .alias("rel_err"),
        )
        .orderBy("event_type")
    )


@query(
    "agg_countmin_sketch",
    # Count-min sketch (d=4 rows × w=256 columns) over document tokens,
    # built from relational primitives and — like agg_hll_from_scratch —
    # HASH-EXACT across engines: the 4 salted md5 cell hashes are
    # bit-identical, every sketch cell is an exact integer sum, and the
    # point estimate is an integer min. Emits the top-20 tokens with
    # exact count, CM estimate, and the (always ≥0) collision
    # overcount — the sketch's error made visible.
    oracle="""
    WITH toks AS (
      SELECT unnest(string_split(text, ' ')) AS tok FROM documents
    ), freq AS (
      SELECT tok, count(*) AS cnt FROM toks GROUP BY tok
    ), cells AS (
      SELECT tok, cnt, i,
             CAST(('0x' || substr(md5(CAST(i AS VARCHAR) || ':' || tok),
                                  1, 8)) AS BIGINT) % 256 AS cell
      FROM freq CROSS JOIN (SELECT unnest(generate_series(0, 3)) AS i)
    ), sketch AS (
      SELECT i, cell, CAST(sum(cnt) AS BIGINT) AS total
      FROM cells GROUP BY 1, 2
    ), top AS (
      SELECT tok, cnt FROM freq ORDER BY cnt DESC, tok LIMIT 20
    )
    SELECT top.tok AS tok, top.cnt AS exact_cnt,
           CAST(min(sketch.total) AS BIGINT) AS cm_estimate,
           CAST(min(sketch.total) - top.cnt AS BIGINT) AS overcount
    FROM top
    JOIN cells ON cells.tok = top.tok
    JOIN sketch ON sketch.i = cells.i AND sketch.cell = cells.cell
    GROUP BY top.tok, top.cnt
    ORDER BY exact_cnt DESC, top.tok
    """,
)
def agg_countmin_sketch(spark, sf_dir):
    """The sketch is CONSTANT state (4×256 integer cells) built with one
    map-side-combined aggregate over the token frequency table; point
    queries join the 4 cells back and take an integer min. Merging
    shards = cellwise add — the same distributed-sketch contract as the
    HLL key, with zero float anywhere."""
    toks = (
        load(spark, sf_dir, "documents")
        .select(F.explode(F.split("text", " ")).alias("tok"))
    )
    freq = toks.groupBy("tok").agg(F.count("*").alias("cnt"))
    rows = F.explode(F.array(*[F.lit(i) for i in range(4)])).alias("i")
    cells = freq.select("tok", "cnt", rows).select(
        "tok",
        "cnt",
        "i",
        (
            F.conv(
                F.substring(
                    F.md5(
                        F.concat(
                            F.col("i").cast("string"),
                            F.lit(":"),
                            F.col("tok"),
                        )
                    ),
                    1,
                    8,
                ),
                16,
                10,
            ).cast("bigint")
            % 256
        ).alias("cell"),
    )
    sketch = (
        cells.groupBy("i", "cell")
        .agg(F.sum("cnt").cast("bigint").alias("total"))
        .withColumnRenamed("i", "s_i")
        .withColumnRenamed("cell", "s_cell")
    )
    top = freq.orderBy(F.col("cnt").desc(), "tok").limit(20)
    return (
        top.join(cells.select("tok", "i", "cell"), "tok")
        .join(
            sketch,
            (F.col("i") == F.col("s_i")) & (F.col("cell") == F.col("s_cell")),
        )
        .groupBy("tok", "cnt")
        .agg(F.min("total").cast("bigint").alias("cm_estimate"))
        .select(
            "tok",
            F.col("cnt").alias("exact_cnt"),
            "cm_estimate",
            (F.col("cm_estimate") - F.col("cnt"))
            .cast("bigint")
            .alias("overcount"),
        )
        .orderBy(F.col("exact_cnt").desc(), "tok")
    )


@query(
    "agg_bloom_from_scratch",
    # Bloom filter from relational primitives, third of the hash-exact
    # sketch trio: k=3 salted md5 hashes into m=4096 bits. Build over
    # BUILDING-segment customer keys, probe with MACHINERY-segment keys,
    # and count true/false positives against the exact answer — the
    # sketch's false-positive behavior measured inside the query, all
    # in exact integers. TEXTBOOK membership (round-9 ground-truth
    # fix): a probe is positive iff EVERY one of its own DISTINCT bits
    # is set — a key whose 3 hashes collide into 2 bits is positive
    # when both are set. The earlier count(DISTINCT bit) = 3 spelling
    # wrongly rejected such keys on BOTH engines (a twin defect,
    # invisible to oracle parity; 1 probe key diverges at sf0.1).
    oracle="""
    WITH build AS (
      SELECT c_custkey FROM customer WHERE c_mktsegment = 'BUILDING'
    ), probe AS (
      SELECT c_custkey FROM customer WHERE c_mktsegment = 'MACHINERY'
    ), bits AS (
      SELECT DISTINCT
             CAST(('0x' || substr(md5(CAST(i AS VARCHAR) || ':'
                                      || CAST(c_custkey AS VARCHAR)),
                                  1, 8)) AS BIGINT) % 4096 AS bit
      FROM build CROSS JOIN (SELECT unnest(generate_series(0, 2)) AS i)
    ), pcells AS (
      SELECT DISTINCT c_custkey,
             CAST(('0x' || substr(md5(CAST(i AS VARCHAR) || ':'
                                      || CAST(c_custkey AS VARCHAR)),
                                  1, 8)) AS BIGINT) % 4096 AS bit
      FROM probe CROSS JOIN (SELECT unnest(generate_series(0, 2)) AS i)
    ), hits AS (
      SELECT p.c_custkey FROM pcells p LEFT JOIN bits b ON p.bit = b.bit
      GROUP BY p.c_custkey HAVING count(*) = count(b.bit)
    )
    SELECT (SELECT count(*) FROM build) AS n_build,
           (SELECT count(*) FROM probe) AS n_probe,
           (SELECT count(*) FROM bits) AS bits_set,
           (SELECT count(*) FROM hits) AS bloom_positives
    """,
)
def agg_bloom_from_scratch(spark, sf_dir):
    """The filter is a 4096-row DISTINCT bit set (constant state,
    broadcastable); probing is a broadcast LEFT join on the bit id + an
    every-own-bit-matched HAVING — the relational spelling of what
    join_runtime_bloom_filter's engine-injected filter does natively.
    Probe keys are disjoint from build keys by construction (segments
    partition customers), so every positive is a measured false
    positive."""
    cust = load(spark, sf_dir, "customer").select(
        "c_custkey", "c_mktsegment"
    )

    def cells(df):
        i = F.explode(F.array(*[F.lit(x) for x in range(3)])).alias("i")
        c = df.select("c_custkey", i)
        return c.select(
            "c_custkey",
            (
                F.conv(
                    F.substring(
                        F.md5(
                            F.concat(
                                F.col("i").cast("string"),
                                F.lit(":"),
                                F.col("c_custkey").cast("string"),
                            )
                        ),
                        1,
                        8,
                    ),
                    16,
                    10,
                ).cast("bigint")
                % 4096
            ).alias("bit"),
        )

    build = cust.filter(F.col("c_mktsegment") == "BUILDING").select(
        "c_custkey"
    )
    probe = cust.filter(F.col("c_mktsegment") == "MACHINERY").select(
        "c_custkey"
    )
    bits = cells(build).select("bit").distinct()
    hits = (
        cells(probe)
        .distinct()
        .join(F.broadcast(bits.withColumn("hit", F.lit(1))), "bit", "left")
        .groupBy("c_custkey")
        .agg(
            F.count(F.lit(1)).alias("n_own"),
            F.sum(F.coalesce("hit", F.lit(0))).alias("n_hit"),
        )
        .filter(F.col("n_own") == F.col("n_hit"))
    )
    nb = build.agg(F.count("*").alias("n_build"))
    np_ = probe.agg(F.count("*").alias("n_probe"))
    bs = bits.agg(F.count("*").alias("bits_set"))
    bp = hits.agg(F.count("*").alias("bloom_positives"))
    return nb.crossJoin(np_).crossJoin(bs).crossJoin(bp)


@query(
    "agg_ks_statistic",
    # Two-sample Kolmogorov-Smirnov distance between the value
    # distributions of 'click' and 'purchase' events: D = max over the
    # merged support of |F₁(v) − F₂(v)|. Counts are exact integers and
    # each ECDF value is one exact division, so D is engine-identical
    # up to the final round(6). The merged support is NOT assumed
    # bounded (it grows with volume at sf0.01→0.1), so the cumulative
    # sums are TWO-PHASE: range-bucket the support, exclusive-prefix the
    # per-bucket totals over the ≤1024-row bucket frame, broadcast, then
    # per-bucket local cumsums — no partition-less window ever sees the
    # support itself.
    oracle="""
    WITH a AS (SELECT value FROM events
               WHERE event_type = 'click' AND value IS NOT NULL),
    b AS (SELECT value FROM events
          WHERE event_type = 'purchase' AND value IS NOT NULL),
    pts AS (
      SELECT value,
             CAST(count(CASE WHEN src = 'a' THEN 1 END) AS BIGINT) AS ca,
             CAST(count(CASE WHEN src = 'b' THEN 1 END) AS BIGINT) AS cb
      FROM (SELECT value, 'a' AS src FROM a
            UNION ALL SELECT value, 'b' FROM b)
      GROUP BY value
    ), cdf AS (
      SELECT value,
             SUM(ca) OVER (ORDER BY value ROWS UNBOUNDED PRECEDING)
               / (SELECT CAST(count(*) AS DOUBLE) FROM a) AS f1,
             SUM(cb) OVER (ORDER BY value ROWS UNBOUNDED PRECEDING)
               / (SELECT CAST(count(*) AS DOUBLE) FROM b) AS f2
      FROM pts
    )
    SELECT (SELECT CAST(count(*) AS BIGINT) FROM a) AS n_a,
           (SELECT CAST(count(*) AS BIGINT) FROM b) AS n_b,
           round(max(abs(f1 - f2)), 6) AS ks_d
    FROM cdf
    """,
)
def agg_ks_statistic(spark, sf_dir):
    """One grouped count onto the merged support, then the TWO-PHASE
    cumulative sum (round 9, the distributed-prefix-sum pattern shared
    with sort_global_range_partitioned): per-bucket integer totals →
    exclusive prefix over the bounded bucket frame (broadcast) → local
    per-bucket cumsum, so the running F₁/F₂ never funnel the support
    through one task. Integer count sums are associative and exact, so
    bucket_offset + local_cum equals the single-window cumsum bit-for-
    bit and the oracle's plain window spelling is unchanged."""
    from pyspark.sql import Window

    # An ECDF is defined over OBSERVED values: a NULL measurement is not
    # a support point (round-10 ADVICE — a NULL would land in the top
    # _range_bucketed bucket with engine-divergent null sort order and
    # inflate every cumulative count above it).
    ev = (
        load(spark, sf_dir, "events")
        .select("event_type", "value")
        .filter(F.col("value").isNotNull())
    )
    a = ev.filter(F.col("event_type") == "click")
    b = ev.filter(F.col("event_type") == "purchase")
    merged = a.select("value", F.lit("a").alias("src")).unionAll(
        b.select("value", F.lit("b").alias("src"))
    )
    pts = merged.groupBy("value").agg(
        F.count(F.when(F.col("src") == "a", 1)).alias("ca"),
        F.count(F.when(F.col("src") == "b", 1)).alias("cb"),
    )
    na = a.agg(F.count("*").alias("n_a"))
    nb = b.agg(F.count("*").alias("n_b"))
    bucketed = _range_bucketed(pts, "value")
    # phase 1: per-bucket totals, exclusive-prefix-summed over the
    # ≤_SKYLINE_GRID-row bucket frame (the only partition-less window)
    wb = Window.orderBy("bkt").rowsBetween(Window.unboundedPreceding, -1)
    offsets = (
        bucketed.groupBy("bkt")
        .agg(F.sum("ca").alias("ta"), F.sum("cb").alias("tb"))
        .select(
            "bkt",
            F.coalesce(F.sum("ta").over(wb), F.lit(0)).alias("off_a"),
            F.coalesce(F.sum("tb").over(wb), F.lit(0)).alias("off_b"),
        )
    )
    # phase 2: local cumsum within each bucket + broadcast offset
    wl = Window.partitionBy("bkt").orderBy("value").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    cdf = (
        bucketed.join(F.broadcast(offsets), "bkt")
        .crossJoin(F.broadcast(na))
        .crossJoin(F.broadcast(nb))
        .select(
            (
                (F.col("off_a") + F.sum("ca").over(wl))
                / F.col("n_a").cast("double")
                - (F.col("off_b") + F.sum("cb").over(wl))
                / F.col("n_b").cast("double")
            ).alias("d"),
        )
    )
    # GLOBAL final agg (not grouped on the carried scalars): over zero
    # input rows a grouped agg emits nothing while the oracle's scalar
    # subqueries emit one NULL row — the 1-row frames are joined after.
    ks = cdf.agg(r6(F.max(F.abs(F.col("d")))).alias("ks_d"))
    return na.crossJoin(F.broadcast(nb)).crossJoin(F.broadcast(ks))


@query(
    "agg_chi_square",
    # Chi-square test of independence on the (event_type × ISO weekday)
    # contingency table: χ² = Σ (observed − expected)² / expected with
    # expected = row·col/total. Observed counts and the margin products
    # are exact integers; each cell term is built from identical doubles
    # on both engines and the 35-term sum carries the round(6) hedge.
    # Degrees of freedom emitted as exact integers.
    oracle="""
    WITH o AS (
      SELECT event_type, CAST(isodow(ts) AS INT) AS dow,
             CAST(count(*) AS BIGINT) AS obs
      FROM events GROUP BY 1, 2
    ), m AS (
      SELECT event_type, CAST(sum(obs) AS BIGINT) AS rt FROM o GROUP BY 1
    ), c AS (
      SELECT dow, CAST(sum(obs) AS BIGINT) AS ct FROM o GROUP BY 1
    ), t AS (SELECT CAST(sum(obs) AS DOUBLE) AS total FROM o)
    SELECT CAST((SELECT count(*) FROM m) AS BIGINT) AS n_rows,
           CAST((SELECT count(*) FROM c) AS BIGINT) AS n_cols,
           CAST(((SELECT count(*) FROM m) - 1)
                * ((SELECT count(*) FROM c) - 1) AS BIGINT) AS dof,
           round(sum(power(obs - rt * ct / total, 2)
                     / (rt * ct / total)), 6) AS chi2
    FROM o
    JOIN m USING (event_type)
    JOIN c USING (dow)
    CROSS JOIN t
    """,
)
def agg_chi_square(spark, sf_dir):
    """Three stacked aggregates over a 5×7 contingency grid — the
    per-event work is one map-side count; margins and the total are
    grid-sized broadcasts. Constant state at any event volume."""
    o = (
        load(spark, sf_dir, "events")
        .groupBy(
            "event_type", (F.weekday("ts") + 1).cast("int").alias("dow")
        )
        .agg(F.count("*").cast("bigint").alias("obs"))
    )
    m = o.groupBy(F.col("event_type").alias("m_type")).agg(
        F.sum("obs").cast("bigint").alias("rt")
    )
    c = o.groupBy(F.col("dow").alias("c_dow")).agg(
        F.sum("obs").cast("bigint").alias("ct")
    )
    t = o.agg(F.sum("obs").cast("double").alias("total"))
    nr = m.agg(F.count("*").cast("bigint").alias("n_rows"))
    nc = c.agg(F.count("*").cast("bigint").alias("n_cols"))
    exp = F.col("rt") * F.col("ct") / F.col("total")
    # GLOBAL cell-term sum (1 row even over an empty table — the oracle's
    # scalar-subquery spelling also emits one row there), then the 1-row
    # margin-count frames join on after.
    chi = (
        o.join(F.broadcast(m), F.col("event_type") == F.col("m_type"))
        .join(F.broadcast(c), F.col("dow") == F.col("c_dow"))
        .crossJoin(F.broadcast(t))
        .agg(r6(F.sum(F.pow(F.col("obs") - exp, 2) / exp)).alias("chi2"))
    )
    return (
        nr.crossJoin(F.broadcast(nc))
        .crossJoin(F.broadcast(chi))
        .select(
            "n_rows",
            "n_cols",
            ((F.col("n_rows") - 1) * (F.col("n_cols") - 1))
            .cast("bigint")
            .alias("dof"),
            "chi2",
        )
    )


@query(
    "agg_welch_ttest",
    # Welch's unequal-variance t-test between click and purchase event
    # values: t statistic and Welch–Satterthwaite degrees of freedom,
    # all derived from exact decimal moments (Σx, Σx² over 2-decimal
    # values are order-independent), so every division/sqrt input is
    # engine-identical — round(6) only on the emitted statistics.
    oracle="""
    WITH s AS (
      SELECT event_type, CAST(count(*) AS DOUBLE) AS n,
             CAST(sum(CAST(value AS DECIMAL(12,2))) AS DOUBLE) AS sx,
             CAST(sum(CAST(value AS DECIMAL(12,2))
                      * CAST(value AS DECIMAL(12,2))) AS DOUBLE) AS sxx
      FROM events WHERE event_type IN ('click', 'purchase')
      GROUP BY event_type
    ), w AS (
      SELECT
        (SELECT sx / n FROM s WHERE event_type = 'click')
          - (SELECT sx / n FROM s WHERE event_type = 'purchase') AS dmean,
        (SELECT ((sxx - sx * sx / n) / (n - 1)) / n FROM s
         WHERE event_type = 'click') AS va,
        (SELECT ((sxx - sx * sx / n) / (n - 1)) / n FROM s
         WHERE event_type = 'purchase') AS vb,
        (SELECT n FROM s WHERE event_type = 'click') AS na,
        (SELECT n FROM s WHERE event_type = 'purchase') AS nb
    )
    SELECT CAST(na AS BIGINT) AS n_a, CAST(nb AS BIGINT) AS n_b,
           round(dmean / sqrt(va + vb), 6) AS t_stat,
           round(power(va + vb, 2)
                 / (power(va, 2) / (na - 1) + power(vb, 2) / (nb - 1)),
                 6) AS welch_dof
    FROM w
    """,
)
def agg_welch_ttest(spark, sf_dir):
    """One 2-group moment aggregate (map-side combined), then scalar
    arithmetic on a 1-row frame — the A/B significance primitive at
    any event volume."""
    dv = F.col("value").cast("decimal(12,2)")
    s = (
        load(spark, sf_dir, "events")
        .filter(F.col("event_type").isin("click", "purchase"))
        .groupBy("event_type")
        .agg(
            F.count("*").cast("double").alias("n"),
            F.sum(dv).cast("double").alias("sx"),
            F.sum(dv * dv).cast("double").alias("sxx"),
        )
    )
    var_over_n = ((F.col("sxx") - F.col("sx") * F.col("sx") / F.col("n"))
                  / (F.col("n") - 1)) / F.col("n")
    a = s.filter(F.col("event_type") == "click").select(
        F.col("n").alias("na"),
        (F.col("sx") / F.col("n")).alias("ma"),
        var_over_n.alias("va"),
    )
    b = s.filter(F.col("event_type") == "purchase").select(
        F.col("n").alias("nb"),
        (F.col("sx") / F.col("n")).alias("mb"),
        var_over_n.alias("vb"),
    )
    # anchor row + constant-key left joins: both moment frames are ≤1 row
    # (one filtered group each), and a missing group must surface as one
    # NULL row — the oracle's scalar subqueries do — not as zero rows
    # (a.crossJoin(b) vanishes when either side is empty).
    one = spark.range(1).select(F.lit(1).alias("jk"))
    ab = one.join(
        F.broadcast(a.withColumn("jk", F.lit(1))), "jk", "left"
    ).join(F.broadcast(b.withColumn("jk", F.lit(1))), "jk", "left")
    return ab.select(
        F.col("na").cast("bigint").alias("n_a"),
        F.col("nb").cast("bigint").alias("n_b"),
        r6(
            (F.col("ma") - F.col("mb"))
            / F.sqrt(F.col("va") + F.col("vb"))
        ).alias("t_stat"),
        r6(
            F.pow(F.col("va") + F.col("vb"), 2)
            / (
                F.pow(F.col("va"), 2) / (F.col("na") - 1)
                + F.pow(F.col("vb"), 2) / (F.col("nb") - 1)
            )
        ).alias("welch_dof"),
    )


@query(
    "agg_skyline_pareto",
    # 2-D skyline (Pareto front): orders not dominated on
    # (o_totalprice, o_orderdate) — dominated means another order is ≥
    # in both dimensions and strictly greater in at least one. The
    # scalable spelling is ONE sort, not the O(n²) dominance join: over
    # DISTINCT (price, date) pairs ordered (price desc, date desc), a
    # pair is on the front iff its date strictly exceeds the running max
    # date of all earlier pairs — every earlier pair has ≥ price, so a
    # non-greater date there means domination. Exact doubles + exact
    # timestamps → engine-identical front.
    oracle="""
    WITH pts AS (
      SELECT o_totalprice AS price, epoch_us(o_orderdate) AS d,
             count(*) AS n_orders
      FROM orders GROUP BY 1, 2
    ), s AS (
      SELECT price, d, n_orders,
             max(d) OVER (ORDER BY price DESC, d DESC
                          ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
               AS prev_max_d
      FROM pts
    )
    SELECT price, CAST(d AS BIGINT) AS order_date_us,
           CAST(n_orders AS BIGINT) AS n_orders
    FROM s WHERE prev_max_d IS NULL OR d > prev_max_d
    ORDER BY price DESC
    """,
)
def agg_skyline_pareto(spark, sf_dir):
    """Skyline via grid pre-prune + sort (VERDICT r8 item 1: the bare
    partition-less window funneled the near-unique (price, date) grid
    through ONE task). Distributed plan: (1) duplicate-collapsing groupBy
    → distinct (price, d) points; (2) bucket price into ``_SKYLINE_GRID``
    cells via a broadcast min/max; (3) per-cell max d, suffix-maxed over
    HIGHER price cells (a window over ≤grid rows — bounded state); (4)
    broadcast that ~KB frame back and keep only points whose d exceeds
    every higher cell's max d. Pruned points are provably dominated (any
    higher-cell point has strictly greater price), so the survivor set —
    the Pareto band, ~front-sized — contains the exact skyline, and only
    IT flows through the final partition-less window. Exactness proof in
    comments; tests/test_plans.py::test_skyline_prunes_before_global_window
    pins the shape."""
    from pyspark.sql import Window

    from naqed_spark.queries._util import epoch_us

    pts = (
        load(spark, sf_dir, "orders")
        .groupBy(
            F.col("o_totalprice").alias("price"),
            epoch_us("o_orderdate").alias("d"),
        )
        .agg(F.count("*").alias("n_orders"))
    )
    survivors = _skyline_band(pts)
    # exact skyline over the band: a point is on the front iff its d
    # strictly exceeds the running max d of all (price desc, d desc)-earlier
    # points. Dominated points were pruned by a dominator that survives
    # (dominance is a strict partial order → maximal elements survive), so
    # the band's skyline == the full skyline.
    w = Window.orderBy(F.col("price").desc(), F.col("d").desc()).rowsBetween(
        Window.unboundedPreceding, -1
    )
    return (
        survivors.withColumn("prev_max_d", F.max("d").over(w))
        .filter(
            F.col("prev_max_d").isNull() | (F.col("d") > F.col("prev_max_d"))
        )
        .select(
            "price",
            F.col("d").cast("bigint").alias("order_date_us"),
            F.col("n_orders").cast("bigint").alias("n_orders"),
        )
        .orderBy(F.col("price").desc())
    )


_SKYLINE_GRID = 1024


def _range_bucketed(df, col, n=_SKYLINE_GRID):
    """Assign a monotone range bucket to ``col`` via a broadcast min/max:
    floor of an affine map, so bucket(v') < bucket(v) ⇒ v' < v whatever
    float rounding does to the boundaries — the ordering precondition
    both for the skyline's dominance pre-prune and for two-phase
    distributed prefix sums (bucket offsets + local cumsum).

    Deliberately NOT persisted (r16 measured negative): the inputs here
    are cheap scan/join subtrees, and materializing them into the cache
    cost more than the recompute on every caller (ks 0.91→1.50 s,
    skyline 0.60→1.09 s warm noop with a persist in this helper)."""
    rng = df.agg(F.min(col).alias("_lo"), F.max(col).alias("_hi"))
    return (
        df.crossJoin(F.broadcast(rng))
        .withColumn(
            "bkt",
            F.when(F.col("_hi") == F.col("_lo"), F.lit(0)).otherwise(
                F.least(
                    F.lit(n - 1),
                    F.floor(
                        (F.col(col) - F.col("_lo"))
                        / ((F.col("_hi") - F.col("_lo")) / n)
                    ).cast("int"),
                )
            ),
        )
        .drop("_lo", "_hi")
    )


def _ns_bjoin(left, right, keys, how="inner"):
    """Null-safe broadcast equi-join on ``keys`` (NULL matches NULL, like
    SQL's ``<=>``), emitting the key columns once from the left side.

    The two-phase pattern joins per-group frames (min/max ranges, bucket
    offsets, thresholds) back onto the data on the GROUP columns — and a
    plain equi-join silently DROPS null-keyed groups, while GROUP BY /
    PARTITION BY treat NULL as a regular group in both engines (the
    round-9 null-fixture probe caught exactly this). EqualNullSafe is
    still a hash-joinable key, so the plan stays a BroadcastHashJoin."""
    r2 = right
    for k in keys:
        r2 = r2.withColumnRenamed(k, "_ns_" + k)
    cond = None
    for k in keys:
        c = left[k].eqNullSafe(r2["_ns_" + k])
        cond = c if cond is None else (cond & c)
    return left.join(F.broadcast(r2), cond, how).drop(
        *["_ns_" + k for k in keys]
    )


def _grouped_range_bucketed(df, group_col, col, n=_SKYLINE_GRID):
    """Per-group variant of ``_range_bucketed``: bucket ``col`` within
    each ``group_col`` value (a column name or list of names — composite
    group keys bucket within each combination) against that group's own
    broadcast min/max — the phase-1 step for per-group two-phase prefix
    sums / rank / k-th selection (Gini rank, weighted-median crossing,
    quartile fences, two-phase row_number). Null-safe on the group keys:
    a NULL group is a group (matches GROUP BY semantics), not a dropped
    row. Not persisted — same r16 negative measurement as
    ``_range_bucketed``."""
    gcols = [group_col] if isinstance(group_col, str) else list(group_col)
    rng = df.groupBy(*gcols).agg(
        F.min(col).alias("_lo"), F.max(col).alias("_hi")
    )
    return (
        _ns_bjoin(df, rng, gcols)
        .withColumn(
            "bkt",
            F.when(F.col("_hi") == F.col("_lo"), F.lit(0)).otherwise(
                F.least(
                    F.lit(n - 1),
                    F.floor(
                        (F.col(col) - F.col("_lo"))
                        / ((F.col("_hi") - F.col("_lo")) / n)
                    ).cast("int"),
                )
            ),
        )
        .drop("_lo", "_hi")
    )


def _skyline_band(pts):
    """Grid pre-prune for the 2-D skyline: drop every point dominated by a
    strictly-higher price bucket's max d. Bucketing is monotone in price
    (``_range_bucketed``), so any point in a higher bucket with d' ≥ d
    dominates (p, d). Survivors keep the whole Pareto band; the exact
    window runs on them only."""
    from pyspark.sql import Window

    bucketed = _range_bucketed(pts, "price")
    cell_max = bucketed.groupBy("bkt").agg(F.max("d").alias("cell_max_d"))
    # max d over all STRICTLY higher buckets: suffix max on ≤_SKYLINE_GRID
    # rows — the only partition-less window, bounded by the grid size.
    wb = Window.orderBy(F.col("bkt").desc()).rowsBetween(
        Window.unboundedPreceding, -1
    )
    dominator = cell_max.select(
        "bkt", F.max("cell_max_d").over(wb).alias("higher_max_d")
    )
    return (
        bucketed.join(F.broadcast(dominator), "bkt")
        .filter(
            F.col("higher_max_d").isNull()
            | (F.col("d") > F.col("higher_max_d"))
        )
        .select("price", "d", "n_orders")
    )


@query(
    "agg_abc_classification",
    # ABC/Pareto inventory classification: parts ranked by revenue,
    # class A = the head covering ≤80% of cumulative revenue, B to 95%,
    # C the tail. Exact decimal revenue sums; the cumulative share uses
    # the part's EXCLUSIVE prefix (standard ABC: a part belongs to the
    # class its cumulative share ENTERS) with (revenue desc, partkey)
    # total order. Emits the per-class rollup.
    oracle="""
    WITH r AS (
      SELECT l_partkey,
             sum(CAST(l_extendedprice AS DECIMAL(12,2))
                 * (1 - CAST(l_discount AS DECIMAL(4,2)))) AS rev_dec
      FROM lineitem GROUP BY 1
    ), t AS (SELECT CAST(sum(rev_dec) AS DOUBLE) AS total FROM r),
    c AS (
      SELECT l_partkey, CAST(rev_dec AS DOUBLE) AS rev, total,
             CAST(coalesce(sum(rev_dec) OVER (ORDER BY rev_dec DESC,
                    l_partkey ROWS BETWEEN UNBOUNDED PRECEDING
                    AND 1 PRECEDING), 0) AS DOUBLE) / total AS cum_before
      FROM r CROSS JOIN t
    ), cls AS (
      SELECT CASE WHEN cum_before < 0.80 THEN 'A'
                  WHEN cum_before < 0.95 THEN 'B' ELSE 'C' END AS abc,
             rev, total
      FROM c
    )
    SELECT abc, CAST(count(*) AS BIGINT) AS n_parts,
           round(sum(rev / total), 6) AS revenue_share
    FROM cls GROUP BY abc ORDER BY abc
    """,
)
def agg_abc_classification(spark, sf_dir):
    """Lineitem collapses to per-part exact decimals first, then the
    exclusive cumulative revenue is TWO-PHASE (round 9: the part
    dimension is catalog-bounded only until it isn't — at 100 TB parts
    are billions): range-bucket parts by revenue, exclusive-prefix the
    per-bucket decimal totals over the ≤1024-row bucket frame in
    descending order (broadcast), then a per-bucket local window in the
    same (rev desc, partkey) total order. Decimal sums are associative
    and exact, so bucket_offset + local_prefix equals the single-window
    cumsum bit-for-bit; revenue_share sums per-part exact ratios —
    identical term sets, round(6) on the 3-row output."""
    from pyspark.sql import Window

    # r16 opt (guide §5): r feeds the grand-total aggregate AND the
    # bucketing pass — persist so the lineitem scan + per-part groupBy
    # runs once (the persisted frame is per-part, result-bounded).
    li, (price, disc) = lanes(
        load(spark, sf_dir, "lineitem"),
        "l_extendedprice",
        ("l_discount", "decimal(4,2)"),
    )
    r = scoped_persist(
        li.groupBy("l_partkey").agg(
            exact_sum(price * (1 - disc)).alias("rev_dec")
        )
    )
    t = r.agg(F.sum("rev_dec").cast("double").alias("total"))
    # monotone double shadow for bucketing only (cast keeps order; exact
    # decimals still carry every sum)
    b = _range_bucketed(
        r.withColumn("rev_d", F.col("rev_dec").cast("double")), "rev_d"
    )
    # descending order ⇒ offsets come from STRICTLY HIGHER buckets
    wb = Window.orderBy(F.col("bkt").desc()).rowsBetween(
        Window.unboundedPreceding, -1
    )
    offsets = (
        b.groupBy("bkt")
        .agg(F.sum("rev_dec").alias("trev"))
        .select(
            "bkt", F.coalesce(F.sum("trev").over(wb), F.lit(0)).alias("off")
        )
    )
    wl = Window.partitionBy("bkt").orderBy(
        F.col("rev_dec").desc(), "l_partkey"
    ).rowsBetween(Window.unboundedPreceding, -1)
    c = (
        b.join(F.broadcast(offsets), "bkt")
        .crossJoin(F.broadcast(t))
        .withColumn(
            "cum_before",
            (
                F.col("off")
                + F.coalesce(F.sum("rev_dec").over(wl), F.lit(0))
            ).cast("double")
            / F.col("total"),
        )
        .select(
            F.when(F.col("cum_before") < 0.80, "A")
            .when(F.col("cum_before") < 0.95, "B")
            .otherwise("C")
            .alias("abc"),
            (F.col("rev_dec").cast("double") / F.col("total")).alias("share"),
        )
    )
    return (
        c.groupBy("abc")
        .agg(
            F.count("*").cast("bigint").alias("n_parts"),
            r6(F.sum("share")).alias("revenue_share"),
        )
        .orderBy("abc")
    )


@query(
    "agg_hhi_index",
    # Herfindahl–Hirschman concentration index of corpus sources:
    # HHI = Σ share², on the standard 0–10,000 scale — the regulator's
    # concentration number beside the Gini/top-80 curve. Shares are
    # exact integer ratios; the grid-sized sum carries round(6).
    oracle="""
    WITH s AS (
      SELECT source, CAST(count(*) AS BIGINT) AS n FROM documents
      GROUP BY source
    ), t AS (SELECT CAST(sum(n) AS DOUBLE) AS tot FROM s)
    SELECT CAST(count(*) AS BIGINT) AS n_sources,
           round(sum(power(100.0 * n / tot, 2)), 6) AS hhi
    FROM s CROSS JOIN t
    """,
)
def agg_hhi_index(spark, sf_dir):
    """One source-grid count + a broadcast total — constant state; the
    concentration triple (Gini, top-80 curve, HHI) now covers the
    standard governance reports."""
    s = load(spark, sf_dir, "documents").groupBy("source").agg(
        F.count("*").cast("bigint").alias("n")
    )
    t = s.agg(F.sum("n").cast("double").alias("tot"))
    return (
        s.crossJoin(F.broadcast(t))
        .agg(
            F.count("*").cast("bigint").alias("n_sources"),
            r6(
                F.sum(F.pow(100.0 * F.col("n") / F.col("tot"), 2))
            ).alias("hhi"),
        )
    )


@query(
    "agg_tukey_fences",
    # Tukey's IQR outlier fences per market segment over order totals:
    # Q1/Q3 by DISCRETE selection (row_number at ⌈p·n⌉ — §7.3: no
    # interpolated percentiles on large-magnitude money), fences at
    # 1.5·IQR, and exact outlier counts beyond each fence — the other
    # classic robust-outlier rule beside MAD (ts_outlier_mad).
    oracle="""
    WITH r AS (
      SELECT c_mktsegment, o_totalprice,
             row_number() OVER (PARTITION BY c_mktsegment
               ORDER BY o_totalprice, o_orderkey) AS rn,
             count(*) OVER (PARTITION BY c_mktsegment) AS n
      FROM orders JOIN customer ON c_custkey = o_custkey
    ), q AS (
      SELECT c_mktsegment,
             max(CASE WHEN rn = CAST(ceil(0.25 * n) AS BIGINT)
                      THEN o_totalprice END) AS q1,
             max(CASE WHEN rn = CAST(ceil(0.75 * n) AS BIGINT)
                      THEN o_totalprice END) AS q3,
             max(n) AS n
      FROM r GROUP BY 1
    )
    SELECT q.c_mktsegment, CAST(q.n AS BIGINT) AS n_orders, q.q1, q.q3,
           round(q.q3 - q.q1, 6) AS iqr,
           CAST(count(CASE WHEN r.o_totalprice
                                < q.q1 - 1.5 * (q.q3 - q.q1)
                           THEN 1 END) AS BIGINT) AS n_low_outliers,
           CAST(count(CASE WHEN r.o_totalprice
                                > q.q3 + 1.5 * (q.q3 - q.q1)
                           THEN 1 END) AS BIGINT) AS n_high_outliers
    FROM q JOIN r ON r.c_mktsegment = q.c_mktsegment
    GROUP BY 1, 2, 3, 4, 5 ORDER BY 1
    """,
)
def agg_tukey_fences(spark, sf_dir):
    """TWO-PHASE k-th selection for both quartiles (round 9: the old
    segment-partitioned rank window put 1/5 of all orders through one
    task). Per-(segment, price-bucket) counts locate each quartile's
    CROSSING bucket (first whose cumulative count reaches ⌈p·n⌉); the
    ordered row_number then runs only over that bucket's rows, seeded
    with the bucket's count offset — global rank = offset + local rank,
    identical integers, so the selected elements match the single-window
    spelling exactly. Fence counts are a broadcast join + codegen
    aggregate over the unranked base."""
    base = (
        load(spark, sf_dir, "orders")
        .join(
            load(spark, sf_dir, "customer").select(
                "c_custkey", "c_mktsegment"
            ),
            F.col("o_custkey") == F.col("c_custkey"),
        )
        .select("c_mktsegment", "o_totalprice", "o_orderkey")
    )
    b = _grouped_range_bucketed(base, "c_mktsegment", "o_totalprice")
    bt = b.groupBy("c_mktsegment", "bkt").agg(
        F.count(F.lit(1)).alias("cnt")
    )
    wb = Window.partitionBy("c_mktsegment").orderBy("bkt").rowsBetween(
        Window.unboundedPreceding, -1
    )
    off = bt.select(
        "c_mktsegment", "bkt", "cnt",
        F.coalesce(F.sum("cnt").over(wb), F.lit(0)).alias("off"),
    )
    nseg = bt.groupBy("c_mktsegment").agg(F.sum("cnt").alias("n"))
    targets = nseg.select(
        "c_mktsegment", "n",
        F.explode(
            F.array(
                F.struct(
                    F.lit("q1").alias("tag"),
                    F.ceil(0.25 * F.col("n")).cast("bigint").alias("k"),
                ),
                F.struct(
                    F.lit("q3").alias("tag"),
                    F.ceil(0.75 * F.col("n")).cast("bigint").alias("k"),
                ),
            )
        ).alias("t"),
    ).select("c_mktsegment", "n", "t.tag", "t.k")
    crossing = (
        off.join(F.broadcast(targets), "c_mktsegment")
        .filter(F.col("off") + F.col("cnt") >= F.col("k"))
        .groupBy("c_mktsegment", "tag")
        .agg(
            F.min("bkt").alias("cbkt"),
            F.min_by("off", "bkt").alias("coff"),
            F.max("k").alias("k"),
            F.max("n").alias("n"),
        )
    )
    wl = Window.partitionBy("c_mktsegment", "tag").orderBy(
        "o_totalprice", "o_orderkey"
    )
    sel = (
        b.join(F.broadcast(crossing), "c_mktsegment")
        .filter(F.col("bkt") == F.col("cbkt"))
        .withColumn("grank", F.col("coff") + F.row_number().over(wl))
        .filter(F.col("grank") == F.col("k"))
    )
    q = sel.groupBy(F.col("c_mktsegment").alias("q_seg")).agg(
        F.max(
            F.when(F.col("tag") == "q1", F.col("o_totalprice"))
        ).alias("q1"),
        F.max(
            F.when(F.col("tag") == "q3", F.col("o_totalprice"))
        ).alias("q3"),
        F.max("n").alias("q_n"),
    )
    iqr = F.col("q3") - F.col("q1")
    return (
        base.join(F.broadcast(q), F.col("c_mktsegment") == F.col("q_seg"))
        .groupBy("c_mktsegment", "q_n", "q1", "q3")
        .agg(
            F.count(
                F.when(F.col("o_totalprice") < F.col("q1") - 1.5 * iqr, 1)
            ).cast("bigint").alias("n_low_outliers"),
            F.count(
                F.when(F.col("o_totalprice") > F.col("q3") + 1.5 * iqr, 1)
            ).cast("bigint").alias("n_high_outliers"),
        )
        .select(
            "c_mktsegment",
            F.col("q_n").cast("bigint").alias("n_orders"),
            "q1",
            "q3",
            r6(iqr).alias("iqr"),
            "n_low_outliers",
            "n_high_outliers",
        )
        .orderBy("c_mktsegment")
    )
