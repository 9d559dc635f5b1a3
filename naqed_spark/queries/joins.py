"""§2-C: joins — all 12 contract keys (SURVEY.md:189-202).

Scale notes (100 TB posture):
  - Equi-joins are expressed declaratively so Catalyst/AQE pick the physical
    strategy (sort-merge with shuffle on keys; AQE demotes to broadcast when
    a side turns out small, and splits skewed partitions).
  - Only fixed-size dimensions (region/nation/supplier — catalog.SMALL_DIMS)
    get an explicit broadcast() hint. customer/part are NOT force-broadcast:
    at 100 TB they exceed any broadcast threshold, and a forced hint there
    is an executor OOM, not an optimization. AQE decides for them.
  - Theta/interval joins put the tiny derived side (5 bands) on the
    broadcast side of a nested-loop join; the as-of join uses the
    equi-key + window-rank pattern so the heavy lifting stays a hash join
    partitioned by user, not a cross product.
  - Timestamp comparisons use epoch-microsecond bigints on BOTH engines
    (parquet ns/ms precisions truncate identically — SURVEY.md §7.3).
"""

from __future__ import annotations

from pyspark.sql import Window, functions as F

from naqed_spark.queries._util import dsum, epoch_us, lanes, load
from naqed_spark.registry import query


@query(
    "join_inner_equi",
    oracle="""
    SELECT o_orderkey, o_totalprice, c_custkey, c_name, c_mktsegment
    FROM orders JOIN customer ON o_custkey = c_custkey
    """,
)
def join_inner_equi(spark, sf_dir):
    o = load(spark, sf_dir, "orders")
    c = load(spark, sf_dir, "customer")
    return o.join(c, o.o_custkey == c.c_custkey, "inner").select(
        "o_orderkey", "o_totalprice", "c_custkey", "c_name", "c_mktsegment"
    )


@query(
    "join_broadcast",
    oracle="""
    SELECT l_orderkey, l_linenumber, p_partkey, p_brand
    FROM lineitem JOIN part ON l_partkey = p_partkey
    WHERE p_type = 'PROMO'
    """,
)
def join_broadcast(spark, sf_dir):
    li = load(spark, sf_dir, "lineitem")
    p = load(spark, sf_dir, "part").filter(F.col("p_type") == "PROMO")
    # explicit broadcast: the filtered part side is dimension-sized; at
    # 100 TB this hint is still valid because the filter is selective and
    # pushed to the scan (check .explain → PushedFilters)
    return li.join(F.broadcast(p), li.l_partkey == p.p_partkey).select(
        "l_orderkey", "l_linenumber", "p_partkey", "p_brand"
    )


@query(
    "join_left_outer",
    oracle="""
    SELECT c_custkey, c_mktsegment, o_orderkey, o_totalprice
    FROM customer LEFT JOIN
         (SELECT * FROM orders WHERE o_totalprice > 400000) o
         ON c_custkey = o_custkey
    """,
)
def join_left_outer(spark, sf_dir):
    c = load(spark, sf_dir, "customer")
    o = load(spark, sf_dir, "orders").filter(F.col("o_totalprice") > 400000)
    return c.join(o, c.c_custkey == o.o_custkey, "left").select(
        "c_custkey", "c_mktsegment", "o_orderkey", "o_totalprice"
    )


@query(
    "join_full_outer",
    oracle="""
    SELECT c_custkey, c_acctbal, o_orderkey, o_custkey, o_totalprice
    FROM (SELECT * FROM customer WHERE c_acctbal > 9000) c
    FULL OUTER JOIN (SELECT * FROM orders WHERE o_totalprice > 350000) o
         ON c_custkey = o_custkey
    """,
)
def join_full_outer(spark, sf_dir):
    c = load(spark, sf_dir, "customer").filter(F.col("c_acctbal") > 9000)
    o = load(spark, sf_dir, "orders").filter(F.col("o_totalprice") > 350000)
    return c.join(o, c.c_custkey == o.o_custkey, "full").select(
        "c_custkey", "c_acctbal", "o_orderkey", "o_custkey", "o_totalprice"
    )


@query(
    "join_left_semi",
    oracle="""
    SELECT c_custkey, c_name FROM customer
    WHERE EXISTS (SELECT 1 FROM orders
                  WHERE o_custkey = c_custkey
                    AND o_orderpriority = '1-URGENT')
    """,
)
def join_left_semi(spark, sf_dir):
    c = load(spark, sf_dir, "customer")
    o = load(spark, sf_dir, "orders").filter(
        F.col("o_orderpriority") == "1-URGENT"
    )
    return c.join(o, c.c_custkey == o.o_custkey, "left_semi").select(
        "c_custkey", "c_name"
    )


@query(
    "join_left_anti",
    oracle="""
    SELECT c_custkey, c_mktsegment FROM customer
    WHERE NOT EXISTS (SELECT 1 FROM orders
                      WHERE o_custkey = c_custkey
                        AND o_totalprice > 200000)
    """,
)
def join_left_anti(spark, sf_dir):
    c = load(spark, sf_dir, "customer")
    o = load(spark, sf_dir, "orders").filter(F.col("o_totalprice") > 200000)
    return c.join(o, c.c_custkey == o.o_custkey, "left_anti").select(
        "c_custkey", "c_mktsegment"
    )


@query(
    "join_cross",
    oracle="SELECT r_name, n_name FROM region CROSS JOIN nation",
)
def join_cross(spark, sf_dir):
    r = load(spark, sf_dir, "region").select("r_name")
    n = load(spark, sf_dir, "nation").select("n_name")
    return r.crossJoin(n)


@query(
    "join_theta_range",
    # non-equi band join: 5 derived price bands × orders. The tiny band side
    # broadcasts into a nested-loop join — the only sane physical plan for a
    # pure theta join; the fact side streams through untouched.
    oracle="""
    SELECT r_regionkey AS band,
           count(*) AS n_orders,
           CAST(sum(CAST(o_totalprice AS DECIMAL(12,2))) AS DOUBLE) AS band_total
    FROM region JOIN orders
      ON o_totalprice >= r_regionkey * 100000.0
     AND o_totalprice <  r_regionkey * 100000.0 + 50000.0
    GROUP BY r_regionkey
    """,
)
def join_theta_range(spark, sf_dir):
    bands = (
        load(spark, sf_dir, "region")
        .select(
            F.col("r_regionkey").alias("band"),
            (F.col("r_regionkey") * 100000.0).alias("lo"),
            (F.col("r_regionkey") * 100000.0 + 50000.0).alias("hi"),
        )
    )
    o = load(spark, sf_dir, "orders")
    joined, (price,) = lanes(
        o.join(
            F.broadcast(bands),
            (o.o_totalprice >= bands.lo) & (o.o_totalprice < bands.hi),
        ),
        "o_totalprice",
    )
    return joined.groupBy("band").agg(
        F.count(F.lit(1)).alias("n_orders"),
        dsum(price).alias("band_total"),
    )


@query(
    "join_interval_overlap",
    # [ts, ts+1h) click intervals × purchase intervals of the same user;
    # overlap iff a.start < b.end AND b.start < a.end. All time math is
    # epoch-µs bigint on both engines. Equi on user_id keeps it a hash
    # join partitioned by user — the inequality pair is a post-filter.
    oracle="""
    WITH a AS (SELECT user_id, event_id AS a_id,
                      epoch_us(ts) AS a_start, epoch_us(ts) + 3600000000 AS a_end
               FROM events WHERE event_type = 'click'),
         b AS (SELECT user_id, event_id AS b_id,
                      epoch_us(ts) AS b_start, epoch_us(ts) + 3600000000 AS b_end
               FROM events WHERE event_type = 'purchase')
    SELECT a.user_id AS user_id, a_id, b_id
    FROM a JOIN b ON a.user_id = b.user_id
                 AND a_start < b_end AND b_start < a_end
    """,
)
def join_interval_overlap(spark, sf_dir):
    ev = load(spark, sf_dir, "events")
    hour_us = 3600 * 1000 * 1000
    a = ev.filter(F.col("event_type") == "click").select(
        "user_id",
        F.col("event_id").alias("a_id"),
        epoch_us("ts").alias("a_start"),
        (epoch_us("ts") + hour_us).alias("a_end"),
    )
    b = ev.filter(F.col("event_type") == "purchase").select(
        F.col("user_id").alias("b_user"),
        F.col("event_id").alias("b_id"),
        epoch_us("ts").alias("b_start"),
        (epoch_us("ts") + hour_us).alias("b_end"),
    )
    return a.join(
        b,
        (a.user_id == b.b_user) & (a.a_start < b.b_end) & (b.b_start < a.a_end),
    ).select("user_id", "a_id", "b_id")


@query(
    "join_asof",
    # as-of: each event → the latest order at-or-before the event per user.
    # Pattern: equi-join on the key + window rank, so the physical plan is a
    # user-partitioned hash join + per-event top-1 — no cross product. Ties
    # broken by o_orderkey (unique), per SURVEY §7.3.
    oracle="""
    SELECT event_id, user_id, o_orderkey, order_us FROM (
      SELECT e.event_id, e.user_id, o.o_orderkey,
             epoch_us(o.o_orderdate) AS order_us,
             row_number() OVER (
               PARTITION BY e.event_id
               ORDER BY o.o_orderdate DESC, o.o_orderkey DESC) AS rn
      FROM events e JOIN orders o
        ON o.o_custkey = e.user_id
       AND epoch_us(o.o_orderdate) <= epoch_us(e.ts)
    ) WHERE rn = 1
    """,
)
def join_asof(spark, sf_dir):
    e = load(spark, sf_dir, "events").select(
        "event_id", "user_id", epoch_us("ts").alias("ev_us")
    )
    o = load(spark, sf_dir, "orders").select(
        "o_custkey", "o_orderkey", epoch_us("o_orderdate").alias("order_us")
    )
    j = e.join(o, (o.o_custkey == e.user_id) & (o.order_us <= e.ev_us))
    # r16 opt (guide §2.3 "aggregate before you shuffle"): top-1 per event
    # was row_number over (order_us DESC, o_orderkey DESC) — a Sort +
    # WindowGroupLimit on BOTH sides of the exchange. max(struct) is the
    # same argmax (struct comparison is lexicographic; (order_us,
    # o_orderkey) pairs are unique per event, so ties cannot differ) but
    # partial-aggregates map-side: the exchange carries ≤1 row per
    # (event, map partition) and no sort runs at all. user_id is
    # functionally dependent on event_id, so grouping by both leaves the
    # groups unchanged.
    return (
        j.groupBy("event_id", "user_id")
        .agg(F.max(F.struct("order_us", "o_orderkey")).alias("m"))
        .select(
            "event_id",
            "user_id",
            F.col("m.o_orderkey").alias("o_orderkey"),
            F.col("m.order_us").alias("order_us"),
        )
    )


@query(
    "join_asof_nearest",
    # nearest-asof: each event → the order whose date is CLOSEST in time
    # (either direction) per user — the sensor-alignment variant of
    # join_asof (backward-only). Same scale shape: user-key equi-join +
    # per-event top-1 window; ranking by |Δt| with (earlier order, lower
    # key) tiebreaks so equidistant matches are deterministic.
    oracle="""
    SELECT event_id, user_id, o_orderkey, dt_us FROM (
      SELECT e.event_id, e.user_id, o.o_orderkey,
             abs(epoch_us(o.o_orderdate) - epoch_us(e.ts)) AS dt_us,
             row_number() OVER (
               PARTITION BY e.event_id
               ORDER BY abs(epoch_us(o.o_orderdate) - epoch_us(e.ts)) ASC,
                        epoch_us(o.o_orderdate) ASC, o.o_orderkey ASC) AS rn
      FROM events e JOIN orders o ON o.o_custkey = e.user_id
    ) WHERE rn = 1
    """,
)
def join_asof_nearest(spark, sf_dir):
    """At 100 TB the unbounded per-user join is bounded in practice by a
    coarse time-bucket pre-filter (join on (user, bucket±1)) — the
    fixture's per-user order lists are small, so the plan here is the
    plain user-partitioned hash join + WindowGroupLimit top-1."""
    e = load(spark, sf_dir, "events").select(
        "event_id", "user_id", epoch_us("ts").alias("ev_us")
    )
    o = load(spark, sf_dir, "orders").select(
        "o_custkey", "o_orderkey", epoch_us("o_orderdate").alias("order_us")
    )
    j = e.join(o, o.o_custkey == e.user_id).withColumn(
        "dt_us", F.abs(F.col("order_us") - F.col("ev_us"))
    )
    # r16 opt (guide §2.3): same argmin-by-struct rewrite as join_asof —
    # min(struct(dt_us, order_us, o_orderkey)) ≡ the rn=1 row of
    # (dt_us ASC, order_us ASC, o_orderkey ASC); partial agg replaces the
    # two-sided Sort + WindowGroupLimit and the exchange shrinks to ≤1
    # row per (event, map partition).
    return (
        j.groupBy("event_id", "user_id")
        .agg(F.min(F.struct("dt_us", "order_us", "o_orderkey")).alias("m"))
        .select(
            "event_id",
            "user_id",
            F.col("m.o_orderkey").alias("o_orderkey"),
            F.col("m.dt_us").alias("dt_us"),
        )
    )


@query(
    "join_multiway_star",
    # TPC-H Q5-style 6-way star join; revenue in exact decimal → double.
    oracle="""
    SELECT n_name,
           CAST(sum(CAST(l_extendedprice AS DECIMAL(12,2))
                    * (1 - CAST(l_discount AS DECIMAL(4,2)))) AS DOUBLE)
             AS revenue
    FROM lineitem
    JOIN orders   ON l_orderkey = o_orderkey
    JOIN customer ON o_custkey = c_custkey
    JOIN supplier ON l_suppkey = s_suppkey AND c_nationkey = s_nationkey
    JOIN nation   ON s_nationkey = n_nationkey
    JOIN region   ON n_regionkey = r_regionkey
    WHERE r_name = 'ASIA'
      AND o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
      AND o_orderdate <  TIMESTAMP '1997-01-01 00:00:00'
    GROUP BY n_name
    """,
)
def join_multiway_star(spark, sf_dir):
    li = load(spark, sf_dir, "lineitem")
    o = load(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= F.lit("1996-01-01").cast("timestamp_ntz"))
        & (F.col("o_orderdate") < F.lit("1997-01-01").cast("timestamp_ntz"))
    )
    c = load(spark, sf_dir, "customer")
    s = load(spark, sf_dir, "supplier")
    n = load(spark, sf_dir, "nation")
    r = load(spark, sf_dir, "region").filter(F.col("r_name") == "ASIA")
    star, (price, disc) = lanes(
        li.join(o, li.l_orderkey == o.o_orderkey)
        .join(c, o.o_custkey == c.c_custkey)
        .join(
            F.broadcast(s),
            (li.l_suppkey == s.s_suppkey) & (c.c_nationkey == s.s_nationkey),
        )
        .join(F.broadcast(n), s.s_nationkey == n.n_nationkey)
        .join(F.broadcast(r), n.n_regionkey == r.r_regionkey),
        "l_extendedprice",
        ("l_discount", "decimal(4,2)"),
    )
    return star.groupBy("n_name").agg(
        dsum(price * (1 - disc)).alias("revenue")
    )


@query(
    "join_self",
    oracle="""
    SELECT a.l_orderkey AS l_orderkey,
           a.l_linenumber AS ln_a, b.l_linenumber AS ln_b,
           a.l_partkey AS pk_a, b.l_partkey AS pk_b
    FROM lineitem a JOIN lineitem b
      ON a.l_orderkey = b.l_orderkey AND a.l_linenumber < b.l_linenumber
    WHERE a.l_quantity > 40 AND b.l_quantity > 40
    """,
)
def join_self(spark, sf_dir):
    li = load(spark, sf_dir, "lineitem").filter(F.col("l_quantity") > 40)
    a, b = li.alias("a"), li.alias("b")
    return a.join(
        b,
        (F.col("a.l_orderkey") == F.col("b.l_orderkey"))
        & (F.col("a.l_linenumber") < F.col("b.l_linenumber")),
    ).select(
        F.col("a.l_orderkey").alias("l_orderkey"),
        F.col("a.l_linenumber").alias("ln_a"),
        F.col("b.l_linenumber").alias("ln_b"),
        F.col("a.l_partkey").alias("pk_a"),
        F.col("b.l_partkey").alias("pk_b"),
    )


@query(
    "join_q3_shipping_priority",
    # BASELINE.md headline #2 (62 ms @ sf0.1 DuckDB): Q3-style shipping
    # priority — segment-filtered customer ⋈ date-banded orders ⋈ lineitem,
    # revenue per order, global top-10. Top-10 tie-break on o_orderkey so
    # both engines pick identical rows (§7.3 unique-key rule).
    oracle="""
    SELECT o_orderkey, o_orderdate_s, o_orderpriority, revenue FROM (
      SELECT o.o_orderkey,
             strftime(CAST(o.o_orderdate AS DATE), '%Y-%m-%d')
               AS o_orderdate_s,
             o.o_orderpriority,
             CAST(sum(CAST(l.l_extendedprice AS DECIMAL(12,2))
                      * (1 - CAST(l.l_discount AS DECIMAL(4,2)))) AS DOUBLE)
               AS revenue
      FROM customer c
      JOIN orders o   ON c.c_custkey = o.o_custkey
      JOIN lineitem l ON l.l_orderkey = o.o_orderkey
      WHERE c.c_mktsegment = 'BUILDING'
        AND o.o_orderdate < TIMESTAMP '1996-07-01 00:00:00'
        AND l.l_shipdate  > TIMESTAMP '1996-07-01 00:00:00'
      GROUP BY o.o_orderkey, o_orderdate_s, o.o_orderpriority
    ) ORDER BY revenue DESC, o_orderkey ASC LIMIT 10
    """,
)
def join_q3_shipping_priority(spark, sf_dir):
    """customer is filtered to one segment then joined to orders — at scale
    AQE decides whether the filtered side broadcasts (policy: never forced,
    see test_compiler_broadcast_policy); lineitem joins on its natural key
    and aggregates partial before the single revenue shuffle; the global
    top-10 is TakeOrderedAndProject (per-partition heaps), not a full sort."""
    c = load(spark, sf_dir, "customer").filter(
        F.col("c_mktsegment") == "BUILDING"
    )
    o = load(spark, sf_dir, "orders").filter(
        F.col("o_orderdate") < F.lit("1996-07-01").cast("timestamp_ntz")
    )
    li = load(spark, sf_dir, "lineitem").filter(
        F.col("l_shipdate") > F.lit("1996-07-01").cast("timestamp_ntz")
    )
    j, (price, disc) = lanes(
        c.join(o, c["c_custkey"] == o["o_custkey"])
        .join(li, li["l_orderkey"] == o["o_orderkey"]),
        "l_extendedprice",
        ("l_discount", "decimal(4,2)"),
    )
    return (
        j.groupBy(
            "o_orderkey",
            F.date_format(F.col("o_orderdate").cast("date"), "yyyy-MM-dd")
            .alias("o_orderdate_s"),
            "o_orderpriority",
        )
        .agg(dsum(price * (1 - disc)).alias("revenue"))
        .orderBy(F.col("revenue").desc(), F.col("o_orderkey").asc())
        .limit(10)
    )


@query(
    "join_skew_salted",
    # skew-mitigation technique demonstrated end-to-end: the build side is
    # replicated SALT times with a salt column, the probe side gets a
    # deterministic salt per row (user_id % SALT is NOT deterministic
    # per-row-copy — we salt by a stable hash of the row key), and the join
    # runs on (key, salt) so one hot key spreads over SALT reducers. The
    # result is EXACTLY the plain join, which is the oracle. AQE's
    # skewedJoin does this automatically at runtime; manual salting is the
    # form you reach for when a single key exceeds what one task can hold.
    oracle="""
    SELECT e.event_id, e.user_id, c.c_mktsegment
    FROM events e JOIN customer c ON e.user_id = c.c_custkey
    """,
)
def join_skew_salted(spark, sf_dir):
    SALT = 8
    ev = load(spark, sf_dir, "events").select(
        "event_id", "user_id", (F.pmod(F.col("event_id"), SALT)).alias("salt")
    )
    cust = load(spark, sf_dir, "customer").select("c_custkey", "c_mktsegment")
    salted_cust = cust.withColumn(
        "salt", F.explode(F.array(*[F.lit(i) for i in range(SALT)]))
    )
    return ev.join(
        salted_cust,
        (ev["user_id"] == salted_cust["c_custkey"])
        & (ev["salt"] == salted_cust["salt"]),
    ).select("event_id", "user_id", "c_mktsegment")


@query(
    "join_range_bucketed",
    # point-in-interval join with NO shared key — the case where a naive
    # plan is a broadcast nested loop over every (event, window) pair. The
    # scalable form: expand each interval to the hour BUCKETS it covers
    # (sequence explode), bucket the points by the same grain, equi-join on
    # the bucket, exact range post-filter. Work is O(points + intervals x
    # buckets-per-interval), the join is hash-partitioned, and the plan
    # contains no nested-loop operator (asserted in test_plans.py).
    # Windows here: minute 10-30 of every hour seen in events.
    oracle="""
    WITH wins AS (SELECT DISTINCT date_trunc('hour', ts) AS h FROM events),
    w AS (SELECT epoch_us(h) AS w_id,
                 epoch_us(h) + 600000000 AS lo,
                 epoch_us(h) + 1800000000 AS hi
          FROM wins),
    wb AS (SELECT w_id, lo, hi,
                  unnest(range(lo // 3600000000, (hi - 1) // 3600000000 + 1))
                    AS bkt
           FROM w),
    eb AS (SELECT event_id, epoch_us(ts) AS ts_us,
                  epoch_us(ts) // 3600000000 AS bkt
           FROM events)
    SELECT w_id, event_id
    FROM eb JOIN wb ON eb.bkt = wb.bkt AND ts_us >= lo AND ts_us < hi
    """,
)
def join_range_bucketed(spark, sf_dir):
    bucket_us = 3600 * 1_000_000
    ev = load(spark, sf_dir, "events")
    w = (
        ev.select(F.date_trunc("hour", "ts").alias("h"))
        .distinct()
        .select(
            epoch_us("h").alias("w_id"),
            (epoch_us("h") + 600_000_000).alias("lo"),
            (epoch_us("h") + 1_800_000_000).alias("hi"),
        )
    )
    wb = w.select(
        "w_id",
        "lo",
        "hi",
        F.explode(
            F.sequence(
                F.floor(F.col("lo") / bucket_us),
                F.floor((F.col("hi") - 1) / bucket_us),
            )
        ).alias("bkt"),
    )
    eb = ev.select(
        "event_id",
        epoch_us("ts").alias("ts_us"),
        F.floor(epoch_us("ts") / bucket_us).alias("bkt"),
    )
    return (
        eb.join(
            wb,
            (eb.bkt == wb.bkt)
            & (eb.ts_us >= wb.lo)
            & (eb.ts_us < wb.hi),
        )
        .select("w_id", "event_id")
    )


@query(
    "join_lateral_topn",
    # Correlated LATERAL subquery with ORDER BY + LIMIT: for every
    # BUILDING-segment customer, their top-2 orders by price. This is the
    # per-row dependent-join surface (SQL:1999 LATERAL / CROSS APPLY);
    # Spark's DecorrelateInnerQuery rewrites the per-customer LIMIT into a
    # rank-over-partition + filter, so the physical plan is the SAME
    # WindowGroupLimit + broadcast join you would hand-write — asserted in
    # tests/test_plans.py, never a per-row re-execution.
    oracle="""
    SELECT c.c_custkey, c.c_mktsegment, t.o_orderkey, t.o_totalprice
    FROM customer c JOIN LATERAL (
      SELECT o_orderkey, o_totalprice FROM orders o
      WHERE o.o_custkey = c.c_custkey
      ORDER BY o_totalprice DESC, o_orderkey LIMIT 2
    ) t ON TRUE
    WHERE c.c_mktsegment = 'BUILDING'
    """,
)
def join_lateral_topn(spark, sf_dir):
    """Scale shape: the decorrelated plan shuffles orders once on
    o_custkey with a PARTIAL WindowGroupLimit before the exchange (map-side
    top-k — at most 2 rows per customer per mapper cross the wire), then
    broadcast-joins the filtered customer side. A naive lateral executor
    would re-run the inner query per outer row; the rewrite is why this
    survives 100 TB."""
    load(spark, sf_dir, "customer").createOrReplaceTempView(
        "naqed_lat_customer"
    )
    load(spark, sf_dir, "orders").createOrReplaceTempView("naqed_lat_orders")
    return spark.sql(
        """
        SELECT c.c_custkey, c.c_mktsegment, t.o_orderkey, t.o_totalprice
        FROM naqed_lat_customer c JOIN LATERAL (
          SELECT o_orderkey, o_totalprice FROM naqed_lat_orders o
          WHERE o.o_custkey = c.c_custkey
          ORDER BY o_totalprice DESC, o_orderkey LIMIT 2
        ) t
        WHERE c.c_mktsegment = 'BUILDING'
        """
    )


@query(
    "join_runtime_bloom_filter",
    # Runtime filter injection (Spark's InjectRuntimeFilter): a selective
    # filter on the orders side is turned into a BLOOM FILTER evaluated on
    # the lineitem side BEFORE its shuffle, so non-matching fact rows are
    # dropped at the scan instead of crossing the wire to die in the join.
    # At 100 TB this is the shuffle-volume saver for selective fact⋈fact
    # joins that are too big to broadcast.
    oracle="""
    SELECT l.l_orderkey,
           CAST(count(*) AS BIGINT) AS n_lines,
           CAST(sum(CAST(l.l_quantity AS DECIMAL(12,2))) AS DOUBLE) AS qty
    FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
    WHERE o.o_orderstatus = 'P'
    GROUP BY l.l_orderkey
    """,
)
def join_runtime_bloom_filter(spark, sf_dir):
    """The local fixtures are KB-sized, so the production thresholds
    (application side >= 10 GB) would never trigger here; the callable
    pins a physical plan compiled with the thresholds scaled to the
    fixture (bloom always on, broadcast off so the join actually
    shuffles — at 100 TB both sides being shuffle-sized is the premise).
    The conf context restores the session settings; the returned frame's
    QueryExecution caches the bloom-injected plan (asserted in
    tests/test_plans.py)."""
    li = load(spark, sf_dir, "lineitem").select("l_orderkey", "l_quantity")
    o = (
        load(spark, sf_dir, "orders")
        .select("o_orderkey", "o_orderstatus")
        .filter(F.col("o_orderstatus") == "P")
    )
    conf = spark.conf
    keys = {
        "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold": "0",
        "spark.sql.autoBroadcastJoinThreshold": "-1",
    }
    prev = {k: conf.get(k) for k in keys}
    for k, v in keys.items():
        conf.set(k, v)
    try:
        j, (qty,) = lanes(li.join(o, li.l_orderkey == o.o_orderkey),
                          "l_quantity")
        out = j.groupBy("l_orderkey").agg(
            F.count(F.lit(1)).alias("n_lines"),
            dsum(qty).alias("qty"),
        )
        # force physical planning NOW, inside the scaled-threshold window;
        # the Dataset caches this QueryExecution for later actions
        out._jdf.queryExecution().executedPlan()
    finally:
        for k, v in prev.items():
            conf.set(k, v)
    return out


@query(
    "join_null_safe",
    # null-safe equi-join (<=>): NULL keys match each other instead of
    # dropping out — the semantics CDC/merge pipelines need when the
    # business key is nullable. Spark plans EqualNullSafe as a REAL
    # equi-join key (hash/broadcast, NOT a nested-loop — asserted in
    # tests/test_plans.py), so the 100 TB cost is the same one
    # hash-partition as a plain equi-join; the one skew hazard is the
    # NULL group itself (all-null keys co-locate), bounded here and
    # salt-able like any hot key (join_skew_salted). Nullable keys are
    # derived deterministically: customers in AUTOMOBILE and suppliers
    # with negative balance get NULL nation keys.
    oracle="""
    SELECT c.c_custkey, s.s_suppkey,
           CASE WHEN c.c_mktsegment = 'AUTOMOBILE' THEN NULL
                ELSE c.c_nationkey END AS nk
    FROM (SELECT c_custkey, c_mktsegment, c_nationkey FROM customer) c
    JOIN (SELECT s_suppkey, s_acctbal, s_nationkey FROM supplier) s
      ON (CASE WHEN c.c_mktsegment = 'AUTOMOBILE' THEN NULL
               ELSE c.c_nationkey END)
         IS NOT DISTINCT FROM
         (CASE WHEN s.s_acctbal < 0 THEN NULL ELSE s.s_nationkey END)
    """,
)
def join_null_safe(spark, sf_dir):
    c = load(spark, sf_dir, "customer").select(
        "c_custkey",
        F.when(F.col("c_mktsegment") == "AUTOMOBILE", F.lit(None))
        .otherwise(F.col("c_nationkey"))
        .alias("nk"),
    )
    s = load(spark, sf_dir, "supplier").select(
        "s_suppkey",
        F.when(F.col("s_acctbal") < 0, F.lit(None))
        .otherwise(F.col("s_nationkey"))
        .alias("snk"),
    )
    return (
        c.join(F.broadcast(s), c["nk"].eqNullSafe(s["snk"]))
        .select("c_custkey", "s_suppkey", "nk")
    )


@query(
    "join_existence_mark",
    # Mark join: annotate every probe row with a boolean "matched" flag
    # instead of filtering (the EXISTS-as-column shape semi/anti joins
    # can't express). Spark has no mark-join physical operator, so the
    # scale-correct rewrite is a left join against the DISTINCT key set:
    # the distinct pre-aggregate is map-side combined, bounds the build
    # side to |unique keys|, and guarantees no row duplication. One
    # shuffle on the key (same as the semi join would cost); at 100 TB the
    # distinct side of a selective predicate is often broadcast-able —
    # Spark's AQE decides from runtime stats.
    oracle="""
    SELECT c.c_custkey, c.c_mktsegment,
           (o.o_custkey IS NOT NULL) AS has_urgent_order
    FROM customer c
    LEFT JOIN (SELECT DISTINCT o_custkey FROM orders
               WHERE o_orderpriority = '1-URGENT') o
      ON c.c_custkey = o.o_custkey
    """,
)
def join_existence_mark(spark, sf_dir):
    c = load(spark, sf_dir, "customer")
    urgent = (
        load(spark, sf_dir, "orders")
        .filter(F.col("o_orderpriority") == "1-URGENT")
        .select("o_custkey")
        .distinct()
    )
    return c.join(
        urgent, c["c_custkey"] == urgent["o_custkey"], "left"
    ).select(
        "c_custkey",
        "c_mktsegment",
        F.col("o_custkey").isNotNull().alias("has_urgent_order"),
    )


@query(
    "join_fuzzy_entity_resolution",
    # Entity resolution with edit distance: a small "dirty batch" of
    # corrupted names (one character X-ed out, derived deterministically
    # from every 50th customer) is matched against the master table by
    # levenshtein <= 2, keeping the best match per probe (min distance,
    # key tiebreak). Physical shape: the dirty batch is the BROADCAST
    # side of a nested-loop probe — the legitimate plan for fuzzy
    # predicates (no equi-key exists by construction); cost is
    # O(|master| × |batch|) with |batch| small and the corpus scanned
    # ONCE. At 100 TB you add a blocking key (length band / phonetic
    # bucket) to cut the per-row candidate set; the fixture's uniform
    # name shape makes every blocking key degenerate, so the probe is
    # the honest minimal form.
    oracle="""
    WITH probe AS (
      SELECT c_custkey AS p_key,
             substr(c_name, 1, 10) || 'X' || substr(c_name, 12) AS p_name
      FROM customer WHERE c_custkey % 50 = 0
    ),
    cand AS (
      SELECT p.p_key, p.p_name, m.c_custkey, m.c_name,
             levenshtein(p.p_name, m.c_name) AS dist
      FROM probe p JOIN customer m
        ON levenshtein(p.p_name, m.c_name) <= 2
    )
    SELECT p_key, p_name, c_custkey AS matched_key, dist FROM (
      SELECT *, row_number() OVER (PARTITION BY p_key
                                   ORDER BY dist, c_custkey) AS rn
      FROM cand
    ) WHERE rn = 1
    """,
)
def join_fuzzy_entity_resolution(spark, sf_dir):
    from pyspark.sql import Window

    c = load(spark, sf_dir, "customer")
    probe = c.filter(F.col("c_custkey") % 50 == 0).select(
        F.col("c_custkey").alias("p_key"),
        F.concat(
            F.substring("c_name", 1, 10),
            F.lit("X"),
            F.expr("substring(c_name, 12)"),
        ).alias("p_name"),
    )
    # r16 opt (guide §2.5 input parallelism): the master side streams
    # through the broadcast-nested-loop probe, and a small parquet scans
    # as ONE split — every |master|×|batch| levenshtein ran on a single
    # core. Round-robin repartition to the scheduler's parallelism puts
    # all cores on the probe; the knob scales with the cluster instead of
    # hard-coding the local core count.
    master = c.select("c_custkey", "c_name").repartition(
        spark.sparkContext.defaultParallelism
    )
    # r16 opt (guide §1.2 per-task work): the broadcast-nested-loop
    # predicate ran the UNbounded levenshtein — O(|a|·|b|) per compared
    # pair. The bounded form levenshtein(a, b, k) early-exits once the
    # distance provably exceeds k (returns -1), an O(k·|a|) band compute;
    # dist <= 2 ⟺ bounded(…, 2) >= 0, and when it holds the returned
    # value IS the distance, so the emitted column is unchanged.
    dist = F.levenshtein(F.col("p_name"), F.col("c_name"), 2)
    cand = (
        master.join(F.broadcast(probe), dist >= 0)
        .select("p_key", "p_name", "c_custkey", dist.alias("dist"))
    )
    w = Window.partitionBy("p_key").orderBy(
        F.col("dist").asc(), F.col("c_custkey").asc()
    )
    return (
        cand.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select("p_key", "p_name", F.col("c_custkey").alias("matched_key"), "dist")
    )


@query(
    "join_asof_tolerance",
    # As-of with a staleness bound (pandas merge_asof's `tolerance`): the
    # latest order at-or-before the event per user, but only if it is at
    # most 30 days old — stale matches become NULL, not silently-ancient
    # joins (the feature-store freshness contract: serving a 2-year-old
    # feature is worse than serving none). LEFT join keeps every event.
    # Same scale shape as join_asof — user-key equi-join + per-event
    # rank-1 — the tolerance is one more pushed conjunct, which also
    # SHRINKS the join fan-out (at 100 TB the bound doubles as the
    # time-bucketing prune).
    oracle="""
    WITH matched AS (
      SELECT event_id, o_orderkey, order_us FROM (
        SELECT e.event_id, o.o_orderkey,
               epoch_us(o.o_orderdate) AS order_us,
               row_number() OVER (
                 PARTITION BY e.event_id
                 ORDER BY o.o_orderdate DESC, o.o_orderkey DESC) AS rn
        FROM events e JOIN orders o
          ON o.o_custkey = e.user_id
         AND epoch_us(o.o_orderdate) <= epoch_us(e.ts)
         AND epoch_us(o.o_orderdate) >= epoch_us(e.ts) - 2592000000000
      ) WHERE rn = 1
    )
    SELECT e.event_id, e.user_id, m.o_orderkey, m.order_us
    FROM events e LEFT JOIN matched m ON m.event_id = e.event_id
    """,
)
def join_asof_tolerance(spark, sf_dir):
    e = load(spark, sf_dir, "events").select(
        "event_id", "user_id", epoch_us("ts").alias("ev_us")
    )
    o = load(spark, sf_dir, "orders").select(
        "o_custkey", "o_orderkey", epoch_us("o_orderdate").alias("order_us")
    )
    j = e.join(
        o,
        (o["o_custkey"] == e["user_id"])
        & (o["order_us"] <= e["ev_us"])
        & (o["order_us"] >= e["ev_us"] - 2592000000000),
    )
    w = Window.partitionBy("event_id").orderBy(
        F.col("order_us").desc(), F.col("o_orderkey").desc()
    )
    matched = (
        j.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select(F.col("event_id").alias("m_id"), "o_orderkey", "order_us")
    )
    return e.join(matched, e["event_id"] == matched["m_id"], "left").select(
        "event_id", "user_id", "o_orderkey", "order_us"
    )


@query(
    "join_scd2_point_in_time",
    # Point-in-time dimension lookup against SCD2 validity ranges — the
    # warehouse join that makes historical reports truthful: each event
    # gets the order-priority version that was CURRENT at event time
    # (ts_scd2_ranges builds the ranges; this consumes them). Because
    # ranges partition each key's timeline, PIT = as-of on valid_from
    # (latest range starting at-or-before the event) — the same user-key
    # equi-join + rank-1 shape as join_asof; events before a customer's
    # first range fall out (inner). At 100 TB the dimension side is the
    # compacted range table (orders-of-magnitude smaller than the raw
    # history), which is the entire point of the SCD2 build.
    oracle="""
    WITH flagged AS (
      SELECT o_custkey, o_orderpriority, o_orderdate, o_orderkey,
             CASE WHEN lag(o_orderpriority) OVER w IS DISTINCT FROM
                       o_orderpriority THEN 1 ELSE 0 END AS chg
      FROM orders
      WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey)
    ),
    runs AS (
      SELECT *, SUM(chg) OVER (PARTITION BY o_custkey
                               ORDER BY o_orderdate, o_orderkey
                               ROWS UNBOUNDED PRECEDING) AS run_id
      FROM flagged
    ),
    ranges AS (
      SELECT o_custkey, o_orderpriority, run_id,
             epoch_us(min(o_orderdate)) AS vf
      FROM runs GROUP BY o_custkey, o_orderpriority, run_id
    )
    SELECT event_id, user_id, ev_us, o_orderpriority AS prio_at_event, vf
    FROM (
      SELECT e.event_id, e.user_id, epoch_us(e.ts) AS ev_us,
             r.o_orderpriority, r.vf,
             row_number() OVER (
               PARTITION BY e.event_id
               ORDER BY r.vf DESC, r.run_id DESC) AS rn
      FROM events e JOIN ranges r
        ON r.o_custkey = e.user_id AND r.vf <= epoch_us(e.ts)
    ) WHERE rn = 1
    """,
)
def join_scd2_point_in_time(spark, sf_dir):
    o = load(spark, sf_dir, "orders").select(
        "o_custkey", "o_orderpriority", "o_orderdate", "o_orderkey"
    )
    w = Window.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
    flagged = o.withColumn(
        "chg",
        F.when(
            ~F.lag("o_orderpriority").over(w).eqNullSafe(
                F.col("o_orderpriority")
            ),
            1,
        ).otherwise(0),
    )
    w_run = (
        Window.partitionBy("o_custkey")
        .orderBy("o_orderdate", "o_orderkey")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    runs = flagged.withColumn("run_id", F.sum("chg").over(w_run))
    ranges = runs.groupBy("o_custkey", "o_orderpriority", "run_id").agg(
        F.min(epoch_us("o_orderdate")).alias("vf")
    )
    e = load(spark, sf_dir, "events").select(
        "event_id", "user_id", epoch_us("ts").alias("ev_us")
    )
    j = e.join(
        ranges,
        (ranges["o_custkey"] == e["user_id"])
        & (ranges["vf"] <= e["ev_us"]),
    )
    w_pick = Window.partitionBy("event_id").orderBy(
        F.col("vf").desc(), F.col("run_id").desc()
    )
    return (
        j.withColumn("rn", F.row_number().over(w_pick))
        .filter(F.col("rn") == 1)
        .select(
            "event_id",
            "user_id",
            "ev_us",
            F.col("o_orderpriority").alias("prio_at_event"),
            "vf",
        )
    )


@query(
    "join_fk_orphan_audit",
    # Referential-integrity audit over the catalog's FK edges: child
    # rows whose foreign key has no parent (orphans) per relationship —
    # the ingest gate that catches broken joins before queries silently
    # drop rows. Anti-join per edge, union of per-edge counts.
    oracle="""
    SELECT 'lineitem->orders' AS fk, (SELECT count(*) FROM lineitem) AS n_child,
           (SELECT count(*) FROM lineitem l WHERE NOT EXISTS
             (SELECT 1 FROM orders o WHERE o.o_orderkey = l.l_orderkey))
             AS n_orphans
    UNION ALL
    SELECT 'orders->customer', (SELECT count(*) FROM orders),
           (SELECT count(*) FROM orders o WHERE NOT EXISTS
             (SELECT 1 FROM customer c WHERE c.c_custkey = o.o_custkey))
    UNION ALL
    SELECT 'lineitem->part', (SELECT count(*) FROM lineitem),
           (SELECT count(*) FROM lineitem l WHERE NOT EXISTS
             (SELECT 1 FROM part p WHERE p.p_partkey = l.l_partkey))
    UNION ALL
    SELECT 'lineitem->supplier', (SELECT count(*) FROM lineitem),
           (SELECT count(*) FROM lineitem l WHERE NOT EXISTS
             (SELECT 1 FROM supplier s WHERE s.s_suppkey = l.l_suppkey))
    UNION ALL
    SELECT 'customer->nation', (SELECT count(*) FROM customer),
           (SELECT count(*) FROM customer c WHERE NOT EXISTS
             (SELECT 1 FROM nation n WHERE n.n_nationkey = c.c_nationkey))
    ORDER BY fk
    """,
)
def join_fk_orphan_audit(spark, sf_dir):
    """One LEFT ANTI join per FK edge (the parent side is key-only and
    AQE-broadcastable after projection); counts union into a
    relationship-grid report. At 100 TB each audit is a key-projected
    semi-join pass — the cheapest shape that proves integrity."""
    from functools import reduce

    edges = [
        ("lineitem->orders", "lineitem", "l_orderkey", "orders", "o_orderkey"),
        ("orders->customer", "orders", "o_custkey", "customer", "c_custkey"),
        ("lineitem->part", "lineitem", "l_partkey", "part", "p_partkey"),
        ("lineitem->supplier", "lineitem", "l_suppkey", "supplier",
         "s_suppkey"),
        ("customer->nation", "customer", "c_nationkey", "nation",
         "n_nationkey"),
    ]
    frames = []
    for name, child, ck, parent, pk in edges:
        c = load(spark, sf_dir, child).select(ck)
        p = load(spark, sf_dir, parent).select(pk)
        orphans = c.join(p, c[ck] == p[pk], "left_anti").agg(
            F.count("*").alias("n_orphans")
        )
        total = c.agg(F.count("*").alias("n_child"))
        frames.append(
            total.crossJoin(orphans).select(
                F.lit(name).alias("fk"), "n_child", "n_orphans"
            )
        )
    return reduce(lambda a, b: a.unionAll(b), frames).orderBy("fk")
