"""§2-F: sort / limit / top-k (SURVEY.md:236-243).

The driver's value hash is order-insensitive, so ordering is asserted via a
row_number() rank column computed over the same total order (unique-key
tiebreaks per §7.3 make the rank deterministic).

Scale notes: orderBy().limit(k) compiles to TakeOrderedAndProject — each
partition keeps its local top-k, the driver merges k×partitions rows; no
global sort materializes. sort_multikey's global rank is TWO-PHASE: range
partition + sort within partitions, then per-partition row counts (tiny,
one row per partition) turn into rank offsets — no partition-less Window,
so no shuffle-everything-to-one-task stage anywhere in the plan.
"""

from __future__ import annotations

from pyspark.sql import Window
from pyspark.sql import functions as F

from naqed_spark.queries._util import load, pin
from naqed_spark.registry import query


@query(
    "sort_multikey",
    # (l_orderkey, l_linenumber) is NOT unique in the fixtures — the order
    # covers every emitted column, so rank ties can only occur between
    # fully-identical rows (where rank assignment is interchangeable and
    # the output multiset is unaffected). Null placement is EXPLICIT: the
    # engines' defaults diverge (Spark ASC=nulls first / DESC=nulls last,
    # DuckDB nulls last both ways) — the oracle pins Spark's convention.
    oracle="""
    SELECT l_orderkey, l_linenumber, l_returnflag, l_linestatus, l_quantity,
           row_number() OVER (ORDER BY l_returnflag DESC NULLS LAST,
                              l_linestatus ASC NULLS FIRST,
                              l_orderkey ASC, l_linenumber ASC,
                              l_quantity ASC) AS rnk
    FROM lineitem WHERE l_quantity >= 49
    """,
)
def sort_multikey(spark, sf_dir):
    """Two-phase global rank (the scalable form of row_number() with no
    PARTITION BY — a partition-less Window would move every row to one
    task):

      1. range-partition on the sort key — partition pid holds a contiguous
         slice of the total order, pinned by an eager localCheckpoint (a
         lost block fails loudly; boundary sampling can never silently
         re-run between the jobs below);
      2. per-pid counts → rank offsets, fully relationally: a running sum
         over the <= nparts count rows (tiny partition-less window), then a
         broadcast join back — no driver collect;
      3. rank = offset[pid] + row_number() within pid ordered by the sort
         key (documented semantics only — no monotonically_increasing_id
         bit layout). The pid window hash-shuffles the filtered rows once,
         evenly (range partitions are balanced by construction).
    """
    order = [
        F.col("l_returnflag").desc(),
        F.col("l_linestatus").asc(),
        F.col("l_orderkey").asc(),
        F.col("l_linenumber").asc(),
        F.col("l_quantity").asc(),
    ]
    nparts = int(spark.conf.get("spark.sql.shuffle.partitions"))
    part = pin(
        load(spark, sf_dir, "lineitem")
        .filter(F.col("l_quantity") >= 49)
        .select(
            "l_orderkey",
            "l_linenumber",
            "l_returnflag",
            "l_linestatus",
            "l_quantity",
        )
        .repartitionByRange(nparts, *order)
        .withColumn("pid", F.spark_partition_id())
    )
    counts = part.groupBy("pid").agg(F.count(F.lit(1)).alias("cnt"))
    w_off = Window.orderBy("pid").rowsBetween(Window.unboundedPreceding, -1)
    offsets = counts.select(
        "pid", F.coalesce(F.sum("cnt").over(w_off), F.lit(0)).alias("off")
    )
    w_loc = Window.partitionBy("pid").orderBy(*order)
    return (
        part.withColumn("local", F.row_number().over(w_loc))
        .join(F.broadcast(offsets), "pid")
        .select(
            "l_orderkey",
            "l_linenumber",
            "l_returnflag",
            "l_linestatus",
            "l_quantity",
            (F.col("off") + F.col("local")).cast("int").alias("rnk"),
        )
    )


@query(
    "limit_topk_global",
    oracle="""
    SELECT o_orderkey, o_custkey, o_totalprice
    FROM orders
    ORDER BY o_totalprice DESC, o_orderkey ASC
    LIMIT 10
    """,
)
def limit_topk_global(spark, sf_dir):
    return (
        load(spark, sf_dir, "orders")
        .orderBy(F.col("o_totalprice").desc(), F.col("o_orderkey").asc())
        .limit(10)
        .select("o_orderkey", "o_custkey", "o_totalprice")
    )


@query(
    "sort_global_range_partitioned",
    # Full global ORDER BY — the one sort that genuinely needs a total
    # order across partitions. Spark range-partitions on sampled
    # boundaries (Exchange rangepartitioning, asserted in test_plans) so
    # each of the N partitions sorts locally and the output is globally
    # ordered WITHOUT funnelling through one task — the difference
    # between this and a single-partition window is the whole 100 TB
    # story. Unique (totalprice, orderkey) tiebreak for determinism.
    oracle="""
    SELECT o_orderkey, o_custkey, o_totalprice
    FROM orders WHERE o_orderstatus = 'F'
    ORDER BY o_totalprice DESC, o_orderkey
    """,
)
def sort_global_range_partitioned(spark, sf_dir):
    return (
        load(spark, sf_dir, "orders")
        .filter(F.col("o_orderstatus") == "F")
        .select("o_orderkey", "o_custkey", "o_totalprice")
        .orderBy(F.col("o_totalprice").desc(), "o_orderkey")
    )
