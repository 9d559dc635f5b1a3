"""§2-A extensions: storage-layout operators — the physical-design levers
that matter most at 100 TB (partition pruning, bucketed co-location,
alternate wire formats). Each writes under NAQED_SCRATCH_DIR (must be a
shared filesystem on a real cluster — same caveat as sink_parquet_roundtrip).
"""

from __future__ import annotations

import os
import tempfile

from pyspark.sql import functions as F

from naqed_spark.queries._util import dsum, lanes, load
from naqed_spark.registry import query


def _scratch(sub: str) -> str:
    base = os.environ.get("NAQED_SCRATCH_DIR", tempfile.gettempdir())
    return f"{base}/naqed_scratch/{sub}"


@query(
    "sink_partitioned_parquet",
    # hive-style partitioned layout: the event_type filter must prune
    # directories at planning time (PartitionFilters in the scan, asserted
    # in tests/test_plans.py) — at 100 TB this is the difference between
    # reading one partition and reading everything.
    oracle="""
    SELECT event_id, user_id, value FROM events WHERE event_type = 'click'
    """,
)
def sink_partitioned_parquet(spark, sf_dir):
    out = _scratch("events_by_type")
    ev = load(spark, sf_dir, "events").select(
        "event_id", "user_id", "value", "event_type"
    )
    ev.write.mode("overwrite").partitionBy("event_type").parquet(out)
    # explicit schema: a zero-row partitioned write creates no partition
    # dirs, so inference would fail — the writer's schema is authoritative
    # (partition discovery/pruning is unaffected by a user-supplied schema)
    return (
        spark.read.schema(ev.schema).parquet(out)
        .filter(F.col("event_type") == "click")
        .select("event_id", "user_id", "value")
    )


@query(
    "join_bucketed_colocated",
    # both sides pre-bucketed on the join key with the same bucket count →
    # the join is co-located: NO shuffle exchange on either side (asserted
    # in tests/test_plans.py). This is how a 100 TB fact⋈fact join avoids
    # re-shuffling on every query: pay the layout once at ingest.
    oracle="""
    SELECT o.o_orderkey, o.o_custkey,
           CAST(sum(CAST(l.l_quantity AS DECIMAL(12,2))) AS DOUBLE) AS qty
    FROM orders o JOIN lineitem l ON o.o_orderkey = l.l_orderkey
    WHERE o.o_orderstatus = 'F'
    GROUP BY o.o_orderkey, o.o_custkey
    """,
)
def join_bucketed_colocated(spark, sf_dir):
    n_buckets = 8
    specs = {
        "orders": ("o_orderkey", ["o_orderkey", "o_custkey", "o_orderstatus"]),
        "lineitem": ("l_orderkey", ["l_orderkey", "l_quantity"]),
    }
    for name, (key, cols) in specs.items():
        tbl = f"naqed_bkt_{name}"
        (
            load(spark, sf_dir, name)
            .select(*cols)
            .write.mode("overwrite")
            .option("path", _scratch(f"bucketed/{name}"))
            .bucketBy(n_buckets, key)
            .sortBy(key)
            .saveAsTable(tbl)
        )
    o = spark.table("naqed_bkt_orders").filter(F.col("o_orderstatus") == "F")
    li = spark.table("naqed_bkt_lineitem")
    j, (qty,) = lanes(o.join(li, o["o_orderkey"] == li["l_orderkey"]),
                      "l_quantity")
    return j.groupBy("o_orderkey", "o_custkey").agg(dsum(qty).alias("qty"))


@query(
    "scan_csv_roundtrip",
    oracle="""
    SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice FROM orders
    """,
)
def scan_csv_roundtrip(spark, sf_dir):
    """CSV sink + schema-ful source: the interchange format. Header off,
    explicit schema on read (schema inference is a full extra pass at
    100 TB — never rely on it)."""
    out = _scratch("orders_csv")
    src = load(spark, sf_dir, "orders").select(
        "o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice"
    )
    src.write.mode("overwrite").csv(out)
    return spark.read.schema(
        "o_orderkey bigint, o_custkey bigint, o_orderstatus string,"
        " o_totalprice double"
    ).csv(out)


@query(
    "scan_jsonl_roundtrip",
    oracle="""
    SELECT n_nationkey, n_name, n_regionkey FROM nation
    """,
)
def scan_jsonl_roundtrip(spark, sf_dir):
    """JSON-lines sink + source with explicit schema — the log-shaped
    ingest format."""
    out = _scratch("nation_jsonl")
    src = load(spark, sf_dir, "nation").select(
        "n_nationkey", "n_name", "n_regionkey"
    )
    src.write.mode("overwrite").json(out)
    return spark.read.schema(
        "n_nationkey int, n_name string, n_regionkey int"
    ).json(out)


@query(
    "scan_orc_roundtrip",
    oracle="""
    SELECT s_suppkey, s_name, s_nationkey, s_acctbal FROM supplier
    """,
)
def scan_orc_roundtrip(spark, sf_dir):
    """ORC sink + source — the second columnar wire format Spark ships
    natively (predicate pushdown + column pruning work the same as
    parquet). Roundtrip identity against the source table is the check."""
    out = _scratch("supplier_orc")
    src = load(spark, sf_dir, "supplier").select(
        "s_suppkey", "s_name", "s_nationkey", "s_acctbal"
    )
    src.write.mode("overwrite").orc(out)
    return spark.read.orc(out)


@query(
    "scan_schema_evolution",
    # schema evolution at the scan: a v1 slice written without n_chars, a v2
    # slice with it, read together under mergeSchema — old rows surface the
    # new column as NULL. At 100 TB this is how a year of daily drops with
    # drifting schemas reads as ONE table (with the footer-merge cost paid
    # at planning, which is why production pins the merged schema in a
    # catalog instead of re-inferring per query).
    oracle="""
    SELECT doc_id, lang, NULL AS n_chars FROM documents WHERE doc_id % 2 = 0
    UNION ALL
    SELECT doc_id, lang, n_chars FROM documents WHERE doc_id % 2 = 1
    """,
)
def scan_schema_evolution(spark, sf_dir):
    out = _scratch("docs_evolving")
    d = load(spark, sf_dir, "documents")
    (
        d.filter(F.col("doc_id") % 2 == 0)
        .select("doc_id", "lang")
        .write.mode("overwrite")
        .parquet(f"{out}/v=1")
    )
    (
        d.filter(F.col("doc_id") % 2 == 1)
        .select("doc_id", "lang", "n_chars")
        .write.mode("overwrite")
        .parquet(f"{out}/v=2")
    )
    return (
        spark.read.option("mergeSchema", "true")
        .parquet(f"{out}/v=1", f"{out}/v=2")
        .select("doc_id", "lang", "n_chars")
    )


@query(
    "sink_compact_small_files",
    # Small-file compaction — the datalake maintenance job every large
    # table needs: a fragmented write (64 shuffle-partition files for a
    # 15k-row table) is rewritten into a handful of right-sized files.
    # The oracle is read-back identity: compaction must change LAYOUT,
    # never content. File-count assertions live in tests/test_plans.py.
    oracle="""
    SELECT o_orderkey, o_custkey, o_totalprice FROM orders
    """,
)
def sink_compact_small_files(spark, sf_dir):
    """Scale shape: the compactor is ``repartition(target)`` — a single
    round-robin shuffle sized by total bytes / target file size (here a
    fixed small target; a production compactor computes it from table
    stats). AQE cannot fix file counts after the fact — fragmentation is
    an on-disk property — so the rewrite IS the operator. Reading the
    fragmented table costs one task per small file; the compacted table
    reads in ``target`` tasks."""
    frag = _scratch("orders_fragmented")
    compact = _scratch("orders_compacted")
    o = load(spark, sf_dir, "orders").select(
        "o_orderkey", "o_custkey", "o_totalprice"
    )
    # simulate the fragmented state: one file per shuffle partition
    o.repartition(64).write.mode("overwrite").parquet(frag)
    # the compaction job: rewrite at the target file count
    spark.read.parquet(frag).repartition(4).write.mode("overwrite").parquet(
        compact
    )
    return spark.read.parquet(compact)


@query(
    "sink_merge_upsert",
    # Copy-on-write MERGE (the Delta/Iceberg upsert pattern on plain
    # parquet): a base snapshot receives a delta of keyed updates (matched
    # rows get new status/price) plus inserts (unseen keys); the merge is
    # anti-join(base, delta-keys) UNION ALL delta, rewritten in place and
    # read back. The oracle derives the identical post-merge state purely
    # relationally from `orders`.
    oracle="""
    WITH base AS (
      SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice
      FROM orders WHERE o_orderkey < 12000
    ),
    delta AS (
      SELECT o_orderkey, o_custkey, 'U' AS o_orderstatus,
             o_totalprice + 100.0 AS o_totalprice
      FROM orders WHERE o_orderkey % 7 = 0 AND o_orderkey < 12000
      UNION ALL
      SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice
      FROM orders WHERE o_orderkey >= 12000
    )
    SELECT * FROM base
    WHERE o_orderkey NOT IN (SELECT o_orderkey FROM delta)
    UNION ALL
    SELECT * FROM delta
    """,
)
def sink_merge_upsert(spark, sf_dir):
    """Scale shape: the delta's KEY SET is broadcast into the anti-join,
    so the base table is scanned once with no shuffle; the rewrite is the
    copy-on-write cost. At 100 TB the base is hive-partitioned and the
    anti-join's dynamic partition pruning limits the rewrite to
    partitions containing matched keys — the plan here is that pattern
    minus the partition bookkeeping. (+100.0 on a 2-decimal double is an
    exact IEEE add — bit-identical across engines, no rounding needed.)"""
    base_path = _scratch("orders_merge_base")
    merged_path = _scratch("orders_merge_out")
    o = load(spark, sf_dir, "orders").select(
        "o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice"
    )
    o.filter(F.col("o_orderkey") < 12000).write.mode("overwrite").parquet(
        base_path
    )
    base = spark.read.parquet(base_path)
    merge_upsert_frame(o, base).write.mode("overwrite").parquet(merged_path)
    return spark.read.parquet(merged_path)


def merge_upsert_frame(o, base):
    """The pre-write merge plan (split out so tests/test_plans.py can
    assert the broadcast anti-join shape — the sink key's returned frame
    is the post-rewrite read-back, which is just a scan)."""
    updates = (
        o.filter((F.col("o_orderkey") % 7 == 0) & (F.col("o_orderkey") < 12000))
        .withColumn("o_orderstatus", F.lit("U"))
        .withColumn("o_totalprice", F.col("o_totalprice") + 100.0)
    )
    inserts = o.filter(F.col("o_orderkey") >= 12000)
    delta = updates.unionByName(inserts)
    survivors = base.join(
        F.broadcast(delta.select("o_orderkey")), "o_orderkey", "left_anti"
    )
    return survivors.unionByName(delta)


@query(
    "join_dpp_partition_pruned",
    # Dynamic partition pruning — the 100 TB star-schema workhorse: the
    # fact table is hive-partitioned on the join key; the dimension's
    # selective filter is broadcast into the fact SCAN at runtime, so only
    # matching partitions are read even though the pruning values are not
    # known at plan time. tests/test_plans.py asserts the
    # dynamicpruningexpression lands in the scan's PartitionFilters.
    oracle="""
    WITH dim(event_type, funnel_stage) AS (
      VALUES ('view', 1), ('click', 2), ('purchase', 3),
             ('signup', 0), ('error', 0)
    )
    SELECT e.event_id, e.user_id, e.value, e.event_type, d.funnel_stage
    FROM events e JOIN dim d ON e.event_type = d.event_type
    WHERE d.funnel_stage > 0
    """,
)
def join_dpp_partition_pruned(spark, sf_dir):
    """Scale shape: without DPP this reads every partition of the fact
    table and filters after the join; with DPP the dim filter runs first
    and its surviving join keys become a runtime IN-filter on the fact
    scan's partition column — at 100 TB that is the difference between
    reading 3/5 of the table and all of it, decided without a second
    query. The broadcast side doubles as the join's build side (one read
    of a 5-row dim)."""
    out = _scratch("events_dpp_by_type")
    ev = load(spark, sf_dir, "events").select(
        "event_id", "user_id", "value", "event_type"
    )
    ev.write.mode("overwrite").partitionBy("event_type").parquet(out)
    # explicit schema keeps the read valid when the staged fact table has
    # zero partitions (see sink_partitioned_parquet); DPP operates on the
    # discovered partition values either way
    fact = spark.read.schema(ev.schema).parquet(out)
    dim = spark.createDataFrame(
        [("view", 1), ("click", 2), ("purchase", 3),
         ("signup", 0), ("error", 0)],
        "event_type string, funnel_stage int",
    )
    return (
        fact.join(dim, "event_type")
        .filter(F.col("funnel_stage") > 0)
        .select("event_id", "user_id", "value", "event_type", "funnel_stage")
    )


@query(
    "sink_sorted_clustered",
    # range-clustered sorted layout: repartitionByRange(user_id) +
    # sortWithinPartitions(user_id, event_id) before the write gives every
    # output file a DISJOINT user_id range and sorted pages inside — so a
    # later point/range read prunes whole files from the parquet min/max
    # footer stats instead of scanning everything (the poor man's z-order;
    # the layout is asserted file-by-file in tests/test_plans.py). At
    # 100 TB this is THE lever for read-mostly event tables: pay one
    # range-shuffle at ingest, every downstream user_id query touches
    # 1/Nth of the files. The read-back filter below returns the rows the
    # oracle computes straight from the source table.
    oracle="""
    SELECT event_id, user_id, value FROM events WHERE user_id BETWEEN 40 AND 59
    """,
)
def sink_sorted_clustered(spark, sf_dir):
    out = _scratch("events_sorted_by_user")
    ev = load(spark, sf_dir, "events").select("event_id", "user_id", "value")
    (
        ev.repartitionByRange(8, "user_id")
        .sortWithinPartitions("user_id", "event_id")
        .write.mode("overwrite")
        .parquet(out)
    )
    return (
        spark.read.parquet(out)
        .filter(F.col("user_id").between(40, 59))
        .select("event_id", "user_id", "value")
    )


def _zexpr(idiv: str) -> str:
    """Morton/z-order interleave of two 8-bit buckets (user_id % 256,
    hour-index % 256) as a pure-arithmetic SQL expression — identical
    math in both engines, parameterized only on the integer-division
    operator (Spark ``div``, DuckDB ``//``)."""
    bx = "(user_id % 256)"
    by = "(hidx % 256)"
    terms = []
    for i in range(8):
        terms.append(f"(({bx} {idiv} {1 << i}) % 2) * {1 << (2 * i)}")
        terms.append(f"(({by} {idiv} {1 << i}) % 2) * {1 << (2 * i + 1)}")
    return "(" + " + ".join(terms) + ")"


@query(
    "sink_zorder_cluster",
    # Z-order clustered layout: interleave the bits of TWO filter
    # dimensions (user and hour) into one Morton key, then range-cluster
    # the files on it — so file-level min/max footer stats prune reads on
    # EITHER dimension, not just the leading sort key (the multi-dim
    # upgrade of sink_sorted_clustered; what Delta OPTIMIZE ZORDER BY
    # does). The z-value is pure codegen arithmetic — no UDF — and the
    # write is one range-shuffle; at 100 TB this layout pays for itself on
    # the first selective scan of the non-leading dimension. Read-back
    # filters on user_id and returns what the oracle computes from source.
    oracle=f"""
    SELECT event_id, user_id, hidx, z FROM (
      SELECT event_id, user_id,
             epoch_us(ts) // 3600000000 AS hidx,
             {_zexpr("//").replace("hidx", "(epoch_us(ts) // 3600000000)")} AS z
      FROM events
    ) WHERE user_id BETWEEN 40 AND 59
    """,
)
def sink_zorder_cluster(spark, sf_dir):
    out = _scratch("events_zorder")
    ev = (
        load(spark, sf_dir, "events")
        .select(
            "event_id",
            "user_id",
            F.expr("unix_micros(ts) div 3600000000").alias("hidx"),
        )
        .withColumn("z", F.expr(_zexpr("div")))
    )
    (
        ev.repartitionByRange(8, "z")
        .sortWithinPartitions("z")
        .write.mode("overwrite")
        .parquet(out)
    )
    return (
        spark.read.parquet(out)
        .filter(F.col("user_id").between(40, 59))
        .select("event_id", "user_id", "hidx", "z")
    )


@query(
    "scan_nested_struct_pruning",
    # Nested-schema scan with SUBFIELD pruning: a parquet table with a
    # two-level struct column is read back requesting only meta.k — Spark's
    # nestedSchemaPruning pushes the subfield into ReadSchema, so the scan
    # decodes ONE leaf column instead of the whole struct (asserted in
    # tests/test_plans.py). At 100 TB with wide metadata structs (the
    # multimodal pattern: payload + typed metadata) this is the difference
    # between reading kilobytes and megabytes per row group. The payload
    # column — the big one — is never touched.
    oracle="""
    SELECT event_id,
           CAST(json_extract_string(props, '$.k') AS INTEGER) AS k
    FROM events
    """,
)
def scan_nested_struct_pruning(spark, sf_dir):
    out = _scratch("events_nested")
    ev = load(spark, sf_dir, "events").select(
        "event_id",
        F.struct(
            F.get_json_object("props", "$.k").cast("int").alias("k"),
            F.col("event_type").alias("klass"),
        ).alias("meta"),
        F.repeat(F.col("props"), 10).alias("payload"),
    )
    ev.write.mode("overwrite").parquet(out)
    return spark.read.parquet(out).select(
        "event_id", F.col("meta.k").alias("k")
    )


@query(
    "source_csv_permissive",
    # Error-TOLERANT ingestion: a CSV drop with deterministically
    # corrupted lines (every 7th row gets a non-numeric key) read in
    # PERMISSIVE mode — malformed rows land with NULL typed columns and
    # the raw line preserved in _corrupt_record instead of failing the
    # job (the ingest-side counterpart of fn_try_safe; naqed's $error
    # semantics at the source boundary, SURVEY §1.2). At 100 TB one bad
    # line in a million otherwise kills the nightly load. The key's
    # output counts both populations so the oracle pins the exact
    # good/bad split.
    oracle="""
    SELECT (o_orderkey % 7 = 0) AS corrupted,
           count(*) AS n,
           CAST(sum(CASE WHEN o_orderkey % 7 = 0 THEN 0
                         ELSE o_orderkey END) AS BIGINT) AS key_sum
    FROM orders
    GROUP BY 1
    """,
)
def source_csv_permissive(spark, sf_dir):
    out = _scratch("orders_dirty_csv")
    src = load(spark, sf_dir, "orders").select(
        # every 7th key becomes a non-numeric token -> malformed for the
        # bigint schema below
        F.when(F.col("o_orderkey") % 7 == 0, F.lit("BAD"))
        .otherwise(F.col("o_orderkey").cast("string"))
        .alias("k"),
        F.col("o_orderstatus").alias("st"),
    )
    src.write.mode("overwrite").option("header", False).csv(out)
    dirty = (
        spark.read.schema(
            "o_orderkey bigint, o_orderstatus string, _corrupt_record string"
        )
        .option("mode", "PERMISSIVE")
        .option("columnNameOfCorruptRecord", "_corrupt_record")
        .csv(out)
    )
    return dirty.groupBy(
        F.col("_corrupt_record").isNotNull().alias("corrupted")
    ).agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.coalesce(F.col("o_orderkey"), F.lit(0))).alias("key_sum"),
    )


@query(
    "sink_dynamic_partition_overwrite",
    # Dynamic partition overwrite — the idempotent-backfill primitive:
    # rewriting ONE partition's data replaces ONLY that partition, the
    # others survive untouched (partitionOverwriteMode=dynamic; static
    # mode would wipe the whole table root). The test rewrites the
    # 'click' partition with doubled cents, then reads the whole table:
    # clicks must show the rewrite, every other type the original load.
    # At 100 TB this is how late-arriving corrections land without
    # rewriting the table or breaking readers of other partitions.
    oracle="""
    SELECT event_id, event_type,
           CAST(CASE WHEN event_type = 'click'
                     THEN 2 * CAST(round(value * 100, 0) AS BIGINT)
                     ELSE CAST(round(value * 100, 0) AS BIGINT)
                END AS BIGINT) AS cents
    FROM events
    """,
)
def sink_dynamic_partition_overwrite(spark, sf_dir):
    out = _scratch("events_dyn_overwrite")
    ev = load(spark, sf_dir, "events").select(
        "event_id",
        "event_type",
        F.round(F.col("value") * 100, 0).cast("bigint").alias("cents"),
    )
    ev.write.mode("overwrite").partitionBy("event_type").parquet(out)
    prev = spark.conf.get("spark.sql.sources.partitionOverwriteMode", "STATIC")
    spark.conf.set("spark.sql.sources.partitionOverwriteMode", "dynamic")
    try:
        (
            ev.filter(F.col("event_type") == "click")
            .withColumn("cents", F.col("cents") * 2)
            .write.mode("overwrite")
            .partitionBy("event_type")
            .parquet(out)
        )
    finally:
        spark.conf.set("spark.sql.sources.partitionOverwriteMode", prev)
    # explicit schema: valid even when the staged table has zero partitions
    return (
        spark.read.schema(ev.schema).parquet(out)
        .select("event_id", "event_type", "cents")
    )


@query(
    "source_json_nested_roundtrip",
    # Semi-structured ingestion round trip: per-customer order histories
    # are serialized as NESTED json-lines (object + array-of-structs),
    # written to disk, re-read with an explicit nested schema, and
    # exploded back to rows — the API-export → lake → relational
    # flattening path. The re-read declares the schema (no inference
    # scan) and the array explodes JVM-side; values must survive the
    # full trip bit-exact. Sorted arrays make the nesting
    # order-independent (§7.3).
    oracle="""
    SELECT o_custkey, count(*) AS n_orders,
           CAST(SUM(CAST(round(o_totalprice * 100, 0) AS BIGINT)) AS BIGINT)
             AS cents
    FROM orders
    WHERE o_orderstatus = 'O'
    GROUP BY o_custkey
    """,
)
def source_json_nested_roundtrip(spark, sf_dir):
    out = _scratch("orders_nested_json")
    o = load(spark, sf_dir, "orders").filter(F.col("o_orderstatus") == "O")
    nested = o.groupBy("o_custkey").agg(
        F.sort_array(
            F.collect_list(
                F.struct(
                    F.col("o_orderkey").alias("k"),
                    F.round(F.col("o_totalprice") * 100, 0)
                    .cast("bigint")
                    .alias("cents"),
                )
            )
        ).alias("orders")
    )
    nested.write.mode("overwrite").json(out)
    back = spark.read.schema(
        "o_custkey bigint, orders array<struct<k: bigint, cents: bigint>>"
    ).json(out)
    flat = back.select(
        "o_custkey", F.explode("orders").alias("o")
    ).select("o_custkey", F.col("o.k"), F.col("o.cents").alias("cents"))
    return flat.groupBy("o_custkey").agg(
        F.count(F.lit(1)).alias("n_orders"),
        F.sum("cents").alias("cents"),
    )


@query(
    "source_schema_evolution",
    # Schema evolution across parquet file generations: generation 1
    # writes (o_orderkey, o_totalprice); generation 2 adds a
    # priority column. mergeSchema unifies the footers and back-fills
    # NULL for the missing column — the append-only lake contract where
    # old files are never rewritten. The oracle simulates both
    # generations with a NULL-extended union.
    oracle="""
    SELECT o_orderkey, o_totalprice, CAST(NULL AS VARCHAR) AS priority,
           1 AS gen
    FROM orders WHERE o_orderkey % 2 = 0
    UNION ALL
    SELECT o_orderkey, o_totalprice, o_orderpriority, 2
    FROM orders WHERE o_orderkey % 2 = 1
    """,
)
def source_schema_evolution(spark, sf_dir):
    """mergeSchema pays a footer read per file at planning time — at
    100 TB you pin the merged schema in a catalog instead of
    re-merging per query, but the NULL back-fill semantics are
    identical. Columns present in both generations stay scan-prunable."""
    out = _scratch("orders_evolving")
    o = load(spark, sf_dir, "orders")
    g1 = o.filter(F.col("o_orderkey") % 2 == 0).select(
        "o_orderkey", "o_totalprice", F.lit(1).alias("gen")
    )
    g2 = o.filter(F.col("o_orderkey") % 2 == 1).select(
        "o_orderkey",
        "o_totalprice",
        F.col("o_orderpriority").alias("priority"),
        F.lit(2).alias("gen"),
    )
    g1.write.mode("overwrite").parquet(f"{out}/gen=1")
    g2.write.mode("overwrite").parquet(f"{out}/gen=2")
    merged = spark.read.option("mergeSchema", "true").parquet(
        f"{out}/gen=1", f"{out}/gen=2"
    )
    return merged.select("o_orderkey", "o_totalprice", "priority", "gen")


@query(
    "sink_scd2_apply_changes",
    # APPLY CHANGES INTO an SCD2 dimension: a change batch (customers
    # crossing an account-balance threshold re-segment to 'UPGRADED'
    # effective 2000-01-01) closes the affected open rows and inserts
    # new open rows; untouched rows pass through. The relational form
    # of the MERGE every warehouse dimension pipeline runs — emitted as
    # the full post-merge dimension state.
    oracle="""
    WITH dim AS (
      SELECT c_custkey, c_mktsegment AS segment,
             '1995-01-01' AS valid_from, CAST(NULL AS VARCHAR) AS valid_to
      FROM customer
    ), changes AS (
      SELECT c_custkey FROM customer WHERE c_acctbal > 8000
    )
    SELECT d.c_custkey, d.segment, d.valid_from,
           CASE WHEN ch.c_custkey IS NOT NULL THEN '2000-01-01' END
             AS valid_to
    FROM dim d LEFT JOIN changes ch ON d.c_custkey = ch.c_custkey
    UNION ALL
    SELECT c_custkey, 'UPGRADED', '2000-01-01', CAST(NULL AS VARCHAR)
    FROM changes
    """,
)
def sink_scd2_apply_changes(spark, sf_dir):
    """One equi-join marks rows to close (LEFT join keeps the pass-
    through rows in the same pass) and the insert set is the change
    batch itself — two scans of the dimension total, no per-row MERGE
    loop; at 100 TB the join partitions on the dimension key and
    dynamic partition overwrite rewrites only touched partitions
    (sink_dynamic_partition_overwrite is the write half)."""
    cust = load(spark, sf_dir, "customer")
    dim = cust.select(
        "c_custkey",
        F.col("c_mktsegment").alias("segment"),
        F.lit("1995-01-01").alias("valid_from"),
        F.lit(None).cast("string").alias("valid_to"),
    )
    changes = cust.filter(F.col("c_acctbal") > 8000).select(
        F.col("c_custkey").alias("ch_key")
    )
    closed = dim.join(
        changes, dim["c_custkey"] == changes["ch_key"], "left"
    ).select(
        "c_custkey",
        "segment",
        "valid_from",
        F.when(F.col("ch_key").isNotNull(), F.lit("2000-01-01")).alias(
            "valid_to"
        ),
    )
    inserted = changes.select(
        F.col("ch_key").alias("c_custkey"),
        F.lit("UPGRADED").alias("segment"),
        F.lit("2000-01-01").alias("valid_from"),
        F.lit(None).cast("string").alias("valid_to"),
    )
    return closed.unionAll(inserted)
