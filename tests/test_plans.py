"""Physical-plan assertions: the scale properties the queries claim
(pushdown, pruning, broadcast policy, partial top-k, no cartesian blowups)
must be visible in `.explain`, not just in docstrings. These run on plans
only — no jobs execute, so they're fast at any scale factor.
"""

from __future__ import annotations

import os

import pytest

from naqed_spark.registry import QUERIES, load_all
from naqed_spark.session import get_spark, tune_session

SF_DIR = os.environ.get("NAQED_TEST_SF_DIR", "/root/testdata/sf0.001")

load_all()

# quick tier (VERDICT r13 item 6): this file is part of the fast
# iteration gate — `pytest -m quick` runs entry pins + this sweep/lint.
pytestmark = pytest.mark.quick


@pytest.fixture(scope="session")
def spark():
    yield tune_session(get_spark("naqed-plan-tests"))


def plan_of(spark, key: str) -> str:
    df = QUERIES[key](spark, SF_DIR)
    return df._jdf.queryExecution().explainString(
        spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
            "formatted"
        )
    )


def tree_of(plan: str) -> str:
    """The operator-tree section (formatted mode repeats every node again in
    the details section — counts must only look at the tree)."""
    return plan.split("\n\n")[0]


def plan_expressions(df):
    """Every expression node of ``df``'s optimized logical plan, as
    ``(class simple name, node)`` pairs."""
    out = []

    def walk(node, exprs):
        it = (node.expressions() if exprs else node.children()).iterator()
        while it.hasNext():
            e = it.next()
            out.append((e.getClass().getSimpleName(), e))
            walk(e, False)

    def plan(p):
        walk(p, True)
        it = p.children().iterator()
        while it.hasNext():
            plan(it.next())

    plan(df._jdf.queryExecution().optimizedPlan())
    return out


def test_q1_pushdown_prune_partial_agg(spark):
    plan = plan_of(spark, "agg_groupby_hash")
    # date filter reaches the parquet scan...
    assert "PushedFilters: [IsNotNull(l_shipdate), LessThanOrEqual" in plan
    # ...only needed columns are read (no l_comment etc.)
    assert "l_comment" not in plan
    # map-side partial aggregation before the single exchange
    tree = tree_of(plan)
    assert tree.count("HashAggregate") == 2
    assert tree.count("Exchange") == 1
    # the money sums run in long lanes: no aggregate sums a decimal input
    # (a per-row BigDecimal buffer is what the lanes replace)
    df = QUERIES["agg_groupby_hash"](spark, SF_DIR)
    sums = [e.child().dataType().simpleString()
            for name, e in plan_expressions(df) if name == "Sum"]
    assert sums and not [t for t in sums if t.startswith("decimal")], sums


def test_star_join_broadcasts_never_shuffles_fact(spark):
    plan = plan_of(spark, "join_multiway_star")
    # all 5 dimension joins broadcast; the lineitem fact side never shuffles
    # (a SortMergeJoin here would shuffle the fact table five times)
    tree = tree_of(plan)
    assert tree.count("BroadcastHashJoin") == 5
    assert "SortMergeJoin" not in tree
    # the only exchanges are broadcast sides + the final tiny aggregation
    assert tree.count("Exchange") - tree.count("BroadcastExchange") == 1


def test_sessionize_computes_lag_once(spark):
    # the previous timestamp feeds both halves of the break flag; one
    # window expression computes it, as the oracle's CTE does
    df = QUERIES["win_sessionize"](spark, SF_DIR)
    lags = [n for n, _ in plan_expressions(df) if n == "Lag"]
    assert len(lags) == 1, lags


def test_topk_uses_window_group_limit(spark):
    # Spark 3.5+ WindowGroupLimit = per-partition partial top-k BEFORE the
    # shuffle; without it the full orders table sorts through the exchange.
    plan = plan_of(spark, "win_row_number_topk")
    assert "WindowGroupLimit" in plan


def test_knn_has_no_quadratic_join(spark):
    # the brute-force k-NN must be the broadcast-matmul form — an O(n^2)
    # pair join would show up as a nested-loop/cartesian operator.
    plan = plan_of(spark, "llm_knn_bruteforce")
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    # round 6: the Arrow matmul kernel runs inside _blocked_union — the
    # single-block common case is LAZY (MapInPandas straight over the
    # parquet scan, no checkpoint); the multi-block case merges
    # checkpointed partials (RDD scans). Either way: no join operator.
    assert "MapInPandas" in plan or "ExistingRDD" in plan or "LogicalRDD" in plan
    assert "SortMergeJoin" not in plan and "BroadcastHashJoin" not in plan


def test_compiler_broadcast_policy(spark):
    # VERDICT r1 item: the compiler must force-broadcast ONLY fixed-size
    # dims (region/nation/supplier). customer/part are AQE's call — a
    # forced broadcast of customer is an executor OOM at 100 TB.
    from naqed_spark.compiler.engine import Engine

    eng = Engine(spark, SF_DIR)
    df = eng.query(
        {
            "orders": {
                "$filter": {"o_orderkey": {"$lt": 100}},
                "o_orderkey": True,
                "customer": {  # to-one hop to a NON-small dim
                    "c_name": True,
                    "nation": {"n_name": True},  # to-one hop to a small dim
                },
            }
        }
    )
    logical = df._jdf.queryExecution().analyzed().toString()
    hinted = [
        line for line in logical.splitlines() if "ResolvedHint" in line
    ]
    # exactly one forced broadcast (nation), none for customer
    assert len(hinted) == 1, logical
    customer_scan_after_hint = False
    seen_hint = False
    for line in logical.splitlines():
        if "ResolvedHint" in line:
            seen_hint = True
            depth_hint = len(line) - len(line.lstrip())
        elif seen_hint and "customer" in line:
            if (len(line) - len(line.lstrip())) > depth_hint:
                customer_scan_after_hint = True
            seen_hint = False
    assert not customer_scan_after_hint, logical


def test_partitioned_sink_prunes_partitions(spark):
    # the event_type='click' filter must prune hive partitions at planning
    # time — reading one directory, not all of them.
    plan = plan_of(spark, "sink_partitioned_parquet")
    assert "PartitionFilters: [isnotnull(event_type" in plan
    assert " = click)" in plan  # (event_type#N = click) inside PartitionFilters


def test_bucketed_join_has_no_shuffle(spark):
    # both sides bucketed on the join key -> co-located join: the ONLY
    # exchange allowed is the final aggregation's (and AQE usually removes
    # even that via bucket-aware agg; accept <=1), never a join shuffle.
    plan = plan_of(spark, "join_bucketed_colocated")
    tree = tree_of(plan)
    assert "SortMergeJoin" in tree or "BroadcastHashJoin" in tree
    # no hashpartitioning exchange may feed the join inputs
    assert "Exchange hashpartitioning(o_orderkey" not in plan
    assert "Exchange hashpartitioning(l_orderkey" not in plan


def test_scans_prune_columns(spark):
    plan = plan_of(spark, "project_select_alias")
    assert "ReadSchema" in plan
    # a 3-column projection must not read the full 16-column lineitem
    read_schema = [
        line for line in plan.splitlines() if "ReadSchema" in line
    ][0]
    assert "l_comment" not in read_schema and "l_shipmode" not in read_schema


def test_sort_multikey_no_single_partition_window(spark):
    # round 4 (ADVICE fix): ranks = row_number within pid + broadcast
    # cumulative offsets — no monotonically_increasing_id bit decoding.
    # Row data may only flow through a pid-PARTITIONED Window; the single
    # partition-less Window allowed is the offset cumsum over the
    # <= nparts aggregated count rows (metadata-sized).
    df = QUERIES["sort_multikey"](spark, SF_DIR)
    plan = df._jdf.queryExecution().executedPlan().toString()
    win_lines = [ln for ln in plan.splitlines() if "Window [" in ln]
    assert win_lines, plan
    for ln in win_lines:
        assert "windowspecdefinition(pid#" in ln or "sum(cnt#" in ln, ln
    assert "BroadcastHashJoin" in plan


def test_subqueries_decorrelate_to_joins(spark):
    # Catalyst must rewrite the correlated forms to joins — a correlated
    # scalar that survives to the physical plan re-executes per row.
    plan = plan_of(spark, "sub_correlated_scalar")
    tree = tree_of(plan)
    assert "SortMergeJoin" in tree or "BroadcastHashJoin" in tree \
        or "ShuffledHashJoin" in tree
    plan = plan_of(spark, "sub_exists_correlated")
    assert "LeftSemi" in plan
    plan = plan_of(spark, "sub_not_in")
    assert "LeftAnti" in plan


def test_stratified_sample_prunes_pre_shuffle(spark):
    plan = plan_of(spark, "sample_stratified_hash")
    assert "WindowGroupLimit" in plan


def test_pair_ops_have_no_cartesian(spark):
    # candidate generation in every near-dup op must be an equality join
    for key in ("llm_ngram_jaccard", "llm_simhash_neardup"):
        plan = plan_of(spark, key)
        assert "CartesianProduct" not in plan, key
        assert "BroadcastNestedLoopJoin" not in plan, key


def test_range_bucketed_join_is_equality(spark):
    # the keyless point-in-interval join must plan as a hash equi-join on
    # the bucket column, never a nested loop over all (point, interval)
    # pairs.
    plan = plan_of(spark, "join_range_bucketed")
    tree = tree_of(plan)
    assert "BroadcastNestedLoopJoin" not in tree
    assert "CartesianProduct" not in tree
    assert (
        "BroadcastHashJoin" in tree
        or "SortMergeJoin" in tree
        or "ShuffledHashJoin" in tree
    )


def test_ivf_candidates_subquadratic(spark):
    # round-4 trained IVF (hash-seeded k=ceil(sqrt(n)) cells + one Lloyd
    # iteration — no fixture labels): the cell-bucketed candidate join must
    # prune the pair space well below brute force n*(n-1).
    from naqed_spark.queries.llm_ext import _ivf_candidates

    e_rows = spark.read.parquet(f"{SF_DIR}/embeddings.parquet").count()
    n_cand = _ivf_candidates(spark, SF_DIR).count()
    assert 0 < n_cand < 0.5 * e_rows * (e_rows - 1)


def test_ivf_no_label_column(spark):
    # the quantizer must be label-free: the physical plan's parquet reads
    # prune down to vec_id + embedding — no label column in any scan.
    # Assert against ReadSchema lines only (ADVICE r13 / VERDICT r14
    # item 6): a whole-plan substring match would trip on an unrelated
    # 'label' in a file path or expression name.
    from naqed_spark.queries.llm_ext import _ivf_candidates

    qe = _ivf_candidates(spark, SF_DIR)._jdf.queryExecution()
    plan = qe.executedPlan().toString()
    schema_lines = [ln for ln in plan.splitlines() if "ReadSchema" in ln]
    assert schema_lines
    assert all("label" not in ln for ln in schema_lines)


def test_ngram_df_cap_bounds_skewed_candidates(spark):
    # VERDICT r3 item 6: a corpus-frequent shingle (stopword run) must not
    # make the candidate join quadratic in its posting list. 100 docs all
    # opening with the same 5 words + unique tails: uncapped -> 100*99/2
    # candidate pairs from that one shingle; df-capped -> none of them.
    from pyspark.sql import functions as F

    from naqed_spark.queries.llm import _shingle_sets
    from naqed_spark.queries.llm_ext import _ngram_candidates

    docs = [
        (i, "the quick brown fox jumps u%da u%db u%dc u%dd" % (i, i, i, i))
        for i in range(100)
    ]
    corpus = spark.createDataFrame(docs, "doc_id long, text string")
    sh = _shingle_sets(corpus.select("doc_id", F.split("text", " ").alias("w")))
    uncapped = _ngram_candidates(sh, 10**9).count()
    capped = _ngram_candidates(sh, 64).count()
    assert uncapped >= 100 * 99 // 2
    assert capped == 0


def test_compiler_window_shares_one_shuffle(spark):
    """compiler_window_rank computes TWO windows (rank + partition sum)
    over the same o_custkey partitioning: the plan must shuffle ONCE and
    feed both Window nodes from it — a second exchange here would double
    the shuffle volume of every E1 $window query at scale. The $qualify
    rank filter must stay AFTER the sum window (QUALIFY semantics: the
    partition total is over unfiltered rows), so no WindowGroupLimit."""
    plan = plan_of(spark, "compiler_window_rank")
    tree = tree_of(plan)
    assert tree.count("Window") == 2
    assert tree.count("Exchange") == 1


def test_compiler_qualify_rank_only_gets_group_limit(spark):
    """When $qualify bounds a lone ranking window, Spark's WindowGroupLimit
    must kick in (per-partition partial top-k before the shuffle) — the E1
    spelling of top-k-per-group compiles to the same plan the hand-built
    win_row_number_topk gets."""
    from naqed_spark.compiler.engine import Engine

    eng = Engine(spark, SF_DIR)
    df = eng.query(
        {
            "orders": {
                "o_custkey": True,
                "o_orderkey": True,
                "$window": {
                    "rk": {
                        "$row_number": {
                            "$partition": ["o_custkey"],
                            "$order": [["o_totalprice", "desc"],
                                       ["o_orderkey", "asc"]],
                        }
                    }
                },
                "$qualify": {"rk": {"$lte": 3}},
            }
        }
    )
    plan = df._jdf.queryExecution().explainString(
        spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
            "formatted"
        )
    )
    assert "WindowGroupLimit" in plan


def test_collect_prunes_child_on_filtered_parent(spark):
    """$collect child-side prune (VERDICT r4 item 7): with a parent
    $filter, the child aggregation input must be semi-joined down to the
    filtered parent's keys — visible as a LeftSemi join in the plan. An
    unfiltered parent must NOT pay that extra join."""
    from naqed_spark.compiler.engine import Engine

    eng = Engine(spark, SF_DIR)

    def plan(spec):
        df = eng.query(spec)
        return df._jdf.queryExecution().explainString(
            spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
                "formatted"
            )
        )

    child = {"$collect": True, "o_orderkey": True}
    filtered = plan({"customer": {"$filter": {"c_mktsegment": "BUILDING"},
                                  "c_custkey": True, "orders": dict(child)}})
    assert "LeftSemi" in filtered
    unfiltered = plan({"customer": {"c_custkey": True, "orders": dict(child)}})
    assert "LeftSemi" not in unfiltered


def test_contamination_broadcasts_eval_set(spark):
    """The decontamination join must broadcast the (benchmark-sized) eval
    trigram set — the training corpus never shuffles for the match — and
    contain no cartesian/nested-loop join."""
    plan = plan_of(spark, "llm_contamination_ngram")
    tree = tree_of(plan)
    assert "BroadcastHashJoin" in tree
    assert "CartesianProduct" not in tree
    assert "BroadcastNestedLoopJoin" not in tree


def test_repetition_score_combines_map_side(spark):
    """Two-level (doc,bigram)→(doc) aggregation: both shuffles must carry
    partially-aggregated rows (partial_count before the first exchange,
    partial max/sum/count before the second) — never the raw exploded
    bigrams — and nothing beyond those two exchanges."""
    plan = plan_of(spark, "llm_repetition_score")
    tree = tree_of(plan)
    assert tree.count("Exchange") == 2
    assert plan.count("partial_count") >= 1
    assert "partial_max" in plan and "partial_sum" in plan


def test_ann_lsh_is_equi_join_and_codegen(spark):
    """The hyperplane-LSH candidate generator must be a hash equi-join on
    (band_idx, band_value) — never a cartesian/nested-loop — and the
    signature pass must stay JVM-side (no Python evals in the plan)."""
    plan = plan_of(spark, "llm_ann_hyperplane_lsh")
    tree = tree_of(plan)
    assert "CartesianProduct" not in tree
    assert "BroadcastNestedLoopJoin" not in tree
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan
    assert "MapInPandas" not in plan


def test_corpus_pipeline_dedup_gets_group_limit(spark):
    """The pipeline's exact-dedup stage (row_number over text, rn=1) must
    get WindowGroupLimit (per-partition min-id before the text shuffle)
    and the whole pipeline must stay join-free and Python-free."""
    plan = plan_of(spark, "llm_corpus_prep_pipeline")
    assert "WindowGroupLimit" in plan
    assert "Join" not in tree_of(plan)
    assert "BatchEvalPython" not in plan and "MapInPandas" not in plan


def test_funnel_shuffles_only_on_user_id(spark):
    """Every exchange in the funnel plan must hash-partition on user_id —
    the stage joins and rollups reuse that one partitioning; any other
    shuffle key would mean a stage re-shuffles event data."""
    df = QUERIES["ts_funnel_stages"](spark, SF_DIR)
    plan = df._jdf.queryExecution().executedPlan().toString()
    import re

    for m in re.finditer(r"Exchange hashpartitioning\(([^,]+)", plan):
        assert m.group(1).startswith("user_id"), m.group(0)


def test_compaction_actually_compacts(spark):
    """sink_compact_small_files must leave the fragmented layout behind:
    the compacted directory holds <= 4 data files where the fragmented
    one holds ~64, with identical row counts."""
    import glob

    from naqed_spark.queries.storage import _scratch

    df = QUERIES["sink_compact_small_files"](spark, SF_DIR)
    n_rows = df.count()
    frag = glob.glob(_scratch("orders_fragmented") + "/part-*")
    comp = glob.glob(_scratch("orders_compacted") + "/part-*")
    assert len(comp) <= 4 < len(frag)
    assert spark.read.parquet(_scratch("orders_fragmented")).count() == n_rows


def test_copurchase_and_nearest_asof_plans(spark):
    """Co-purchase must be a same-key equi self-join (no cartesian), and
    nearest-asof's per-event top-1 must get WindowGroupLimit."""
    plan = plan_of(spark, "graph_copurchase")
    tree = tree_of(plan)
    assert "CartesianProduct" not in tree
    assert "BroadcastNestedLoopJoin" not in tree
    plan = plan_of(spark, "join_asof_nearest")
    # r16: the per-event top-1 is a partial-aggregating min(struct) — the
    # map side reduces to ≤1 row per (event, partition) BEFORE the
    # exchange (the scale role WindowGroupLimit played for the old
    # row_number spelling) and no Window evaluates at all.
    assert "partial_min" in plan, plan
    assert "Window" not in plan, plan


def test_exists_child_is_semi_join_no_fanout(spark):
    # $exists compiles to ONE left-semi equi-join: order columns never
    # enter the plan's output, no fan-out rows materialize, and the
    # filtered child is AQE-broadcastable. NOT EXISTS is the anti twin.
    plan = plan_of(spark, "compiler_exists_child")
    assert "LeftSemi" in plan, plan
    assert "o_orderdate" not in plan  # child pruned to join key + filter col


def test_set_ops_key_plan_shape(spark):
    # (A UNION B) EXCEPT C: the union is a concat (no join); the EXCEPT
    # and DISTINCT steps are aggregate/join exchanges — never a cartesian.
    plan = plan_of(spark, "compiler_set_ops")
    assert "Union" in plan, plan
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_source_roundtrips_have_declared_schema(spark):
    # explicit-schema re-reads: the scan's ReadSchema is the declared
    # struct (no inference pass ran to discover it; bigint stays bigint).
    for key, frag in [
        ("source_csv_roundtrip", "c_custkey:bigint"),
        ("source_json_roundtrip", "o_orderkey:bigint"),
    ]:
        df = QUERIES[key](spark, SF_DIR)
        assert dict(
            (f.name, f.dataType.simpleString()) for f in df.schema.fields
        )[frag.split(":")[0]] == frag.split(":")[1]


def test_aqe_splits_skewed_join_partition(spark):
    """SCALE.md's skew claim, executed: a hot-key join partition above the
    skew threshold is split by AQE at runtime (SortMergeJoin(skew=true) +
    'AQEShuffleRead coalesced and skewed' in the FINAL plan). Thresholds
    are lowered so the fixture-sized demo trips them — at 100 TB the
    defaults (256MB) trip on real hot keys; session.py enables skew join
    globally. Broadcast is disabled so the join cannot dodge the shuffle."""
    from pyspark.sql import functions as F

    saved = {k: spark.conf.get(k, None) for k in (
        "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes",
        "spark.sql.adaptive.skewJoin.skewedPartitionFactor",
        "spark.sql.adaptive.advisoryPartitionSizeInBytes",
        "spark.sql.autoBroadcastJoinThreshold",
        "spark.sql.adaptive.autoBroadcastJoinThreshold",
    )}
    try:
        spark.conf.set(
            "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes",
            "256KB")
        spark.conf.set("spark.sql.adaptive.skewJoin.skewedPartitionFactor", "2")
        spark.conf.set(
            "spark.sql.adaptive.advisoryPartitionSizeInBytes", "256KB")
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        spark.conf.set("spark.sql.adaptive.autoBroadcastJoinThreshold", "-1")
        left = spark.range(150_000).select(
            F.lit(0).alias("k"), F.col("id").alias("v")
        ).union(spark.range(33).select(
            (F.col("id") + 1).alias("k"), F.col("id").alias("v")))
        right = spark.range(34).select(
            F.col("id").alias("k"), (F.col("id") * 10).alias("w"))
        df = left.join(right, "k")
        assert len(df.collect()) == 150_033
        plan = df._jdf.queryExecution().executedPlan().toString()
        assert "skew=true" in plan, plan
    finally:
        for k, v in saved.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)


def test_lateral_topn_decorrelates_to_group_limit(spark):
    # the correlated LATERAL ... LIMIT must be rewritten to a rank window
    # (WindowGroupLimit at partial+final) + a single equi-join — NEVER a
    # per-outer-row re-execution or a nested-loop join
    plan = plan_of(spark, "join_lateral_topn")
    tree = tree_of(plan)
    assert "WindowGroupLimit" in tree
    assert "BroadcastNestedLoopJoin" not in tree
    assert "CartesianProduct" not in tree
    assert "BroadcastHashJoin" in tree or "SortMergeJoin" in tree


def test_scd2_single_partitioning_carries_build(spark):
    # lag -> running sum -> groupBy -> lead all partition on o_custkey:
    # exactly ONE exchange hash-partitions on the dimension key; the rest
    # reuse it (AQE may add coalesce reads, never a new hashpartitioning)
    plan = plan_of(spark, "ts_scd2_ranges")
    tree = tree_of(plan)
    assert tree.count("Exchange") == 1, tree
    assert "hashpartitioning(o_custkey" in plan


def test_gaps_islands_shuffles_on_user_only(spark):
    # distinct-day dedup + window + run groupBy: every exchange in the
    # plan hash-partitions on user_id (alone or with a second grouping
    # column) — no global sort, no other key ever shuffled
    plan = plan_of(spark, "ts_gaps_islands")
    tree = tree_of(plan)
    import re as _re

    hashes = _re.findall(r"hashpartitioning\(([a-z_#0-9L]+)", plan)
    assert hashes, plan
    assert all(h.startswith("user_id") for h in hashes), hashes


def test_ewma_is_jvm_fold_no_python(spark):
    # the weighted fold must stay JVM-side: no Python/Pandas eval nodes,
    # one user_id window, rows-bounded frame
    plan = plan_of(spark, "ts_ewma_bounded")
    tree = tree_of(plan)
    assert "BatchEvalPython" not in tree
    assert "ArrowEvalPython" not in tree
    assert "FlatMapGroupsInPandas" not in tree
    assert tree.count("Window") == 1
    assert "hashpartitioning(user_id" in plan


def test_merge_upsert_broadcasts_delta_keys(spark):
    # the anti-join's build side is the broadcast delta key-set: the base
    # snapshot is scanned once with no shuffle on its side. The sink key's
    # own frame is the post-rewrite read-back (a bare scan), so assert on
    # the pre-write merge plan the sink executes.
    from naqed_spark.catalog import load
    from naqed_spark.queries.storage import merge_upsert_frame

    o = load(spark, SF_DIR, "orders").select(
        "o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice"
    )
    df = merge_upsert_frame(o, o.filter("o_orderkey < 12000"))
    plan = df._jdf.queryExecution().explainString(
        spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
            "formatted"
        )
    )
    tree = tree_of(plan)
    assert "BroadcastHashJoin" in tree
    assert "LeftAnti" in plan
    assert "SortMergeJoin" not in tree
    assert "Exchange hashpartitioning" not in plan


def test_fn_regex_is_single_codegen_scan(spark):
    plan = plan_of(spark, "fn_regex")
    tree = tree_of(plan)
    assert "Exchange" not in tree
    # formatted mode tags codegen stages as "[codegen id : N]"
    assert "codegen id" in plan


def test_dpp_prunes_fact_partitions_at_runtime(spark):
    # the dim filter must reach the hive-partitioned fact SCAN as a
    # dynamic pruning subquery — partitions are skipped at runtime, not
    # filtered after the join
    plan = plan_of(spark, "join_dpp_partition_pruned")
    assert "dynamicpruningexpression" in plan, plan
    tree = tree_of(plan)
    assert "BroadcastHashJoin" in tree


def test_fn_url_single_scan_no_shuffle(spark):
    plan = plan_of(spark, "fn_url")
    tree = tree_of(plan)
    assert "Exchange" not in tree
    assert "codegen id" in plan


def test_runtime_bloom_filter_injected_on_fact_side(spark):
    # the pinned plan must carry a bloom_filter_agg built from the
    # filtered orders keys and a might_contain probe on the lineitem side
    # BEFORE its shuffle; the session confs must be restored afterwards
    prev_bcast = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    plan = plan_of(spark, "join_runtime_bloom_filter")
    assert "bloom_filter_agg" in plan or "might_contain" in plan, plan
    assert spark.conf.get("spark.sql.autoBroadcastJoinThreshold") == prev_bcast


def test_bm25_single_corpus_pass_broadcast_stats(spark):
    # one explode -> one groupBy(doc_id) base frame; corpus stats are a
    # 1-row broadcast crossJoin; the score is row-local arithmetic. The
    # base subtree appears twice statically (main + stats branch) and
    # shares ONE exchange at runtime via ReuseExchange.
    from naqed_spark.registry import QUERIES as _Q

    df = _Q["llm_bm25_score"](spark, SF_DIR)
    plan = df._jdf.queryExecution().explainString(
        spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
            "formatted"
        )
    )
    tree = tree_of(plan)
    assert "CartesianProduct" not in tree
    assert tree.count("Generate") == 2, tree  # base subtree, twice pre-reuse
    assert "SortMergeJoin" not in tree  # never a per-term corpus join
    df.collect()
    final = df._jdf.queryExecution().executedPlan().toString()
    assert "ReusedExchange" in final, final


def test_interval_merge_single_partitioning(spark):
    plan = plan_of(spark, "ts_interval_merge")
    import re as _re

    hashes = _re.findall(r"hashpartitioning\(([a-z_#0-9L]+)", plan)
    assert hashes and all(h.startswith("o_custkey") for h in hashes), hashes


def test_rollup_merge_joins_partials_without_reshuffle(spark):
    # base and delta rollups each shuffle once on the group key; the
    # full-outer merge reuses that partitioning (no third exchange) and
    # never re-reads raw events per group
    plan = plan_of(spark, "ts_rollup_incremental_merge")
    tree = tree_of(plan)
    assert "FullOuter" in plan
    assert tree.count("Exchange") == 2, tree


def test_unigram_broadcasts_vocab(spark):
    # vocabulary-sized model broadcast into the scoring join: the vocab
    # BUILD aggregates by token (its own shuffle — that's the model), but
    # the corpus-sized token stream joins the model via broadcast hash,
    # never a sort-merge shuffle on tok
    plan = plan_of(spark, "llm_unigram_logprob")
    tree = tree_of(plan)
    assert "BroadcastHashJoin" in tree
    assert "Left keys [1]: [tok" in plan  # the scoring join IS the tok join
    assert "SortMergeJoin" not in tree


def test_mixture_sample_is_scan_shaped(spark):
    """llm_mixture_sample: one codegen filter over one scan — NO exchange,
    no randomness; the keep decision is a pure function of doc_id."""
    tree = tree_of(plan_of(spark, "llm_mixture_sample"))
    assert "Exchange" not in tree
    assert "Scan parquet" in tree
    assert "rand" not in tree.lower()


def test_length_filter_broadcasts_bounds(spark):
    """llm_length_filter_percentile: the per-language bounds frame (5 rows)
    broadcasts back — the corpus is never sort-merged on lang."""
    tree = tree_of(plan_of(spark, "llm_length_filter_percentile"))
    assert "BroadcastHashJoin" in tree
    assert "SortMergeJoin" not in tree


def test_any_all_broadcasts_nation_stats(spark):
    """sub_any_all: the quantifier decorrelates to a 25-row min/max
    aggregate broadcast into the supplier scan — never a per-row subquery,
    never a shuffle of the outer table."""
    tree = tree_of(plan_of(spark, "sub_any_all"))
    assert "BroadcastHashJoin" in tree
    assert "SortMergeJoin" not in tree


def test_sorted_clustered_files_have_disjoint_ranges(spark):
    """sink_sorted_clustered: after the range-clustered write every parquet
    file covers a DISJOINT user_id range (footer min/max), so a point/range
    read can prune whole files. Executes the write, then checks the layout
    file-by-file with pyarrow."""
    import glob

    import pyarrow.parquet as pq

    QUERIES["sink_sorted_clustered"](spark, SF_DIR).collect()
    import os as _os
    import tempfile as _tf

    base = _os.environ.get("NAQED_SCRATCH_DIR", _tf.gettempdir())
    files = sorted(glob.glob(f"{base}/naqed_scratch/events_sorted_by_user/part-*.parquet"))
    assert len(files) >= 2, "range write produced a single file — no pruning to test"
    ranges = []
    for f in files:
        md = pq.ParquetFile(f).metadata
        idx = {md.schema.column(i).name: i for i in range(md.num_columns)}["user_id"]
        mins, maxs = [], []
        for rg in range(md.num_row_groups):
            st = md.row_group(rg).column(idx).statistics
            mins.append(st.min)
            maxs.append(st.max)
        ranges.append((min(mins), max(maxs)))
    ranges.sort()
    for (lo1, hi1), (lo2, hi2) in zip(ranges, ranges[1:]):
        assert hi1 <= lo2, f"overlapping file ranges: ({lo1},{hi1}) vs ({lo2},{hi2})"


def test_semdedup_equi_join_no_cartesian(spark):
    """llm_semdedup_cluster: the pair generator is an equi-join on the
    cluster id — never a cartesian/BNLJ — and the dot product stays JVM
    (no Python eval in the plan)."""
    tree = tree_of(plan_of(spark, "llm_semdedup_cluster"))
    assert "CartesianProduct" not in tree
    assert "BroadcastNestedLoopJoin" not in tree
    assert "Python" not in tree


def test_vocab_coverage_topk_not_global_sort(spark):
    """llm_vocab_coverage: the top-K vocab is TakeOrderedAndProject (scale-
    safe partial top-k), not a global Sort, and the vocab probe side is a
    broadcast."""
    tree = tree_of(plan_of(spark, "llm_vocab_coverage"))
    assert "TakeOrderedAndProject" in tree
    assert "BroadcastHashJoin" in tree


def test_null_safe_join_is_hash_join(spark):
    """join_null_safe: EqualNullSafe must plan as a real (broadcast) hash
    join — a nested-loop here would be the O(n*m) trap."""
    tree = tree_of(plan_of(spark, "join_null_safe"))
    assert "BroadcastHashJoin" in tree
    assert "BroadcastNestedLoopJoin" not in tree
    assert "CartesianProduct" not in tree


def test_shuffle_shard_single_exchange_no_global_sort(spark):
    """llm_shuffle_shard: exactly one hash exchange (on the shard id) and
    per-shard windows — a global Sort here would be the 100 TB trap."""
    plan = plan_of(spark, "llm_shuffle_shard")
    tree = tree_of(plan)
    assert tree.count("Exchange") == 1
    assert "hashpartitioning(shard" in plan
    assert "rangepartitioning" not in plan


def test_winnowing_zero_shuffle_fused_pass(spark):
    """llm_winnowing_fingerprint (round 12 rewrite): the whole
    fingerprint — k-gram hashing, rolling minimum, distinct-sort-join —
    is fused into projection-only higher-order passes: ZERO exchanges,
    no Window, no Generate (the r7 spelling exploded ~193 rows/doc
    through one exchange + sort), and no Python. The hash array must
    stay in its own Project (Catalyst must not inline the expensive
    multi-referenced `hs` into the zip_with consumers, which would
    recompute every md5 per shifted view)."""
    plan = plan_of(spark, "llm_winnowing_fingerprint")
    tree = tree_of(plan)
    assert "Exchange" not in tree
    assert "Window" not in tree
    assert "Generate" not in tree
    assert "Python" not in tree
    assert "CartesianProduct" not in tree
    # one Project computes hs, a separate one consumes it
    assert plan.count("md5") == 1


def test_common_neighbors_equi_join_no_cartesian(spark):
    """graph_common_neighbors: the pair generation is an equi-join on the
    shared neighbor — never a cartesian/BNLJ — and the degree frames come
    back broadcast."""
    tree = tree_of(plan_of(spark, "graph_common_neighbors"))
    assert "CartesianProduct" not in tree
    assert "BroadcastNestedLoopJoin" not in tree
    assert "BroadcastHashJoin" in tree


def test_cross_source_overlap_single_agg_chain(spark):
    """llm_cross_source_overlap: one hash-agg chain over the unioned scans
    — the md5 key shuffles, the text never does (no join, no sort)."""
    tree = tree_of(plan_of(spark, "llm_cross_source_overlap"))
    assert "Join" not in tree
    assert "Sort" not in tree


def test_sample_filter_reaches_scan(spark):
    """compiler_sample: the $sample bucket filter is applied at the ROOT
    scan — below the customer join — so the join probes only sampled rows
    (sample-of-join = join-of-samples). The Filter containing the md5
    bucket must appear on the orders side, not above the join."""
    tree = plan_of(spark, "compiler_sample")
    ops = tree.split("\n\n")[0]
    assert "BroadcastHashJoin" in ops or "SortMergeJoin" in ops
    # details section: the md5/conv bucket expression lives in a Filter
    assert "md5" in tree
    join_pos = ops.find("Join")
    # the scan-side filter node index appears AFTER the join node in the
    # formatted tree (children print below parents)
    filt_pos = ops.rfind("Filter")
    assert join_pos != -1 and filt_pos > join_pos


def test_interpolate_single_user_exchange(spark):
    """ts_interpolate_linear: the four ignore-nulls window passes share one
    (user_id, hidx) sort order — a single exchange on user_id feeds every
    Window operator (the spine join may add its own, but no per-window
    re-shuffle: #exchanges must stay well below #window passes)."""
    tree = tree_of(plan_of(spark, "ts_interpolate_linear"))
    # all Window ops stack over ONE Sort — no exchange between windows
    # (the only exchanges are the two pre-join aggregates + the broadcast)
    assert tree.count("Sort") == 1
    assert tree.count("Exchange") <= 3
    assert "Python" not in tree


def test_zorder_read_keeps_codegen(spark):
    """sink_zorder_cluster (plan of the read-back side): the user_id filter
    prunes via parquet min/max — the z-layout write happens inside the
    callable; here we assert the filter is pushed to the scan."""
    import naqed_spark.queries.storage as storage

    df = QUERIES["sink_zorder_cluster"](spark, SF_DIR)
    plan = df._jdf.queryExecution().explainString(
        spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
            "formatted"
        )
    )
    assert "PushedFilters" in plan
    assert "user_id" in plan


def test_nested_struct_pruning_reads_one_leaf(spark):
    """scan_nested_struct_pruning: ReadSchema must contain meta.k only —
    neither the sibling leaf (meta.klass) nor the fat payload column is
    decoded."""
    df = QUERIES["scan_nested_struct_pruning"](spark, SF_DIR)
    plan = df._jdf.queryExecution().explainString(
        spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
            "formatted"
        )
    )
    import re

    m = re.search(r"ReadSchema: (.*)", plan)
    assert m, plan
    rs = m.group(1)
    assert "k" in rs
    assert "payload" not in rs
    assert "klass" not in rs


def test_neighborhood_sampling_uses_group_limit(spark):
    """graph_neighborhood_sampling: both levels must pick top-k via
    WindowGroupLimit (partial top-k before the shuffle) and the hop
    expansion must be an equi-join — never cartesian."""
    plan = plan_of(spark, "graph_neighborhood_sampling")
    assert "WindowGroupLimit" in plan
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_contribution_bounding_uses_group_limit(spark):
    plan = plan_of(spark, "llm_contribution_bounding")
    assert "WindowGroupLimit" in plan
    assert "CartesianProduct" not in plan


def test_lsh_eval_has_no_allpairs(spark):
    """llm_lsh_precision_recall: candidates come from the band equi-join;
    exact Jaccard runs only on candidates — the plan may not contain a
    cartesian/nested-loop anywhere."""
    tree = tree_of(plan_of(spark, "llm_lsh_precision_recall"))
    assert "CartesianProduct" not in tree
    assert "BroadcastNestedLoopJoin" not in tree


def test_containment_join_is_equi(spark):
    tree = tree_of(plan_of(spark, "llm_containment_dedup"))
    assert "CartesianProduct" not in tree
    assert "BroadcastNestedLoopJoin" not in tree


def test_fuzzy_resolution_broadcasts_the_small_side(spark):
    """join_fuzzy_entity_resolution: the nested-loop is the declared plan
    for a non-equi fuzzy predicate, but the BUILD side must be the tiny
    probe batch (broadcast), never the master table."""
    tree = tree_of(plan_of(spark, "join_fuzzy_entity_resolution"))
    assert "BroadcastNestedLoopJoin" in tree
    # exactly one broadcast exchange — the probe side
    assert tree.count("BroadcastExchange") == 1


def test_kcore_and_walks_are_flat_state(spark):
    """graph_kcore / graph_random_walks: after running, the number of
    pinned RDDs must not grow with supersteps (checkpoint+trim — the
    VERDICT r6 item 7 discipline extended to the new fixpoint loops)."""
    from naqed_spark.session import persistent_rdd_ids

    for key in ("graph_kcore", "graph_random_walks"):
        before = len(persistent_rdd_ids(spark))
        QUERIES[key](spark, SF_DIR).collect()
        after = len(persistent_rdd_ids(spark))
        # budget: ≤2 live checkpoints from the fixpoint loop (the r6
        # item 7 discipline) + 2 for the scoped user_edges cache marks
        # (r16 opt: the parsed-events projection feeding both self-join
        # legs, and the edge table itself; constant per key, released
        # when the next query builds — growth per SUPERSTEP is still
        # what this pins).
        assert after - before <= 4, (key, before, after)


def test_keep_best_dedup_uses_group_limit(spark):
    """llm_dedup_keep_best: the argmax keep-policy must partial-aggregate
    map-side (r16: min(struct) + count in ONE hash-agg pair — ≤1 row per
    group per partition through the exchange), never a full window sort
    or a count join. Same scale invariant the old WindowGroupLimit pin
    protected, minus the second exchange and the join."""
    plan = plan_of(spark, "llm_dedup_keep_best")
    assert "partial_min" in plan
    assert "Window" not in plan
    assert "Join" not in plan
    assert "CartesianProduct" not in plan


def test_scd2_pit_is_equi_join_rank1(spark):
    """join_scd2_point_in_time: the PIT lookup is a user-key equi-join +
    rank-1 — no range/nested-loop join anywhere."""
    tree = tree_of(plan_of(spark, "join_scd2_point_in_time"))
    assert "CartesianProduct" not in tree
    assert "BroadcastNestedLoopJoin" not in tree


def test_target_encoding_broadcasts_stats(spark):
    """llm_target_encoding: the per-category stats broadcast back — the
    event table never shuffles."""
    tree = tree_of(plan_of(spark, "llm_target_encoding"))
    assert "BroadcastHashJoin" in tree
    assert "SortMergeJoin" not in tree


def test_tpch_no_cartesian_blowups(spark):
    """Every tpch_* key: no CartesianProduct anywhere, and nested-loop
    joins only where the build side is a 1-row scalar aggregate (the
    Q11/Q15/Q22 broadcast scalar pattern — bounded by construction)."""
    scalar_ok = {
        "tpch_q11_important_values",
        "tpch_q15_top_supplier",
        "tpch_q22_prospects",
    }
    for key in sorted(k for k in QUERIES if k.startswith("tpch_")):
        tree = tree_of(plan_of(spark, key))
        assert "CartesianProduct" not in tree, key
        if key not in scalar_ok:
            assert "BroadcastNestedLoopJoin" not in tree, key


def test_tpch_q6_is_pure_pushed_scan_agg(spark):
    """Q6: every predicate reaches the parquet scan, the read schema is
    the 4 referenced columns, and the aggregate partials map-side with
    exactly one exchange."""
    plan = plan_of(spark, "tpch_q6_revenue_change")
    assert "PushedFilters: [IsNotNull(l_shipdate)" in plan
    assert "GreaterThanOrEqual(l_shipdate" in plan
    assert "LessThan(l_quantity,24.0)" in plan
    for unread in ("l_returnflag", "l_tax", "l_partkey"):
        assert unread not in plan, unread
    tree = tree_of(plan)
    assert tree.count("HashAggregate") == 2
    assert tree.count("Exchange") == 1


def test_tpch_topk_queries_use_takeordered(spark):
    """Q10/Q18: the global top-20 is TakeOrderedAndProject (per-partition
    heaps), never a full Sort of the grouped frame."""
    for key in ("tpch_q10_returned_items", "tpch_q18_large_orders"):
        tree = tree_of(plan_of(spark, key))
        assert "TakeOrderedAndProject" in tree, key


def test_tpch_exists_shapes_are_semi_anti_joins(spark):
    """Q4's EXISTS compiles to LeftSemi; Q16/Q22's NOT IN / NOT EXISTS
    compile to LeftAnti — correlation never becomes a per-row re-scan."""
    assert "LeftSemi" in tree_of(plan_of(spark, "tpch_q4_order_priority"))
    for key in ("tpch_q16_supplier_cnt", "tpch_q22_prospects"):
        assert "LeftAnti" in tree_of(plan_of(spark, key)), key


def test_tpch_q21_correlation_is_one_lineitem_pass(spark):
    """Q21: the three correlation levels re-group one l_orderkey
    partitioning — lineitem is scanned once, never self-joined raw."""
    tree = tree_of(plan_of(spark, "tpch_q21_waiting_supplier"))
    assert tree.count("Scan parquet") <= 3  # lineitem + orders + supplier
    assert "CartesianProduct" not in tree


def test_tpch_q2_filter_below_aggregate(spark):
    """Q2's part filter must reach BELOW the (part, supplier) min
    aggregate as a semi-join (Catalyst cannot hoist it; round-8 fix cut
    the grouped input ~300×): the plan has a LeftSemi, and the part
    filter appears as a pushed filter on the part scan."""
    plan = plan_of(spark, "tpch_q2_min_cost_supplier")
    assert "LeftSemi" in tree_of(plan)
    assert "EqualTo(p_type,STANDARD)" in plan and "LessThan(p_size,10)" in plan


def test_count_star_reads_no_columns(spark):
    """scan_count_star_metadata: every scan's ReadSchema is struct<> —
    count(*) answered without materializing any column."""
    plan = plan_of(spark, "scan_count_star_metadata")
    assert "ReadSchema: struct<>" in plan
    import re

    schemas = re.findall(r"ReadSchema: (struct<[^\n]*)", plan)
    assert schemas and all(s.startswith("struct<>") for s in schemas)


def test_global_sort_is_range_partitioned(spark):
    """sort_global_range_partitioned: the total order comes from a
    rangepartitioning Exchange (parallel per-partition sorts), never a
    SinglePartition funnel."""
    plan = plan_of(spark, "sort_global_range_partitioned")
    assert "rangepartitioning" in plan.lower()
    assert "SinglePartition" not in plan


def test_preference_pairs_single_exchange_no_window(spark):
    """llm_preference_pairs: both extremes come from one max_by/min_by
    hash aggregate — exactly one exchange before the final sort, and no
    Window operator at all (the two-rank-window spelling cost 4)."""
    tree = tree_of(plan_of(spark, "llm_preference_pairs"))
    assert "Window" not in tree
    # one aggregate exchange + the output orderBy's range exchange
    assert tree.count("Exchange") <= 2


def _single_partition_windows(plan: str) -> int:
    """Count Window operators whose feeding Exchange is SinglePartition —
    the 100 TB funnel class (VERDICT r8 items 1-2). Walks each Window's
    first-child chain through order-preserving nodes to the Exchange that
    satisfies its distribution, then reads that node's Arguments from the
    details section."""
    import re

    tree = plan.split("\n\n")[0]
    nodes = []
    for line in tree.splitlines():
        m = re.search(r"([A-Za-z][A-Za-z0-9_ ]*?)\s*\((\d+)\)\s*$", line)
        if not m:
            continue
        indent = re.match(r"[\s:+|-]*", line).group(0)
        nodes.append((len(indent), m.group(1).strip(), int(m.group(2))))
    args = {}
    for m in re.finditer(
        r"\((\d+)\) ([A-Za-z][A-Za-z0-9_ ]*)\n((?:[^\n]+\n)*?)(?=\n|\(\d+\) )",
        plan,
    ):
        am = re.search(r"Arguments: ([^\n]*)", m.group(3))
        if am:
            args[int(m.group(1))] = am.group(1)
    passthrough = {
        "Sort", "Filter", "Project", "WindowGroupLimit", "Window",
        "ColumnarToRow", "InputAdapter",
    }
    count = 0
    for i, (d, name, _nid) in enumerate(nodes):
        if name.split()[0] != "Window":
            continue
        j = i + 1
        while j < len(nodes):
            d2, n2, id2 = nodes[j]
            if d2 <= d:
                break
            base = n2.split()[0]
            if base == "Exchange":
                if "SinglePartition" in args.get(id2, ""):
                    count += 1
                break
            if base not in passthrough:
                break  # join/agg/scan: has its own distribution
            j += 1
    return count


# Every single-partition Window in the whole registry, enumerated and
# justified. The lint below pins this EXACT map: a new partition-less
# window over data-sized input (the class behind VERDICT r8 items 1-2
# and the round-9 two-phase rewrites) fails the suite until it is
# consciously justified here with a boundedness argument.
SINGLE_PARTITION_WINDOW_BUDGET = {
    # two-phase bucket-offset frames, ≤ _SKYLINE_GRID rows by construction
    "agg_abc_classification": 1,
    "agg_ks_statistic": 1,
    # grid cell suffix-max (≤1024 rows) + final window over the pruned
    # Pareto band only
    "agg_skyline_pareto": 2,
    # per-source share frame: one row per corpus source
    "llm_source_concentration": 1,
    # two-phase global rank: offsets over ≤ shuffle-partitions count rows
    "sort_multikey": 1,
    # calendar-bounded daily-aggregate frames (one row per day)
    "win_moving_avg": 1,
    "win_range_frame": 1,
    "win_running_sum": 1,
    "win_rolling_corr": 6,
}

# Row-at-a-time Python evaluation: allowed ONLY in the two §2 keys whose
# contract IS demonstrating that execution model (its ~100x cost vs
# Arrow-batched is asserted elsewhere).
BATCH_EVAL_PYTHON_BUDGET = {"udf_python_scalar": 1, "udtf_python": 1}

# Arrow-batched Python (the sanctioned vectorized escape hatch): only the
# blocked-broadcast vector kernel and its consumers, the multimodal
# decode plumbing, and the three UDF-surface contract keys. Everything
# else stays JVM-side.
ARROW_PYTHON_BUDGET = {
    "llm_hard_negatives": 1,
    "llm_ivf_recall_at_k": 2,
    "llm_knn_bruteforce": 1,
    "llm_knn_label_eval": 1,
    "llm_multimodal_binary": 1,
    # round 12: the real-decode seam — PPM bytes must cross into Python
    # for the stdlib decoder; one Arrow-batched MapInPandas by design
    "llm_multimodal_decode": 1,
    "llm_multimodal_frame_sample": 1,
    "llm_similarity_threshold_join": 1,
    "udaf_applyinpandas": 1,
    "udf_arrow_optimized": 1,
    "udf_pandas_iterator_model": 1,
    "udf_pandas_vectorized": 1,
}
_ARROW_OPS = (
    "MapInPandas", "ArrowEvalPython", "FlatMapGroupsInPandas",
    "PythonMapInArrow",
)

# BroadcastNestedLoopJoin: every occurrence is either the scalar-
# broadcast pattern (crossJoin against a 1-row/grid-sized aggregate —
# totals, thresholds, counts, calendar grids: bounded build side by
# construction) or a contract-defined non-equi join (join_cross,
# join_theta_range, the fuzzy-resolution blocked band). Pinned exactly:
# a new NLJ against a data-sized side fails here until justified.
BNLJ_BUDGET = {
    "agg_abc_classification": 3,
    "agg_association_rules": 1,
    "agg_benford_digits": 1,
    "agg_bloom_from_scratch": 3,
    "agg_chi_square": 3,
    "agg_hhi_index": 1,
    # +2 in round 9: the global-final-agg empty-input fix joins the 1-row
    # n_a/n_b count frames after the aggregate instead of carrying them
    # through a grouped agg (same 1-row build sides, one extra hop each)
    "agg_ks_statistic": 6,
    "agg_percent_of_total": 1,
    "agg_skyline_pareto": 2,
    # anchor-row left joins (≤1-row moment frames, empty-input fix)
    "agg_welch_ttest": 2,
    "graph_centralization": 1,
    # +1 in round 9: empty-input fix joins the 1-row edge-count frame
    # onto the global modularity aggregate
    "graph_modularity": 3,
    "graph_reciprocity": 1,
    "join_cross": 1,
    "join_fk_orphan_audit": 5,
    "join_fuzzy_entity_resolution": 1,
    "join_theta_range": 1,
    "llm_bigram_logprob": 1,
    "llm_bm25_score": 1,
    "llm_collocation_pmi": 2,
    "llm_importance_resample": 5,
    # r16: the IVF centroid-distance passes are k-row broadcast cross
    # joins against intact vector arrays (k = ceil(sqrt(n)) centroids —
    # bounded build side by construction) instead of the old dim-exploded
    # pos equi-join; 4 instances = seed pass + retrained pass × the
    # assigned/probes consumers of the persisted rank frame.
    "llm_ivf_recall_at_k": 5,
    "llm_js_divergence": 2,
    "llm_knn_ivf": 4,
    "llm_perplexity_bucket": 2,
    "llm_sampling_temperature": 3,
    "llm_source_concentration": 1,
    "llm_tfidf": 1,
    "llm_token_budget_mixture": 1,
    "llm_unigram_logprob": 1,
    "tpch_q11_important_values": 1,
    "tpch_q22_prospects": 1,
    "ts_autocorrelation": 1,
    "ts_rolling_active_users": 1,
}


def test_no_unjustified_single_partition_windows(spark):
    """Registry-wide governance lint, ONE plan pass over all keys:
    (a) the set of SinglePartition-fed Window operators equals the
    justified budget — nothing data-sized funnels through a one-task
    window; (b) CartesianProduct appears nowhere; (c) row-at-a-time
    BatchEvalPython only in the two contract demo keys; (d) every
    BroadcastNestedLoopJoin is a pinned scalar-broadcast / contract
    non-equi occurrence. Plan-only (no jobs execute)."""
    got_w, got_bep, got_bnlj, got_cart, got_arrow = {}, {}, {}, {}, {}
    for key in sorted(QUERIES):
        plan = plan_of(spark, key)
        tree = tree_of(plan)
        n = _single_partition_windows(plan)
        if n:
            got_w[key] = n
        if tree.count("BatchEvalPython"):
            got_bep[key] = tree.count("BatchEvalPython")
        if tree.count("BroadcastNestedLoopJoin"):
            got_bnlj[key] = tree.count("BroadcastNestedLoopJoin")
        if tree.count("CartesianProduct"):
            got_cart[key] = tree.count("CartesianProduct")
        n_arrow = sum(tree.count(op) for op in _ARROW_OPS)
        if n_arrow:
            got_arrow[key] = n_arrow
    assert got_cart == {}
    assert got_w == SINGLE_PARTITION_WINDOW_BUDGET
    assert got_bep == BATCH_EVAL_PYTHON_BUDGET
    assert got_bnlj == BNLJ_BUDGET
    assert got_arrow == ARROW_PYTHON_BUDGET


def test_skyline_prunes_before_global_window(spark):
    """agg_skyline_pareto (VERDICT r8 item 1): the partition-less skyline
    window may only consume the grid-pruned Pareto band — the plan must
    show the broadcast dominator join + higher_max_d filter BELOW the
    final window, and the only other window is the suffix-max over the
    ≤1024-row cell frame (itself behind a BroadcastExchange)."""
    plan = plan_of(spark, "agg_skyline_pareto")
    tree = tree_of(plan)
    # exactly the two windows: cell suffix-max + final band skyline
    assert tree.count("Window") == 2
    # the pre-prune join is a broadcast hash join on the bucket id
    assert "BroadcastHashJoin" in tree
    # the dominator filter exists (details section carries expressions)
    assert "higher_max_d" in plan
    # the cell suffix-max window sits under a BroadcastExchange (bounded
    # grid frame), i.e. at least one Window appears below a broadcast
    bcast_sub = tree.split("BroadcastHashJoin")[1]
    assert "Window" in bcast_sub


def test_quality_buckets_use_broadcast_thresholds_no_window(spark):
    """llm_importance_resample / llm_perplexity_bucket (VERDICT r8 item
    2): decile/tercile assignment is a broadcast threshold compare — NO
    window operator anywhere (the prior ntile spelling was a one-task
    total sort of every doc score at corpus scale)."""
    for key in ("llm_importance_resample", "llm_perplexity_bucket"):
        tree = tree_of(plan_of(spark, key))
        assert "Window" not in tree, key
        assert "BroadcastExchange" in tree, key


def test_two_phase_prefix_sums_bound_window_state(spark):
    """agg_ks_statistic / agg_abc_classification (round 9): cumulative
    sums over an unbounded support/dimension are two-phase — the only
    partition-less window runs over the ≤1024-row bucket frame; the
    data-sized cumulative window is hash-partitioned by bucket and its
    offsets arrive via a broadcast join."""
    for key in ("agg_ks_statistic", "agg_abc_classification"):
        plan = plan_of(spark, key)
        tree = tree_of(plan)
        # bucket-offset window + per-bucket local window, nothing else
        assert tree.count("Window") == 2, key
        # the local window is partitioned (bkt), not a global funnel
        assert "hashpartitioning(bkt" in plan, key
        # offsets reach the data-sized side via broadcast
        assert "BroadcastHashJoin" in tree, key


def test_gini_and_tukey_are_two_phase(spark):
    """agg_gini_concentration / agg_tukey_fences (round 9): per-segment
    rank / k-th selection over data-sized input is two-phase — the
    ordered windows are partitioned by (segment, bucket) or restricted
    to the crossing bucket (cbkt), with offsets via broadcast joins;
    no window partitioned by the bare 5-value segment key consumes the
    full frame."""
    import re

    plan = plan_of(spark, "agg_gini_concentration")
    tree = tree_of(plan)
    assert len(re.findall(r"\bWindow \(", tree)) == 2
    assert "BroadcastHashJoin" in tree
    # the data-sized rank window is partitioned by (segment, bucket)
    assert re.search(r"hashpartitioning\(c_mktsegment[^)]*, bkt", plan)

    plan = plan_of(spark, "agg_tukey_fences")
    tree = tree_of(plan)
    assert len(re.findall(r"\bWindow \(", tree)) == 2
    assert "cbkt" in plan  # crossing-bucket filter below the rank window
    assert "BroadcastHashJoin" in tree


def test_pack_sequences_two_phase_prefix_sum(spark):
    """llm_pack_sequences (round 9): the per-source running token count
    is two-phase — bucket-offset window over the bounded bucket frame +
    (source, bucket)-partitioned local cumsums behind a broadcast join;
    no window partitioned on the bare source key."""
    import re

    plan = plan_of(spark, "llm_pack_sequences")
    tree = tree_of(plan)
    assert len(re.findall(r"\bWindow \(", tree)) == 2
    assert "BroadcastHashJoin" in tree
    assert re.search(r"hashpartitioning\(source[^)]*, bkt", plan)


def test_anomaly_zscore_overlap_stitched(spark):
    """ts_anomaly_zscore (round 9): the trailing frame partitions on
    (event_type, day) with a tagged carry-in union — never on the bare
    handful-valued event_type; the per-day tail extraction is a
    WindowGroupLimit partial top-k."""
    plan = plan_of(spark, "ts_anomaly_zscore")
    tree = tree_of(plan)
    assert "is_ctx" in plan  # carry-in rows tagged and dropped post-window
    assert "WindowGroupLimit" in tree  # per-day tail-50
    assert "hashpartitioning(event_type" in plan and ", day" in plan
    assert "Union" in tree


def test_weighted_median_window_runs_on_one_bucket(spark):
    """agg_weighted_median (round 9): the ordered cumulative window may
    only consume the crossing bucket's rows — the plan must filter
    bkt = cbkt (broadcast crossing frame) BELOW the ordered window, and
    every window is partitioned by l_returnflag."""
    plan = plan_of(spark, "agg_weighted_median")
    tree = tree_of(plan)
    assert "cbkt" in plan
    assert "BroadcastHashJoin" in tree
    # offsets window + local cumsum + rank-1 (whose WindowGroupLimit
    # partial top-k is welcome and not counted): all flag-partitioned
    import re

    assert len(re.findall(r"\bWindow \(", tree)) == 3
    assert "hashpartitioning(l_returnflag" in plan


def test_median_over_is_broadcast_join_back(spark):
    """win_median_over (round 9): the per-type median must arrive via a
    broadcast join-back — no Window operator, no fact-table shuffle onto
    a handful of type partitions."""
    tree = tree_of(plan_of(spark, "win_median_over"))
    assert "Window" not in tree
    assert "BroadcastHashJoin" in tree


def test_value_rank_family_is_grid_join_back(spark):
    """win_rank_dense / win_percent_cume (round 9): rank statistics live
    on the broadcast distinct-value grid — the fact/dimension rows flow
    straight from the scan into the final BroadcastHashJoin with NO
    exchange on the probe side, and the only windows are the two-phase
    grid windows (bucket offsets + local prefix)."""
    import re

    for key in ("win_rank_dense", "win_percent_cume"):
        tree = tree_of(plan_of(spark, key))
        assert len(re.findall(r"\bWindow \(", tree)) == 2, key
        lines = tree.splitlines()
        bhj = next(i for i, ln in enumerate(lines)
                   if "BroadcastHashJoin" in ln)
        bex = next(i for i, ln in enumerate(lines[bhj:], bhj)
                   if "BroadcastExchange" in ln)
        probe = "\n".join(lines[bhj + 1:bex])
        assert "Exchange" not in probe, (key, probe)
        assert "Scan parquet" in probe, (key, probe)


def test_ntile_two_level_two_phase(spark):
    """win_ntile (round 9): the tile comes from a closed form over the
    two-level two-phase row_number — the only data-sized window is
    partitioned by the (flag, quantity, orderkey-bucket) cell, never by
    the bare flag."""
    import re

    plan = plan_of(spark, "win_ntile")
    tree = tree_of(plan)
    assert len(re.findall(r"\bWindow \(", tree)) == 4
    assert re.search(
        r"hashpartitioning\(l_returnflag[^)]*l_quantity[^)]*bkt", plan
    )


def test_compiler_pivot_single_exchange_conditional_agg(spark):
    """The E1 $pivot compiles to ONE conditional-aggregate pass (round
    11): a single partial+final HashAggregate pair around a single
    keys-exchange — never Spark's two-phase .pivot() plan, which pays a
    second shuffle for PivotFirst. The derive lands post-agg as a
    projection, no extra exchange."""
    tree = tree_of(plan_of(spark, "compiler_pivot"))
    assert tree.count("Exchange") == 1
    assert tree.count("HashAggregate") == 2
    assert "Window" not in tree


def test_compiler_unpivot_zero_shuffle_generate(spark):
    """$unpivot is a codegen Generate under the pushed status filter —
    zero exchanges, and the filter reaches the parquet scan."""
    plan = plan_of(spark, "compiler_unpivot")
    tree = tree_of(plan)
    assert "Generate" in tree
    assert "Exchange" not in tree
    assert "PushedFilters: [IsNotNull(o_orderstatus), EqualTo(o_orderstatus,F)]" in plan


def test_compiler_sample_stratified_partial_topk(spark):
    """The stratified $sample's rank filter must plan as
    WindowGroupLimit on BOTH sides of the exchange (partial per-stratum
    top-k before the shuffle, final after): the exchange then carries
    O(keep x strata x input partitions) rows, not the table."""
    tree = tree_of(plan_of(spark, "compiler_sample_stratified"))
    assert tree.count("WindowGroupLimit") == 2
    assert tree.count("Exchange") == 1


def test_compiler_agg_stats_single_exchange_partial_agg(spark):
    """The M11 statistical aggregates (round 13): all four moments are
    merge-able accumulators, so the plan must be ONE partial+final
    hash-aggregate pair around a single exchange on the group key —
    map-side combine ships (n, Σx, Σx²) triples, never rows. A second
    exchange (or a sort-aggregate fallback) here would shuffle the full
    lineitem table at 100 TB."""
    plan = plan_of(spark, "compiler_agg_stats")
    tree = tree_of(plan)
    assert tree.count("HashAggregate") == 2
    assert tree.count("Exchange") == 1
    # column pruning: only the group key + measured column are read
    assert "l_comment" not in plan and "l_extendedprice" not in plan


def test_compiler_percentile_single_exchange(spark):
    """$median/$percentile: Spark's exact percentile is an ObjectHashAgg
    (buffered per-group value counts), still one partial+final pair and
    one exchange — correct here because the value domain is 200 distinct
    quantities; unbounded domains route to the approx-sketch keys."""
    plan = plan_of(spark, "compiler_percentile")
    tree = tree_of(plan)
    assert tree.count("Exchange") == 1
    assert ("ObjectHashAggregate" in tree) or ("HashAggregate" in tree)
    assert "SortAggregate" not in tree


def test_compiler_asof_forward_window_group_limit(spark):
    """$strategy forward shares the asof plan family: equi-join with the
    direction predicate IN the join condition (at-or-after rows pruned at
    the join, never materialized) + the rank-1 pick. r17: the inner hop's
    pick is the argmin struct aggregate (partial_min — ≤1 row per parent
    key per partition through the exchange, no Sort/WindowGroupLimit; the
    same never-materialize-the-fan-out invariant, minus the sort)."""
    plan = plan_of(spark, "compiler_asof_forward")
    tree = tree_of(plan)
    assert "WindowGroupLimit" not in tree
    assert "partial_min" in plan
    # the at-or-after bound rides the equi-join's residual condition,
    # not a post-join Filter: the details section must show the µs
    # comparison inside a "Join condition" line
    assert any(
        "Join condition:" in ln and "unix_micros" in ln and ">=" in ln
        for ln in plan.splitlines()
    )
    assert "CartesianProduct" not in tree and "BroadcastNestedLoop" not in tree


def test_compiler_vector_similarity_exchange_free_projection(spark):
    """The M12 vector ops (round 13): one codegen projection over the
    pruned scan — zero exchanges, zero Python eval nodes (the HOFs are
    JVM lambdas, not UDFs). At 100 TB this is the map-side scoring
    kernel; any Exchange or BatchEvalPython here means the lowering
    regressed to a shuffle or a Python round-trip."""
    plan = plan_of(spark, "compiler_vector_similarity")
    tree = tree_of(plan)
    assert "Exchange" not in tree
    assert "BatchEvalPython" not in tree and "ArrowEvalPython" not in tree
    # column pruning: label is not requested, so the scan must not read
    # it. Assert against the ReadSchema line(s) only (ADVICE r13): the
    # whole-plan substring match would trip on an unrelated 'label'
    # occurrence in a file path or expression name.
    schema_lines = [ln for ln in plan.splitlines() if "ReadSchema" in ln]
    assert schema_lines
    assert all("label" not in ln for ln in schema_lines)


def test_compiler_vector_topk_take_ordered(spark):
    """The DSL's score→rank→cut similarity search must plan the global
    top-20 as TakeOrderedAndProject (per-partition k-row heaps reduced
    once), NEVER a full global sort exchange — the same strategy the
    sort_topk key pins, now reached through the compiler."""
    plan = plan_of(spark, "compiler_vector_topk")
    tree = tree_of(plan)
    assert "TakeOrderedAndProject" in tree
    assert "Exchange" not in tree
    assert "BatchEvalPython" not in tree and "ArrowEvalPython" not in tree


def test_compiler_split_explode_wordcount_plan(spark):
    """$split+$explode wordcount (round 13, M13): the fan-out must be a
    streaming codegen Generate (never a materialized array join), the
    count a partial+final hash-agg pair around ONE token exchange
    (map-side combine ships (token, n) pairs), and the top-100 a
    TakeOrderedAndProject over the agg output."""
    plan = plan_of(spark, "compiler_split_explode_wordcount")
    tree = tree_of(plan)
    assert "Generate" in tree
    assert tree.count("Exchange") == 1
    assert tree.count("HashAggregate") == 2
    assert "TakeOrderedAndProject" in tree
    assert "BatchEvalPython" not in tree and "ArrowEvalPython" not in tree


def test_compiler_explode_pos_outer_plan(spark):
    """The row-level pos+outer form is map-only: pushed doc_id range
    filter at the scan, one Generate, zero exchanges."""
    plan = plan_of(spark, "compiler_explode_pos_outer")
    tree = tree_of(plan)
    assert "Generate" in tree
    assert "Exchange" not in tree
    assert "PushedFilters: [IsNotNull(doc_id), LessThan(doc_id,50)]" in plan


def test_compiler_where_distinct_docs_plan(spark):
    """$where over the exploded token must stay a streaming Filter in
    the same codegen stage as the Generate (no materialization, no
    Python); the distinct-doc count is the standard two-phase distinct
    aggregate; the cut is TakeOrderedAndProject."""
    plan = plan_of(spark, "compiler_where_distinct_docs")
    tree = tree_of(plan)
    assert "Generate" in tree
    assert "TakeOrderedAndProject" in tree
    assert "BatchEvalPython" not in tree and "ArrowEvalPython" not in tree
    # distinct-agg is allowed a second exchange ((token, doc_id) partial
    # dedup → token re-shuffle); anything beyond that is a regression
    assert tree.count("Exchange") <= 2


def test_compiler_collect_segments_plan(spark):
    """Collections: ONE partial+final aggregate pair around the nation
    exchange — collect_set dedups map-side, so the shuffle carries
    per-partition distinct sets, not rows."""
    plan = plan_of(spark, "compiler_collect_segments")
    tree = tree_of(plan)
    assert tree.count("Exchange") == 1
    assert "ObjectHashAggregate" in tree or "HashAggregate" in tree
    assert "SortAggregate" not in tree


def test_compiler_corr_covar_single_exchange(spark):
    """M15 paired statistics: merge-able moment accumulators — ONE
    partial+final hash-agg pair around the single group exchange, the
    compiler_agg_stats plan family."""
    plan = plan_of(spark, "compiler_corr_covar")
    tree = tree_of(plan)
    assert tree.count("HashAggregate") == 2
    assert tree.count("Exchange") == 1
    assert "SortAggregate" not in tree


def test_compiler_calendar_rollup_single_exchange(spark):
    """M16 calendar rollup: the calendar columns are codegen
    projections on the scan; the month rollup is one partial+final
    hash-agg pair around a single exchange (accumulators, never
    rows)."""
    plan = plan_of(spark, "compiler_calendar_rollup")
    tree = tree_of(plan)
    assert tree.count("HashAggregate") == 2
    assert tree.count("Exchange") == 1
    assert "BatchEvalPython" not in tree and "ArrowEvalPython" not in tree


def test_compiler_string_normalize_plan(spark):
    """M17: the normalization chain must be pure codegen on the scan
    (no Python eval), with the standard two-phase distinct aggregate —
    at most two exchanges, and only the 8-char prefix in the shuffle."""
    plan = plan_of(spark, "compiler_string_normalize")
    tree = tree_of(plan)
    assert "BatchEvalPython" not in tree and "ArrowEvalPython" not in tree
    assert tree.count("Exchange") <= 2
    assert "SortAggregate" not in tree


def test_compiler_null_combinators_plan(spark):
    """M18: the combinator chain (nullif/coalesce/greatest/least +
    decimal casts) must be pure codegen riding the scan — the rollup is
    one partial+final hash-agg pair around a single ≤5-group exchange
    carrying decimal accumulators, never rows; no Python eval node."""
    plan = plan_of(spark, "compiler_null_combinators")
    tree = tree_of(plan)
    assert tree.count("HashAggregate") == 2
    assert tree.count("Exchange") == 1
    assert "SortAggregate" not in tree
    assert "BatchEvalPython" not in tree and "ArrowEvalPython" not in tree
    # column pruning: only the two combinator inputs are read
    schema_lines = [ln for ln in plan.splitlines() if "ReadSchema" in ln]
    assert schema_lines
    assert all("c_name" not in ln and "c_custkey" not in ln
               for ln in schema_lines)


def test_compiler_traverse_plans_no_cartesian_no_python(spark):
    """M19: the $traverse output plan is the reached-set join back onto
    the entity scan (the BFS ran eagerly over checkpointed frontiers —
    each superstep one equi-join, asserted by the loop's construction).
    The FINAL plan must stay hash/broadcast-joined, with no cartesian
    and no Python eval; the visited side is a checkpoint scan, so the
    entity side still prunes its ReadSchema to the requested fields."""
    for key in ("compiler_traverse_reachable", "compiler_traverse_edges"):
        plan = plan_of(spark, key)
        tree = tree_of(plan)
        assert "CartesianProduct" not in tree, key
        assert "BroadcastNestedLoopJoin" not in tree, key
        assert "BatchEvalPython" not in tree, key
        assert "ArrowEvalPython" not in tree, key
        assert "Scan ExistingRDD" in tree, key  # the checkpointed visited set
    # pruning: the nation traversal requests key+name only — n_comment
    # (if present) or any unrequested column must not be read from the
    # entity scan that feeds the final join
    plan = plan_of(spark, "compiler_traverse_reachable")
    schema_lines = [ln for ln in plan.splitlines() if "ReadSchema" in ln]
    assert schema_lines
    assert all("n_comment" not in ln for ln in schema_lines)


def test_compiler_json_keys_histogram_plan(spark):
    """M20: from_json/map_keys are codegen (no Python eval), the
    fan-out is a streaming Generate (never materialized), and the
    histogram is one partial+final hash-agg pair around a single
    bounded-key exchange carrying accumulators, never event rows."""
    plan = plan_of(spark, "compiler_json_keys_histogram")
    tree = tree_of(plan)
    assert "Generate" in tree
    assert tree.count("HashAggregate") == 2
    assert tree.count("Exchange") == 1
    assert "SortAggregate" not in tree
    assert "BatchEvalPython" not in tree and "ArrowEvalPython" not in tree
    # pruning: only props is read from the scan
    schema_lines = [ln for ln in plan.splitlines() if "ReadSchema" in ln]
    assert schema_lines
    assert all("event_type" not in ln and "user_id" not in ln
               for ln in schema_lines)


def test_compiler_traverse_cheapest_plan(spark):
    """M22: the weighted traversal's final plan is the reached-set
    join on the pruned customer scan (the Bellman-Ford rounds ran over
    checkpointed frontiers) — hash/broadcast joins only, no cartesian,
    no Python eval."""
    plan = plan_of(spark, "compiler_traverse_cheapest")
    tree = tree_of(plan)
    assert "CartesianProduct" not in tree
    assert "BroadcastNestedLoopJoin" not in tree
    assert "BatchEvalPython" not in tree and "ArrowEvalPython" not in tree
    assert "Scan ExistingRDD" in tree  # the checkpointed cost frame
    schema_lines = [ln for ln in plan.splitlines() if "ReadSchema" in ln]
    assert schema_lines
    assert all("c_name" not in ln and "c_acctbal" not in ln
               for ln in schema_lines)


def test_compiler_scalar_threshold_pushdown_plan(spark):
    """M23: the resolved scalar must land as a PUSHED literal on the
    orders scan (never a join against the 1-row aggregate), and the
    rollup is one partial+final hash-agg pair around a single
    exchange."""
    plan = plan_of(spark, "compiler_scalar_threshold")
    tree = tree_of(plan)
    assert "PushedFilters:" in plan and "LessThanOrEqual(o_custkey" in plan
    assert tree.count("HashAggregate") == 2
    assert tree.count("Exchange") == 1
    assert "Join" not in tree
    assert "BatchEvalPython" not in tree and "ArrowEvalPython" not in tree
