"""Local pre-verification of every registered query against its DuckDB
oracle twin (SURVEY.md §5.2) — the same row-count + schema +
order-insensitive value check the driver runs, at sf0.001 for speed.

Run the bigger fixture with NAQED_TEST_SF_DIR=/root/testdata/sf0.01.
"""

from __future__ import annotations

import os

import pytest

from naqed_spark.oracle_check import check_key, duck_connect
from naqed_spark.registry import QUERIES, load_all
from naqed_spark.session import get_spark, tune_session

SF_DIR = os.environ.get("NAQED_TEST_SF_DIR", "/root/testdata/sf0.001")

load_all()

# quick tier (VERDICT r13 item 6): this file is part of the fast
# iteration gate — `pytest -m quick` runs entry pins + this sweep/lint.
pytestmark = pytest.mark.quick


@pytest.fixture(scope="session")
def spark():
    s = tune_session(get_spark("naqed-tests"))
    yield s


@pytest.fixture(scope="session")
def duck():
    con = duck_connect(SF_DIR)
    yield con
    con.close()


@pytest.mark.parametrize("key", sorted(QUERIES))
def test_oracle(spark, duck, key):
    problems = check_key(spark, duck, key, SF_DIR)
    assert not problems, "\n".join(problems)


def test_knn_blocked_multiblock(spark, duck, monkeypatch):
    """Force the blocked-broadcast kernel onto the multi-block path (500
    fixture vectors / 150-row blocks = 4 blocks) and require the same
    hash-exact oracle match as the default single-block run — proves the
    per-block top-k + relational merge is exact, not just the degenerate
    1-block case."""
    from naqed_spark.queries import llm

    monkeypatch.setattr(llm, "_knn_block_rows", lambda dim: 150)
    for key in ("llm_knn_bruteforce", "llm_similarity_threshold_join"):
        problems = check_key(spark, duck, key, SF_DIR)
        assert not problems, "\n".join(problems)


def test_hugeint_guard_catches_uncast_sum(spark, duck, monkeypatch):
    """The r3 driver hash-FAILs were oracles emitting uncast integer SUMs
    (DuckDB HUGEINT → Arrow decimal128, serialized differently from
    BIGINT by the driver's hasher) that the old fetchall()-based local
    gate could not see. Prove the hardened Arrow-path gate sees them:
    re-register win_sessionize's oracle WITHOUT the CAST and require a
    HUGEINT complaint."""
    from naqed_spark.registry import ORACLES

    fixed = ORACLES["win_sessionize"]
    assert "CAST(sum(is_new) OVER" in fixed
    uncast = fixed.replace("CAST(sum(is_new) OVER", "(sum(is_new) OVER").replace(
        "AND CURRENT ROW) AS BIGINT)", "AND CURRENT ROW))"
    )
    assert uncast != fixed
    monkeypatch.setitem(ORACLES, "win_sessionize", uncast)
    problems = check_key(spark, duck, "win_sessionize", SF_DIR)
    assert any("HUGEINT" in p for p in problems), problems


def test_unsortable_column_guard_catches_raw_array(spark, duck, monkeypatch):
    """CORRECTNESS_r04's one ERR: a raw array<bigint> emission crashed the
    driver's canonicalizer (pandas sort_values factorize → unhashable
    ndarray) while the old Python-list local compare sailed through. Prove
    the hardened gate fails any sql-oracle key emitting a collection
    column — register a transient key that skips the $array_join
    serialization and require the unsortable-column complaint."""
    from pyspark.sql import functions as F

    from naqed_spark.registry import ORACLES, QUERIES

    def raw_array_query(spark_, sf_dir):
        nation = spark_.read.parquet(f"{sf_dir}/nation.parquet")
        return nation.groupBy("n_regionkey").agg(
            F.sort_array(F.collect_list("n_name")).alias("names")
        )

    monkeypatch.setitem(QUERIES, "_raw_array_probe", raw_array_query)
    monkeypatch.setitem(ORACLES, "_raw_array_probe", "SELECT 1 AS x")
    problems = check_key(spark, duck, "_raw_array_probe", SF_DIR)
    assert any("cannot sort collection columns" in p for p in problems), problems


def test_unsortable_guard_screens_rows_only_keys(spark, duck, monkeypatch):
    """VERDICT r6 item 3: the collection-column guard must run BEFORE the
    ROWS_ONLY early return — a rows-only key emitting array/map/struct
    would crash the driver's pandas canonicalizer remotely while the local
    rows-only gate (row count > 0) stayed green. Register a transient
    ROWS_ONLY key emitting a raw array and require the complaint."""
    from pyspark.sql import functions as F

    from naqed_spark.registry import QUERIES, ROWS_ONLY

    def rows_only_array(spark_, sf_dir):
        nation = spark_.read.parquet(f"{sf_dir}/nation.parquet")
        return nation.groupBy("n_regionkey").agg(
            F.collect_list("n_name").alias("names")
        )

    monkeypatch.setitem(QUERIES, "_rows_only_array_probe", rows_only_array)
    ROWS_ONLY.add("_rows_only_array_probe")
    try:
        problems = check_key(spark, duck, "_rows_only_array_probe", SF_DIR)
    finally:
        ROWS_ONLY.discard("_rows_only_array_probe")
    assert any("cannot sort collection columns" in p for p in problems), problems


def test_no_registered_key_emits_collection_typed_column(spark):
    """Registry-wide schema sweep (VERDICT r4 item 2b + ADVICE r5): NO
    registered key — sql-oracle or rows-only — may emit an array/map/struct
    column; the driver's pandas canonicalizer crashes on them, and the
    rows-only path must stay safe if the driver ever canonicalizes it too.
    Only the DataFrame is built per key (no .collect()), though a few
    builders (parquet sinks, eager-offset keys) do run real Spark jobs at
    construction time, so the sweep is cheap-ish rather than free."""
    from pyspark.sql.types import ArrayType, MapType, StructType

    bad = []
    for key in sorted(QUERIES):
        sdf = QUERIES[key](spark, SF_DIR)
        for f in sdf.schema.fields:
            if isinstance(f.dataType, (ArrayType, MapType, StructType)):
                bad.append((key, f.name, f.dataType.simpleString()))
    assert not bad, bad


def test_no_oracle_emits_hugeint(duck):
    """Every oracle's DuckDB result schema, fetched via Arrow like the
    driver's hasher, must be free of decimal128/HUGEINT columns — the
    type class behind all five r3 hash mismatches."""
    from naqed_spark.registry import ORACLES

    bad = []
    for key, sql in ORACLES.items():
        tbl = duck.execute(sql).arrow()
        for name, typ in zip(tbl.schema.names, tbl.schema.types):
            if "decimal" in str(typ) or "128" in str(typ):
                bad.append((key, name, str(typ)))
    assert not bad, bad


def test_kernel_checkpoint_hygiene(spark, monkeypatch):
    """VERDICT r4 item 6: the blocked vector kernel must not accumulate
    pinned RDDs. Multi-block (150-row blocks, so the fast path falls
    through to 4 blocks): exactly ONE result-sized checkpoint survives
    the build (the merged frame; per-block partials are unpersisted),
    the result is still correct after its partials were freed, and
    release_checkpoints() empties block storage. Single-block: the lazy
    path pins nothing at all."""
    from naqed_spark.queries import llm
    from naqed_spark.registry import QUERIES
    from naqed_spark.session import persistent_rdd_ids, release_checkpoints

    release_checkpoints(spark)
    monkeypatch.setattr(llm, "_knn_block_rows", lambda dim: 150)
    df = QUERIES["llm_knn_bruteforce"](spark, SF_DIR)
    assert len(persistent_rdd_ids(spark)) == 1
    assert df.count() == 500 * 5
    assert release_checkpoints(spark) == 1
    assert persistent_rdd_ids(spark) == set()

    monkeypatch.undo()
    df1 = QUERIES["llm_knn_bruteforce"](spark, SF_DIR)
    assert persistent_rdd_ids(spark) == set()
    assert df1.count() == 500 * 5


def test_ann_lsh_subset_of_bruteforce(spark, duck):
    """The LSH similarity join must emit a SUBSET of the brute-force
    threshold join's pair set (verification is exact, so no false
    positives are possible) with non-trivial recall on the fixture —
    proves the banding actually finds similar pairs rather than
    vacuously passing an empty oracle match."""
    from naqed_spark.registry import QUERIES

    lsh = {
        (r["id_a"], r["id_b"])
        for r in QUERIES["llm_ann_hyperplane_lsh"](spark, SF_DIR).collect()
    }
    assert len(lsh) >= 10, "LSH emitted almost no pairs on the fixture"
    # ground truth: ALL pairs with raw cosine > tau (the brute-force KEY
    # additionally lang-filters via documents, so recompute directly)
    q = """
    WITH v AS (
      SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS e,
             sqrt(list_dot_product(list_transform(embedding, x -> CAST(x AS DOUBLE)),
                  list_transform(embedding, x -> CAST(x AS DOUBLE)))) AS nrm
      FROM embeddings)
    SELECT a.vec_id, b.vec_id
    FROM v a JOIN v b ON a.vec_id < b.vec_id
    WHERE list_dot_product(a.e, b.e) / (a.nrm * b.nrm) > 0.3
    """
    allpairs = set(duck.execute(q).fetchall())
    assert lsh <= allpairs, f"false positives: {sorted(lsh - allpairs)[:5]}"
    assert len(lsh) / len(allpairs) > 0.2, (
        f"recall {len(lsh)}/{len(allpairs)} too low"
    )


def test_sketch_ops_tolerance(spark, duck):
    """The rows-only sketch keys get a real local check in place of the
    SQL oracle: the HLL per-region estimate must be within 2% of the
    exact distinct count (lgConfigK=14 keeps relative error ~0.8%), and
    approx_percentile's median must land within the group's p40-p60
    value band computed exactly by DuckDB."""
    from naqed_spark.registry import QUERIES

    hll = {
        r["n_regionkey"]: (r["est_customers"], r["n_customers"])
        for r in QUERIES["agg_hll_partial_merge"](spark, SF_DIR).collect()
    }
    exact = dict(
        duck.execute(
            "SELECT n_regionkey, count(DISTINCT c_custkey) FROM customer"
            " JOIN nation ON c_nationkey = n_nationkey GROUP BY 1"
        ).fetchall()
    )
    assert set(hll) == set(exact)
    for rk, (est, n_rows) in hll.items():
        assert n_rows == exact[rk]  # the exact companion column is exact
        assert abs(est - exact[rk]) / exact[rk] < 0.02, (rk, est, exact[rk])

    med = {
        r["l_returnflag"]: r["median_qty"]
        for r in QUERIES["agg_approx_percentile_sketch"](spark, SF_DIR).collect()
    }
    bands = dict(
        (f, (lo, hi))
        for f, lo, hi in duck.execute(
            "SELECT l_returnflag, quantile_cont(l_quantity, 0.4),"
            " quantile_cont(l_quantity, 0.6) FROM lineitem GROUP BY 1"
        ).fetchall()
    )
    assert set(med) == set(bands)
    for f, m in med.items():
        lo, hi = bands[f]
        assert lo <= m <= hi, (f, m, lo, hi)
