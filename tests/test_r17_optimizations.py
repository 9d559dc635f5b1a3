"""Focused equivalence tests for the r17 optimization-round rewrites.

Same discipline as test_r16_optimizations: every optimization that changed
an operator's internals pins the NEW spelling to the OLD spelling's result
(or to an invariant the rewrite must preserve) on a constructed input.
"""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from naqed_spark.registry import QUERIES, load_all
from naqed_spark.session import get_spark, tune_session

SF_DIR = os.environ.get("NAQED_TEST_SF_DIR", "/root/testdata/sf0.001")

load_all()

pytestmark = pytest.mark.quick


@pytest.fixture(scope="session")
def spark():
    yield tune_session(get_spark("naqed-r17-opt-tests"))


def test_asof_inner_aggregate_matches_left_window_spelling(spark):
    """The r17 inner-$asof argmin/argmax aggregate returns exactly the
    rows the WindowGroupLimit spelling returns: $how: left (which keeps
    the window path) restricted to matched parents IS that spelling."""
    from naqed_spark.compiler.engine import Engine

    eng = Engine(spark, SF_DIR)
    for strategy in ("backward", "forward", "nearest"):
        asof = {
            "$left_on": "ts",
            "$right_on": "o_orderdate",
            "$per": "event_id",
            "$tiebreak": "o_orderkey",
            "$strategy": strategy,
        }
        spec = {
            "events": {
                "event_id": True,
                "user_id": True,
                "orders": {"$asof": dict(asof), "o_orderkey": True},
            }
        }
        inner = sorted(map(tuple, eng.query(spec).collect()))
        spec["events"]["orders"]["$asof"]["$how"] = "left"
        left = eng.query(spec).filter(F.col("o_orderkey").isNotNull())
        assert inner == sorted(map(tuple, left.collect())), strategy


def test_triangle_corners_match_wedge_join_spelling(spark):
    """_triangle_corners (adjacency explode + one join) emits exactly the
    corner multiset of the canonical e1⋈e2⋈e3 triangle join."""
    from naqed_spark.queries.graph import _triangle_corners

    # two triangles sharing edge (1,2), plus a dangling edge
    edges = [(1, 2), (1, 3), (2, 3), (1, 4), (2, 4), (5, 6)]
    e = spark.createDataFrame(edges, "src long, dst long")
    new = sorted(r.v for r in _triangle_corners(e).collect())
    e1, e2, e3 = e.alias("e1"), e.alias("e2"), e.alias("e3")
    tri = (
        e1.join(e2, F.col("e2.src") == F.col("e1.dst"))
        .join(
            e3,
            (F.col("e3.src") == F.col("e1.src"))
            & (F.col("e3.dst") == F.col("e2.dst")),
        )
        .select(
            F.col("e1.src").alias("a"),
            F.col("e1.dst").alias("b"),
            F.col("e2.dst").alias("c"),
        )
    )
    old = sorted(
        v
        for r in tri.collect()
        for v in (r.a, r.b, r.c)
    )
    assert new == old == sorted([1, 2, 3, 1, 2, 4])


def test_spread_plans_round_robin_above_scan(spark):
    """The r17 spread() keys show a RoundRobinPartitioning exchange so
    the per-row JSON/regex/minhash work runs cluster-wide instead of on
    the single-split scan task."""
    for key in ("fn_json", "fn_cast", "fn_try_safe", "fn_json_roundtrip"):
        plan = (
            QUERIES[key](spark, SF_DIR)
            ._jdf.queryExecution()
            .executedPlan()
            .toString()
        )
        assert "RoundRobinPartitioning" in plan, key


def test_event_id_unique_in_fixture(spark):
    """ADVICE r16: the join_asof argmax rewrite (and the engine's $asof
    per-key grouping) lean on event_id uniqueness — pin the entity
    invariant the equivalence arguments cite."""
    from naqed_spark.catalog import load

    dup = (
        load(spark, SF_DIR, "events")
        .groupBy("event_id")
        .count()
        .filter(F.col("count") > 1)
    )
    assert dup.isEmpty()
