"""Iterative-graph validation the SQL oracle can't cover (SURVEY §5.2-3):
PageRank against a NumPy power-iteration reference on the same edges, and
invariants (probability mass, BFS/CC consistency)."""

from __future__ import annotations

import numpy as np
import pytest
from pyspark.sql import functions as F

from naqed_spark.queries.graph import user_edges
from naqed_spark.registry import QUERIES, load_all
from naqed_spark.session import get_spark, tune_session

SF_DIR = "/root/testdata/sf0.001"

load_all()


@pytest.fixture(scope="module")
def spark():
    return tune_session(get_spark("naqed-graph-tests"))


def test_pagerank_matches_numpy(spark):
    edges = [(r.src, r.dst) for r in user_edges(spark, SF_DIR).collect()]
    verts = sorted({v for e in edges for v in e})
    idx = {v: i for i, v in enumerate(verts)}
    n = len(verts)
    outdeg = np.zeros(n)
    for s, _ in edges:
        outdeg[idx[s]] += 1
    pr = np.full(n, 1.0 / n)
    for _ in range(10):
        inflow = np.zeros(n)
        for s, d in edges:
            inflow[idx[d]] += pr[idx[s]] / outdeg[idx[s]]
        dangling = pr[outdeg == 0].sum()
        pr = 0.15 / n + 0.85 * (inflow + dangling / n)

    got = {
        r.v: r.pagerank
        for r in QUERIES["graph_pagerank_fixed"](spark, SF_DIR).collect()
    }
    assert set(got) == set(verts)
    assert abs(sum(got.values()) - 1.0) < 1e-3  # probability mass conserved
    for v in verts:
        assert abs(got[v] - pr[idx[v]]) < 1e-5, (v, got[v], pr[idx[v]])


def test_bfs_dist_zero_is_source(spark):
    rows = QUERIES["graph_reachability_bfs"](spark, SF_DIR).collect()
    dists = {r.user_id: r.dist for r in rows}
    assert dists.get(0) == 0
    assert all(d >= 0 for d in dists.values())


def test_connected_components_labels_are_members(spark):
    rows = QUERIES["graph_connected_components"](spark, SF_DIR).collect()
    comp = {r.user_id: r.component for r in rows}
    # a component label is the min vertex id of the component → must itself
    # be a vertex carrying its own label
    for label in set(comp.values()):
        assert comp[label] == label


def test_scc_adversarial_graphs(spark):
    """The SCC coloring loop on hand-built graphs: a chain of two cycles
    joined by a one-way bridge (two SCCs, forcing a second outer round),
    a pure DAG (every vertex its own SCC), and a full cycle (one SCC)."""
    from naqed_spark.queries.graph import scc_labels

    def run(edges):
        df = spark.createDataFrame(edges, "src long, dst long")
        return {
            r["v"]: r["scc"] for r in scc_labels(spark, df).collect()
        }

    # cycle {0,1,2} -> bridge -> cycle {10,11}
    two = run([(0, 1), (1, 2), (2, 0), (2, 10), (10, 11), (11, 10)])
    assert two == {0: 0, 1: 0, 2: 0, 10: 10, 11: 10}

    # DAG: all singleton SCCs
    dag = run([(1, 2), (2, 3), (1, 3), (3, 4)])
    assert dag == {1: 1, 2: 2, 3: 3, 4: 4}

    # one big cycle
    cyc = run([(5, 6), (6, 7), (7, 8), (8, 5)])
    assert cyc == {5: 5, 6: 5, 7: 5, 8: 5}


def test_scc_empty_edges_returns_empty_frame(spark):
    """ADVICE r6: an empty edge frame used to leave `done = None` and crash
    graph_scc with AttributeError; now it yields an empty (v, scc) frame."""
    from naqed_spark.queries.graph import scc_labels

    df = spark.createDataFrame([], "src long, dst long")
    out = scc_labels(spark, df)
    assert [f.name for f in out.schema.fields] == ["v", "scc"]
    assert out.count() == 0


def test_scc_pinned_rdds_flat_across_supersteps(spark):
    """VERDICT r6 item 7: the coloring loop retains O(1) checkpoint state —
    after a multi-round SCC run the number of NEW pinned RDD ids is the
    live frontier (done/verts/edges + fixpoint labels), not one per
    superstep. A 2-SCC bridge graph forces >= 2 outer rounds and several
    inner supersteps; without the per-step unpersist this pins ~15+ ids."""
    from naqed_spark.queries.graph import scc_labels
    from naqed_spark.session import persistent_rdd_ids, unpersist_rdds

    before = persistent_rdd_ids(spark)
    df = spark.createDataFrame(
        [(0, 1), (1, 2), (2, 0), (2, 10), (10, 11), (11, 10)],
        "src long, dst long",
    )
    done = scc_labels(spark, df)
    got = {r["v"]: r["scc"] for r in done.collect()}
    assert got == {0: 0, 1: 0, 2: 0, 10: 10, 11: 10}
    mine = persistent_rdd_ids(spark) - before
    assert len(mine) <= 5, f"checkpoint leak: {len(mine)} new pinned RDDs"
    unpersist_rdds(spark, mine)


def test_fixpoint_loops_pinned_rdds_flat(spark):
    """VERDICT r6 item 7 (extended r7): ALL the per-superstep fixpoint
    loops — BFS, Bellman-Ford, CC, PageRank, dedup label propagation — now
    free superseded checkpoints each round (``_util.fixpoint``), so a full
    run leaves only the live result frames pinned, not one id per
    superstep. Each bound below is (live checkpoints + persisted inputs
    a caller may still free) with slack 1, far under the per-superstep
    count the un-trimmed loops pinned."""
    from naqed_spark.registry import QUERIES
    from naqed_spark.session import persistent_rdd_ids, unpersist_rdds

    # (key, max pinned ids after a full run at sf0.001). Each bound
    # carries +1 since r16: user_edges scoped-persists its parsed-events
    # projection in addition to the edge table (a constant per key,
    # released at the next query build — per-SUPERSTEP growth is still
    # what this test pins).
    bounds = [
        ("graph_reachability_bfs", 5),      # nxt + visited (+ slack)
        ("graph_shortest_path_weighted", 4),  # dist (+ slack)
        ("graph_connected_components", 4),  # labels (+ slack)
        ("graph_pagerank_fixed", 6),        # ranks + verts cache (+ slack)
    ]
    for key, bound in bounds:
        before = persistent_rdd_ids(spark)
        QUERIES[key](spark, SF_DIR).collect()
        mine = persistent_rdd_ids(spark) - before
        assert len(mine) <= bound, (
            f"{key}: checkpoint leak — {len(mine)} new pinned RDDs"
        )
        unpersist_rdds(spark, mine)


# Fixed-round vs converged-stop equivalence for the loops whose stop
# test is observed in a superstep's own checkpoint job. Each graph sits
# on a boundary: on the path, vertex 3 is reached at cost 50 in round 1
# and lowered to 6 in round 3 (so a lowered vertex must send again) and
# the last vertex only reaches its cheapest cost in round 6; the lollipop
# tails peel one vertex per round, and the capped cases stop on the cap
# with work still left.
_PATH7 = [(i, i + 1, i + 1) for i in range(6)] + [(0, 3, 50), (0, 6, 100)]
_CLIQUE = [(a, b, abs(a - b)) for a in range(4) for b in range(4) if a != b]


def _python_bellman_ford(edges, source, rounds):
    """The fixed-round spelling: every round runs, no early stop."""
    dist = {source: 0}
    for _ in range(rounds):
        nxt = dict(dist)
        for s, d, w in edges:
            if s in dist and dist[s] + w < nxt.get(d, float("inf")):
                nxt[d] = dist[s] + w
        dist = nxt
    return dist


def _python_bfs(edges, seeds, cap):
    """Level-by-level BFS: the min hop count from ``seeds``, at most
    ``cap`` hops."""
    dist = {v: 0 for v in seeds}
    frontier = set(seeds)
    for depth in range(1, cap + 1):
        frontier = {d for s, d, *_ in edges if s in frontier} - set(dist)
        dist.update((v, depth) for v in frontier)
    return dist


def _relax_from_zero(spark, edges, schema, cap, w="w"):
    """``relax_min`` from source 0 over ``edges`` with weight ``w``."""
    from naqed_spark.queries.graph import relax_min

    e = spark.createDataFrame(edges, schema).selectExpr(
        "src", "dst", f"{w} AS w"
    )
    start = spark.range(1).selectExpr(
        "CAST(0 AS BIGINT) AS v", "CAST(0 AS BIGINT) AS d"
    )
    return {
        r["v"]: r["d"]
        for r in relax_min(spark, start, e, "test", cap).collect()
    }


@pytest.mark.parametrize(
    "edges,rounds",
    [(_PATH7, 6), (_PATH7, 4), (_CLIQUE, 6)]
    + [(_PATH7, cap) for cap in (1, 2, 3, 5, 7)],
    ids=["path7-improves-in-last-round", "path7-capped", "clique-converges"]
    + [f"path7-cap{cap}" for cap in (1, 2, 3, 5, 7)],
)
def test_bellman_ford_converged_stop_matches_fixed_rounds(
    spark, edges, rounds
):
    got = _relax_from_zero(spark, edges, "src long, dst long, w long", rounds)
    assert got == _python_bellman_ford(edges, 0, rounds)


def test_relax_min_double_weights_match_fixed_rounds(spark):
    """Fractional weights sum in double along each path in both
    spellings, so the costs match exactly, including 0.1 + 0.2 against a
    direct 0.3 edge."""
    edges = [(s, d, w / 10) for s, d, w in _PATH7] + [(0, 2, 0.3)]
    for cap in (2, 6):
        got = _relax_from_zero(
            spark, edges, "src long, dst long, w double", cap
        )
        assert got == _python_bellman_ford(edges, 0, cap)


def test_relax_min_unit_weights_match_bfs(spark):
    """With w = 1 the loop is BFS: min hop counts, capped or not."""
    edges = _PATH7 + [(6, 7, 1), (7, 8, 1), (9, 0, 1)]
    for cap in (2, 10):
        got = _relax_from_zero(
            spark, edges, "src long, dst long, w long", cap, w="1"
        )
        assert got == _python_bfs(edges, [0], cap)


@pytest.mark.quick
@pytest.mark.parametrize("w", ["0", "1", "w"], ids=["labels", "bfs", "sssp"])
def test_relax_min_makes_one_checkpoint_per_superstep(spark, caplog, w):
    """Each superstep pins one checkpoint, freed once the next superstep
    replaces it: the DEBUG record reads pins_freed = supersteps - 1, and
    the one new pin left is the result."""
    import logging
    import re

    from naqed_spark.queries._util import held_pins
    from naqed_spark.queries.graph import relax_min
    from naqed_spark.session import free_pins, persistent_rdd_ids

    e = spark.createDataFrame(_PATH7, "src long, dst long, w long")
    if w == "0":  # min labels: every vertex starts at its own id
        start = (
            e.selectExpr("src AS v")
            .union(e.selectExpr("dst AS v"))
            .distinct()
            .selectExpr("v", "v AS d")
        )
    else:
        start = spark.range(1).selectExpr("0 AS v", "CAST(0 AS BIGINT) AS d")
    before = persistent_rdd_ids(spark)
    try:
        with caplog.at_level(logging.DEBUG, logger="naqed_spark"):
            got = relax_min(
                spark, start, e.selectExpr("src", "dst", f"{w} AS w"),
                "test", 20,
            )
        new = persistent_rdd_ids(spark) - before
        assert len(new) == 1 and held_pins(got) == new
        [msg] = [
            r.getMessage() for r in caplog.records if r.name == "naqed_spark"
        ]
        m = re.fullmatch(
            r"fixpoint loop=test supersteps=(\d+) cap=20 stop=converged"
            r" pins_freed=(\d+)",
            msg,
        )
        assert m, msg
        steps, freed = int(m[1]), int(m[2])
        assert steps >= 4 and freed == steps - 1
    finally:
        free_pins(spark, persistent_rdd_ids(spark) - before)


def _lollipop(tail):
    """Triangle {100, 101, 102} with a ``tail``-vertex path hanging off
    vertex 100: a k=2 peel removes exactly one tail vertex per round."""
    pairs = [(100, 101), (101, 102), (100, 102), (100, 1)]
    pairs += [(i, i + 1) for i in range(1, tail)]
    return pairs


def _python_kcore_peel(pairs, k, rounds):
    """The fixed-round spelling: every round runs, no early stop."""
    edges = set(pairs) | {(b, a) for a, b in pairs}
    for _ in range(rounds):
        deg = {}
        for v, _n in edges:
            deg[v] = deg.get(v, 0) + 1
        edges = {(v, n) for v, n in edges if deg[v] >= k and deg[n] >= k}
    return edges


@pytest.mark.parametrize(
    "tail", [8, 10, 3],
    ids=["peels-until-round-8", "capped-at-round-8", "converges-in-round-3"],
)
def test_kcore_converged_stop_matches_fixed_rounds(spark, tail):
    from naqed_spark.queries.graph import kcore_peel

    pairs = _lollipop(tail)
    und = spark.createDataFrame(
        pairs + [(b, a) for a, b in pairs], "v long, n long"
    )
    got = {(r["v"], r["n"]) for r in kcore_peel(spark, und, 2, 8).collect()}
    assert got == _python_kcore_peel(pairs, 2, 8)


def test_kcore_stops_once_every_edge_is_peeled(spark, caplog):
    """With k above every degree, round 1 peels the whole graph, and the
    loop stops there: it runs no extra round to confirm the empty set."""
    import logging

    from naqed_spark.queries.graph import kcore_peel

    pairs = _lollipop(3)
    und = spark.createDataFrame(
        pairs + [(b, a) for a, b in pairs], "v long, n long"
    )
    with caplog.at_level(logging.DEBUG, logger="naqed_spark"):
        got = {
            (r["v"], r["n"]) for r in kcore_peel(spark, und, 10, 8).collect()
        }
    assert got == _python_kcore_peel(pairs, 10, 8) == set()
    msgs = [r.getMessage() for r in caplog.records if r.name == "naqed_spark"]
    assert msgs == [
        "fixpoint loop=graph_kcore supersteps=1 cap=8 stop=converged"
        " pins_freed=1"
    ]


def test_kcore_peel_leaves_only_its_result_pinned(spark):
    """Each call leaves one new pin, its live result: the round-1 input
    checkpoint is made inside the loop, so the driver frees it with the
    other superseded rounds."""
    from naqed_spark.queries.graph import kcore_peel
    from naqed_spark.session import free_pins, persistent_rdd_ids

    pairs = _lollipop(3)
    und = spark.createDataFrame(
        pairs + [(b, a) for a, b in pairs], "v long, n long"
    )
    before = persistent_rdd_ids(spark)
    try:
        results, new_pins = [], []
        for _ in range(3):
            results.append(kcore_peel(spark, und, 2, 8))
            new_pins.append(len(persistent_rdd_ids(spark) - before))
        assert new_pins == [1, 2, 3]
        want = _python_kcore_peel(pairs, 2, 8)
        for df in results:
            assert {(r["v"], r["n"]) for r in df.collect()} == want
    finally:
        free_pins(spark, persistent_rdd_ids(spark) - before)


def test_harmonic_centrality_keeps_only_its_layers_pinned(spark):
    """The result reads only the three layer checkpoints: the edge set and
    the seen set are freed once the last layer is pinned, and the last
    layer's seen set is never made."""
    from naqed_spark.session import release_checkpoints

    release_checkpoints(spark)
    rows = QUERIES["graph_harmonic_centrality"](spark, SF_DIR).collect()
    assert rows
    assert release_checkpoints(spark) == 3


def _python_min_labels(verts, edges):
    """Reachability reference: label(v) = min vertex that reaches v along
    the directed ``edges`` (v reaches itself)."""
    out = {}
    for v in verts:
        reach, todo = {v}, [v]
        while todo:
            u = todo.pop()
            for s, d in edges:
                if s == u and d not in reach:
                    reach.add(d)
                    todo.append(d)
        for w in reach:
            out[w] = min(out.get(w, w), v)
    return out


def _union_find_labels(pairs):
    """Union-find reference: label(v) = min vertex of v's undirected
    component."""
    parent = {}

    def find(x):
        parent.setdefault(x, x)
        while parent[x] != x:
            x = parent[x]
        return x

    for a, b in pairs:
        ra, rb = find(a), find(b)
        parent[max(ra, rb)] = min(ra, rb)
    return {v: find(v) for v in list(parent)}


def _run_min_labels(spark, edges, cap):
    from naqed_spark.queries.graph import min_labels

    e = spark.createDataFrame(edges, "src long, dst long")
    verts = e.select(F.col("src").alias("v")).union(
        e.select(F.col("dst").alias("v"))
    ).distinct()
    return {
        r["v"]: r["lab"]
        for r in min_labels(spark, verts, e, "test", cap).collect()
    }


def test_min_labels_converges_in_exactly_cap_supersteps(spark):
    """A symmetric path of ``cap`` vertices lowers its far end's label in
    superstep cap - 1 and confirms the fixpoint in superstep cap: the
    labels equal the union-find components. A directed graph gets the
    reachability reference (SCC's forward min-reach)."""
    cap = 5
    pairs = [(i, i + 1) for i in range(cap - 1)] + [(20, 21)]
    sym = pairs + [(b, a) for a, b in pairs]
    assert _run_min_labels(spark, sym, cap) == _union_find_labels(pairs)

    directed = [(3, 1), (1, 2), (2, 1), (0, 4), (4, 2), (5, 3)]
    verts = {v for e in directed for v in e}
    assert _run_min_labels(spark, directed, cap) == _python_min_labels(
        verts, directed
    )


def test_min_labels_raises_when_the_cap_stops_it(spark):
    """One vertex more than the cap allows: the far end's label is still
    not minimal when the cap is reached, so the loop raises instead of
    returning it."""
    cap = 5
    pairs = [(i, i + 1) for i in range(cap)]
    sym = pairs + [(b, a) for a, b in pairs]
    with pytest.raises(RuntimeError, match="did not converge in 5"):
        _run_min_labels(spark, sym, cap)


def test_fixpoint_superstep_records(spark, caplog):
    """The stop decisions are visible: one DEBUG record per loop. The
    nation graph's direct same-region edges are already cheapest, so
    round 2 changes nothing and Bellman-Ford stops there, not at the
    6-round cap; a k=2 peel of a 3-vertex tail stops one round after
    the tail is gone; the weighted ``$traverse`` stops on its 12-round
    cap, with one checkpoint per superstep."""
    import logging

    from naqed_spark.queries.graph import kcore_peel

    with caplog.at_level(logging.DEBUG, logger="naqed_spark"):
        QUERIES["graph_shortest_path_weighted"](spark, SF_DIR).collect()
        pairs = _lollipop(3)
        kcore_peel(spark, spark.createDataFrame(
            pairs + [(b, a) for a, b in pairs], "v long, n long"
        ), 2, 8)
        QUERIES["compiler_traverse_cheapest"](spark, SF_DIR).collect()
    msgs = [r.getMessage() for r in caplog.records if r.name == "naqed_spark"]
    assert msgs == [
        "fixpoint loop=graph_shortest_path_weighted supersteps=2 cap=6"
        " stop=converged pins_freed=1",
        "fixpoint loop=graph_kcore supersteps=4 cap=8 stop=converged"
        " pins_freed=4",
        "fixpoint loop=$traverse supersteps=12 cap=12 stop=cap"
        " pins_freed=11",
    ]


@pytest.mark.quick
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


@pytest.mark.quick
def test_spread_plans_round_robin_above_scan(spark):
    """The spread() keys show a RoundRobinPartitioning exchange so the
    per-row JSON/regex/minhash work runs cluster-wide instead of on the
    single-split scan task."""
    for key in ("fn_json", "fn_cast", "fn_try_safe", "fn_json_roundtrip"):
        plan = (
            QUERIES[key](spark, SF_DIR)
            ._jdf.queryExecution()
            .executedPlan()
            .toString()
        )
        assert "RoundRobinPartitioning" in plan, key
