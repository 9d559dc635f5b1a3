"""§2-I: graph operators — 10 contract keys (SURVEY.md:266-282).

The reference's identity is typed-entity traversal (resolver edges ≈ FK
edges); the north star adds "GraphX/Pregel for analytics". GraphX has no
Python API, so iterative algorithms are DataFrame-Pregel: a driver-side
loop over declarative joins/aggregations with localCheckpoint() per
iteration to cut lineage (SURVEY §4.3 — without it the plan doubles every
superstep and the optimizer dies long before the data does). Every
checkpointed loop runs on the one superstep driver ``_util.fixpoint``
(Pregelix's design): each algorithm supplies only its superstep, and the
driver frees the pins its steps made once the state no longer holds
them, guards the cap and writes the DEBUG superstep record. Shared
loops: ``relax_min`` (one min-relaxation loop: BFS, weighted shortest
paths and, as ``min_labels``, min-label propagation), ``pagerank``,
``kcore_peel``.

Graphs used:
  - user-interaction graph: directed edge u→v when v emitted an event with
    the same props.k within (0, 1h] after u's event (derived from `events`,
    deterministic, 150 vertices / ~1.3k edges at sf0.01).
  - nation graph: undirected same-region cliques, weight |n1-n2| (small,
    exercises weighted shortest paths with an exactly-mirrorable oracle).
  - FK graph: customer→orders (1-hop), region→nation→customer (2-hop).

Scale notes: every superstep is one equi-join (frontier ⋈ edges, shuffled
on vertex id) + one hash agg — the aggregateMessages shape. State per
vertex is O(1). At 100 TB you partition edges by src and persist the
frontier; both noted inline. Iteration caps are explicit and mirrored in
the recursive-CTE oracles so both engines bound the same search space.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F

from naqed_spark.queries._util import (
    checkpoint_observed,
    dsum,
    epoch_us,
    exact_sum,
    fixpoint,
    lanes,
    load,
    pin,
    r6,
    scoped_persist,
    session_fragment,
    sorted_pairs_expr,
    spread,
    unpin,
)
from naqed_spark.registry import query

HOUR_US = 3600 * 1000 * 1000

# DuckDB twin of the derived user-interaction edge set
_UE_SQL = """
  SELECT DISTINCT a.user_id AS src, b.user_id AS dst
  FROM events a JOIN events b
    ON json_extract_string(a.props, '$.k') = json_extract_string(b.props, '$.k')
   AND epoch_us(b.ts) > epoch_us(a.ts)
   AND epoch_us(b.ts) <= epoch_us(a.ts) + 3600000000
   AND a.user_id <> b.user_id
"""


def _user_edges_frames(spark: SparkSession, sf_dir: str):
    """Build the (parsed-events, edges) lazy frames — see user_edges."""
    ev = (
        spread(load(spark, sf_dir, "events").select("user_id", "props", "ts"))
        .select(
            "user_id",
            F.get_json_object("props", "$.k").alias("k"),
            epoch_us("ts").alias("ts_us"),
        )
        # r17 opt (guide §2.5): the events file scans as ONE split, so
        # the per-row JSON parse that fills the ev cache ran on a single
        # core — spread it to defaultParallelism first (the shuffle
        # carries the raw props strings once; the parse then runs
        # cluster-wide).
    )
    a = ev.select(
        F.col("user_id").alias("src"),
        F.col("k").alias("ka"),
        F.col("ts_us").alias("ta"),
    ).withColumn("ha", (F.col("ta") - F.col("ta") % HOUR_US) / HOUR_US)
    a = a.withColumn(
        "jh", F.explode(F.array(F.col("ha"), F.col("ha") + 1))
    )
    b = ev.select(
        F.col("user_id").alias("dst"),
        F.col("k").alias("kb"),
        F.col("ts_us").alias("tb"),
    ).withColumn("hb", (F.col("tb") - F.col("tb") % HOUR_US) / HOUR_US)
    edges = (
        a.join(
            b,
            (F.col("ka") == F.col("kb"))
            & (F.col("jh") == F.col("hb"))
            & (F.col("tb") > F.col("ta"))
            & (F.col("tb") <= F.col("ta") + HOUR_US)
            & (F.col("src") != F.col("dst")),
        )
        .select("src", "dst")
        .distinct()
    )
    return ev, edges


def user_edges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Directed user→user edges: same props.k, within (0, 1h]. The join
    is equi on (k, hour bucket): a 1-hour band can only land in the
    source event's own bucket or the next one, so the left side explodes
    into those two bucket keys and the band becomes a residual on an
    equi-join — candidate pairs drop from per-k all-pairs (quadratic in
    the k-group) to per-(k, adjacent-hour) pairs. Round-8 change: the
    bucketing the original docstring deferred to 100 TB is now the
    default (measured 9.7 s → ~1 s for the edge build at sf0.1, and it
    is exactly the shape that bounds k-hot groups at any scale).

    r17 opt (VERDICT r16 item 2): the two lazy frames are cached per
    (session, sf_dir) — ~27 graph keys each paid a few hundred py4j
    round trips rebuilding this identical plan. No data is cached; the
    persist marks below are re-registered on EVERY call because the
    registry releases them between query builds.

    r16 opt (guide §5 "reused AND expensive to recompute"): almost
    every graph key's plan instantiates the edge subtree 2-4×
    (symmetrize-union, adjacency self-joins), and each instance is
    the full events self-join + distinct. Persisting here lets one
    materialization feed every instance (InMemoryTableScan). The mark
    is SCOPED — released when the next registered query builds — so a
    long session never accumulates one edge cache per graph key. The ev
    persist likewise: both self-join legs consume the parsed projection."""
    ev, edges = session_fragment(
        spark,
        ("user_edges", sf_dir),
        lambda: _user_edges_frames(spark, sf_dir),
    )
    scoped_persist(ev)
    return scoped_persist(edges)


def _symmetric(ue: DataFrame, a: str, b: str) -> DataFrame:
    """(a, b): both directions of every edge of ``ue`` (cols src, dst),
    once — the undirected view of the directed edge set."""
    return (
        ue.select(F.col("src").alias(a), F.col("dst").alias(b))
        .union(ue.select(F.col("dst").alias(a), F.col("src").alias(b)))
        .distinct()
    )


def _vertices(ue: DataFrame) -> DataFrame:
    """(v): every endpoint of the edges ``ue`` (cols src, dst), once."""
    return (
        ue.select(F.col("src").alias("v"))
        .union(ue.select(F.col("dst").alias("v")))
        .distinct()
    )


@query(
    "graph_degree",
    oracle=f"""
    WITH ue AS ({_UE_SQL}),
    verts AS (SELECT src AS v FROM ue UNION SELECT dst FROM ue),
    outd AS (SELECT src AS v, count(*) AS c FROM ue GROUP BY src),
    ind AS (SELECT dst AS v, count(*) AS c FROM ue GROUP BY dst)
    SELECT verts.v AS user_id,
           coalesce(outd.c, 0) AS out_degree,
           coalesce(ind.c, 0) AS in_degree
    FROM verts LEFT JOIN outd ON verts.v = outd.v
               LEFT JOIN ind ON verts.v = ind.v
    """,
)
def graph_degree(spark, sf_dir):
    # r16 opt (guide §2.4): the old spelling ran a union-distinct for
    # the vertex set plus TWO degree aggregates joined back — 3
    # exchanges and 2 joins over the edge cache. One explode tags each
    # edge endpoint with its direction and ONE aggregate produces the
    # identical rows: every vertex appears in src or dst (so the
    # vertex set is the group set), and the conditional sums are
    # exactly the left-join-coalesce counts.
    ue = user_edges(spark, sf_dir)
    ends = ue.select(
        F.explode(
            F.array(
                F.struct(F.col("src").alias("v"), F.lit(1).alias("o")),
                F.struct(F.col("dst").alias("v"), F.lit(0).alias("o")),
            )
        ).alias("e")
    )
    return ends.groupBy(F.col("e.v").alias("user_id")).agg(
        F.sum("e.o").cast("bigint").alias("out_degree"),
        F.sum(1 - F.col("e.o")).cast("bigint").alias("in_degree"),
    )


@query(
    "graph_1hop",
    # naqed-style relationship resolution, run through the E1 QuerySpec
    # engine: customer --orders--> order fields (compiled to a join).
    oracle="""
    SELECT c_custkey, c_name, o_orderkey, o_totalprice
    FROM customer JOIN orders ON o_custkey = c_custkey
    WHERE c_nationkey = 1
    """,
)
def graph_1hop(spark, sf_dir):
    from naqed_spark.compiler.engine import Engine

    eng = Engine(spark, sf_dir)
    return eng.query(
        {
            "customer": {
                "$filter": {"c_nationkey": 1},
                "c_custkey": True,
                "c_name": True,
                "orders": {"o_orderkey": True, "o_totalprice": True},
            }
        }
    )


@query(
    "graph_2hop",
    oracle="""
    SELECT r_name,
           count(*) AS n_customers,
           CAST(sum(CAST(c_acctbal AS DECIMAL(12,2))) AS DOUBLE) AS total_bal
    FROM region
    JOIN nation ON n_regionkey = r_regionkey
    JOIN customer ON c_nationkey = n_nationkey
    GROUP BY r_name
    """,
)
def graph_2hop(spark, sf_dir):
    r = load(spark, sf_dir, "region")
    n = load(spark, sf_dir, "nation")
    c = load(spark, sf_dir, "customer")
    j, (bal,) = lanes(
        r.join(F.broadcast(n), n.n_regionkey == r.r_regionkey)
        .join(c, c.c_nationkey == n.n_nationkey),
        "c_acctbal",
    )
    return j.groupBy("r_name").agg(
        F.count(F.lit(1)).alias("n_customers"),
        dsum(bal).alias("total_bal"),
    )


@query(
    "graph_khop_fixed",
    # exactly-3-hop reachable set from vertex 0 (any path of length 3),
    # k unrolled as 3 chained equi-joins on both engines.
    oracle=f"""
    WITH ue AS ({_UE_SQL})
    SELECT DISTINCT e3.dst AS user_id
    FROM ue e1 JOIN ue e2 ON e2.src = e1.dst
               JOIN ue e3 ON e3.src = e2.dst
    WHERE e1.src = 0
    """,
)
def graph_khop_fixed(spark, sf_dir):
    ue = user_edges(spark, sf_dir)
    e1 = ue.filter(F.col("src") == 0).select(F.col("dst").alias("h1"))
    e2 = ue.select(F.col("src").alias("h1"), F.col("dst").alias("h2"))
    e3 = ue.select(F.col("src").alias("h2"), F.col("dst").alias("h3"))
    return (
        e1.join(e2, "h1")
        .join(e3, "h2")
        .select(F.col("h3").alias("user_id"))
        .distinct()
    )


_BFS_CAP = 10


@query(
    "graph_reachability_bfs",
    # BFS levels from vertex 0 to fixpoint (cap 10, mirrored in the CTE):
    # relax_min with unit weights, one checkpoint per superstep to cut
    # lineage. Min-distance is unique → deterministic.
    oracle=f"""
    WITH RECURSIVE ue AS ({_UE_SQL}),
    r(v, d) AS (
      SELECT CAST(0 AS BIGINT) AS v, 0 AS d
      UNION
      SELECT e.dst, r.d + 1 FROM r JOIN ue e ON e.src = r.v WHERE r.d < 10
    )
    SELECT v AS user_id, min(d) AS dist FROM r GROUP BY v
    """,
)
def graph_reachability_bfs(spark, sf_dir):
    ue = user_edges(spark, sf_dir)
    seed = spark.range(1).selectExpr("CAST(0 AS BIGINT) AS v", "0 AS d")
    visited = relax_min(
        spark, seed, ue.selectExpr("src", "dst", "1 AS w"),
        "graph_reachability_bfs", _BFS_CAP,
    )
    return visited.selectExpr("v AS user_id", "d AS dist")


def relax_min(spark, verts, edges, loop, cap, at_cap=None):
    """(v, d): for every vertex reached from the start vertices ``verts``
    (cols v, d) over ``edges`` (cols src, dst, w), the min of a start
    vertex's ``d`` plus the weights of a path of at most ``cap`` edges
    from it — Pregel's vertex program with a ``min`` combiner, the one
    loop behind BFS (w = 1, d = 0 on the seeds), weighted shortest paths
    (w = the edge weight, d = 0 at the sources) and min-label
    propagation (w = 0, d = v: ``min_labels``).

    The state is the vertex relation (v, d, active); every start vertex
    begins active. One superstep, planned as Pregelix plans it: the
    active vertices join the edges and send d + w; the messages are
    unioned with the vertex relation, and one group-by per vertex takes
    the new d = least(old, min message) and active = coalesce(message <
    old, old IS NULL). One checkpoint per superstep cuts the lineage and
    observes count_if(active) in its own job; the loop stops when that
    count is 0, and raises ``at_cap`` (when given) if the cap stops it.
    The step is spelled as SQL text, which takes fewer py4j round trips
    than the same step in Column calls.

    Why the rows are exact:
    - Frontier. Only vertices whose d changed send: a vertex whose d did
      not change would resend a value its neighbours already took the
      min over.
    - Cap. After r supersteps, d is the min over paths of at most r
      edges: the fixed-round Bellman-Ford spelling, so a cap
      (``$max_depth``, the 6-round SSSP cap) keeps its meaning.
    - Stop. count_if(active) = 0 holds exactly when a superstep changed
      nothing, so every later superstep would send nothing. This holds
      for double weights too, where a (count, sum) summary of the state
      would not be exact.
    - BFS. With unit weights a reached vertex is never lowered, so the
      active set is exactly the BFS frontier and the supersteps are the
      BFS levels."""

    def step(state, _):
        msgs = (
            state.where("active")
            .join(edges, F.expr("v = src"))
            .selectExpr("dst AS v", "NULL AS old", "d + w AS m")
        )
        state, m = checkpoint_observed(
            state.selectExpr("v", "d AS old", "NULL AS m")
            .unionAll(msgs)
            .groupBy("v")
            .agg(F.expr("min(old) AS old"), F.expr("min(m) AS m"))
            .selectExpr(
                "v",
                "least(old, m) AS d",
                "coalesce(m < old, old IS NULL) AS active",
            ),
            F.expr("count_if(active) AS n"),
        )
        return state, m["n"] == 0

    state = verts.selectExpr("v", "d", "true AS active")
    state = fixpoint(spark, loop, state, step, cap, at_cap=at_cap)
    return state.select("v", "d")


# nation graph: undirected same-region cliques, integer weight |n1 - n2|
_SSSP_ROUNDS = 6  # ≥ the nation graph's diameter; mirrored in the CTE cap
_NE_SQL = """
  SELECT a.n_nationkey AS src, b.n_nationkey AS dst,
         abs(a.n_nationkey - b.n_nationkey) AS w
  FROM nation a JOIN nation b
    ON a.n_regionkey = b.n_regionkey AND a.n_nationkey <> b.n_nationkey
"""


def _nation_edges(spark, sf_dir):
    n = load(spark, sf_dir, "nation")
    a = n.select(
        F.col("n_nationkey").alias("src"), F.col("n_regionkey").alias("rga")
    )
    b = n.select(
        F.col("n_nationkey").alias("dst"), F.col("n_regionkey").alias("rgb")
    )
    return (
        a.join(b, (F.col("rga") == F.col("rgb")) & (F.col("src") != F.col("dst")))
        .select("src", "dst", F.abs(F.col("src") - F.col("dst")).alias("w"))
    )


@query(
    "graph_shortest_path_weighted",
    # single-source weighted shortest paths from nation 0 (integer weights
    # → exact min, no float hazard). Bellman-Ford to fixpoint on Spark;
    # bounded-depth recursive CTE + min() in DuckDB (cap 6 ≥ diameter).
    oracle=f"""
    WITH RECURSIVE ne AS ({_NE_SQL}),
    p(v, cost, hops) AS (
      SELECT CAST(0 AS INT) AS v, CAST(0 AS BIGINT) AS cost, 0 AS hops
      UNION
      SELECT e.dst, p.cost + e.w, p.hops + 1
      FROM p JOIN ne e ON e.src = p.v
      WHERE p.hops < 6
    )
    SELECT v AS nationkey, min(cost) AS dist FROM p GROUP BY v
    """,
)
def graph_shortest_path_weighted(spark, sf_dir):
    ne = scoped_persist(_nation_edges(spark, sf_dir))
    source = spark.range(1).selectExpr("0 AS v", "CAST(0 AS BIGINT) AS d")
    dist = relax_min(
        spark, source, ne, "graph_shortest_path_weighted", _SSSP_ROUNDS
    )
    return dist.selectExpr("v AS nationkey", "d AS dist")


@query(
    "graph_connected_components",
    # undirected CC via min-label propagation to fixpoint (Spark) ≡ min
    # reachable vertex id over the symmetric closure (DuckDB CTE).
    oracle=f"""
    WITH RECURSIVE ue AS ({_UE_SQL}),
    sym AS (SELECT src, dst FROM ue UNION SELECT dst, src FROM ue),
    verts AS (SELECT DISTINCT src AS v FROM sym),
    reach(v, u) AS (
      SELECT v, v FROM verts
      UNION
      SELECT reach.v, sym.dst FROM reach JOIN sym ON sym.src = reach.u
    )
    SELECT v AS user_id, min(u) AS component FROM reach GROUP BY v
    """,
)
def graph_connected_components(spark, sf_dir):
    ue = user_edges(spark, sf_dir)
    sym = pin(_symmetric(ue, "src", "dst"))
    verts = sym.select(F.col("src").alias("v")).distinct()
    labels = min_labels(spark, verts, sym, "graph_connected_components")
    unpin(spark, [sym])  # the labels are a checkpoint: sym is consumed
    return labels.select(
        F.col("v").alias("user_id"), F.col("lab").alias("component")
    )


def min_labels(spark, verts, edges, loop, cap=20):
    """(v, lab): the min vertex id that reaches ``v`` over ``edges`` (cols
    src, dst; messages flow src → dst), for every vertex of ``verts``
    (col v, which holds every endpoint of ``edges``) — min-label
    propagation, ``relax_min`` with w = 0 and d = v: the loop behind
    connected components (symmetric edges), SCC's forward and backward
    reach and llm_dedup_groups. Raises at the cap — the labels are only
    minimal at the fixpoint, and silent wrong labels are worse than a
    loud stop."""
    unconverged = RuntimeError(
        f"{loop}: min-label propagation did not converge in {cap} supersteps"
    )
    lab = relax_min(
        spark,
        verts.selectExpr("v", "v AS d"),
        edges.selectExpr("src", "dst", "0 AS w"),
        loop,
        cap,
        at_cap=unconverged,
    )
    return lab.selectExpr("v", "d AS lab")


def _pagerank_oracle() -> str:
    """10 unrolled iteration CTEs (recursive CTEs can't aggregate over the
    recursive reference). Each iteration's ranks are rounded to 6 decimals
    on BOTH engines, so order-sensitive float error cannot compound across
    iterations — the upgrade that makes fixed-iteration PageRank
    hash-matchable."""
    steps = []
    prev = "r0"
    for i in range(1, 11):
        steps.append(
            f"""
    c{i} AS MATERIALIZED (SELECT ue.dst AS v, sum({prev}.pr / outdeg.odeg) AS inflow
             FROM {prev} JOIN outdeg USING (v) JOIN ue ON ue.src = {prev}.v
             GROUP BY ue.dst),
    d{i} AS MATERIALIZED (SELECT coalesce(sum(pr), 0.0) AS mass FROM {prev}
             WHERE v NOT IN (SELECT v FROM outdeg)),
    r{i} AS MATERIALIZED (SELECT verts.v,
                    round(0.15 / nn.n + 0.85 * (coalesce(c{i}.inflow, 0.0)
                          + d{i}.mass / nn.n), 6) AS pr
             FROM verts LEFT JOIN c{i} ON c{i}.v = verts.v, d{i}, nn)"""
        )
        prev = f"r{i}"
    return f"""
    WITH ue AS MATERIALIZED ({_UE_SQL}),
    verts AS MATERIALIZED (SELECT DISTINCT v FROM
              (SELECT src AS v FROM ue UNION ALL SELECT dst AS v FROM ue)),
    nn AS MATERIALIZED (SELECT CAST(count(*) AS DOUBLE) AS n FROM verts),
    outdeg AS MATERIALIZED
      (SELECT src AS v, count(*) AS odeg FROM ue GROUP BY src),
    r0 AS MATERIALIZED (SELECT v, 1.0 / nn.n AS pr FROM verts, nn),
    {",".join(steps)}
    SELECT v, pr AS pagerank FROM r10
    """


@query("graph_pagerank_fixed", oracle=_pagerank_oracle())
def graph_pagerank_fixed(spark, sf_dir):
    """PageRank, exactly 10 iterations, d=0.85, dangling mass redistributed
    uniformly. Ranks are rounded to 6 decimals after every iteration (both
    engines) so cross-engine summation-order error cannot compound — this is
    what lets a 10-deep iterative float computation hash-match its oracle.
    Tests additionally assert sum(pr)≈1."""
    ue = user_edges(spark, sf_dir)
    verts = scoped_persist(_vertices(ue))
    n = verts.count()
    if n == 0:
        # empty edge set → no vertices, no mass to distribute (and 1/n is
        # undefined): the empty frame with the output schema IS the answer.
        return verts.select("v", F.lit(0.0).alias("pagerank"))
    # every vertex a seed: ind = 1 and k = n, and multiplying by 1.0 is
    # exact, so the personalized formula is the global one term by term
    ranks = pagerank(
        spark, ue, verts.select("v", F.lit(1.0).alias("ind")), n, 10,
        "graph_pagerank_fixed",
    )
    return ranks.select("v", F.col("pr").alias("pagerank"))


def pagerank(spark, ue, seeds, k, iters, loop):
    """(v, pr) after ``iters`` PageRank iterations over the edges ``ue``
    (cols src, dst), d=0.85, with teleport and dangling mass returned to
    the seed vector ``ind / k`` (``seeds``: cols v, ind — every vertex,
    ``k`` = sum of ind). Ranks are rounded to 6 decimals every iteration
    (both engines), so cross-engine summation-order error cannot
    compound. One frontier ⋈ edges equi-join + one hash agg per
    superstep, plus a broadcast dangling mass."""
    outdeg = ue.groupBy(F.col("src").alias("v")).agg(
        F.count(F.lit(1)).alias("odeg")
    )

    def step(ranks, _):
        inflow = (
            ranks.join(outdeg, "v")
            .join(ue, ranks.v == ue.src)
            .select(
                F.col("dst").alias("v"),
                (F.col("pr") / F.col("odeg")).alias("c"),
            )
            .groupBy("v")
            .agg(F.sum("c").alias("inflow"))
        )
        dangling = ranks.join(outdeg, "v", "left_anti").agg(
            F.coalesce(F.sum("pr"), F.lit(0.0)).alias("mass")
        )
        ranks = pin(
            seeds.join(inflow, "v", "left")
            .crossJoin(F.broadcast(dangling))
            .select(
                "v",
                F.round(
                    F.lit(0.15) * F.col("ind") / k
                    + F.lit(0.85)
                    * (
                        F.coalesce("inflow", F.lit(0.0))
                        + F.col("mass") * F.col("ind") / k
                    ),
                    6,
                ).alias("pr"),
            )
        )
        return ranks, False

    ranks = seeds.select("v", (F.col("ind") / k).alias("pr"))
    return fixpoint(spark, loop, ranks, step, iters)


def _triangle_corners(e):
    """Triangle corner multiset from a canonical (src < dst) edge frame
    — node-iterator++ (r16 opt, guide §2.3): each ordered triangle
    a<b<c used to come from an e1⋈e2⋈e3 double join (wedge fan-out
    Σ d² rows). With edges oriented low→high, c closes a triangle on
    edge (a,b) iff c ∈ H(a) ∩ H(b) where H(v) is v's sorted
    higher-neighbor array. r17 opt (VERDICT r16 item 6): the oriented
    adjacency H is now the ONLY edge representation — one persisted
    groupBy builds it, the (a, ha, b) wedge rows come from exploding H
    with its own array carried alongside (no join needed to attach
    H(a): the exploded row IS a's adjacency entry), and a single
    equi-join attaches H(b). One join instead of two, one cached frame
    instead of e+adjh, and the e rows the explode regenerates are
    exactly the canonical edge set (e is distinct, so collect_list
    holds each higher neighbor once). The corner multiset per edge is
    {a×|cs|, b×|cs|} ∪ cs — identical to the tri-join explode (each
    a<b<c triangle is found exactly once, at its lowest edge). An O(d)
    array per vertex beats d² wedge rows under any skew the join
    spelling survived. Shared by graph_triangle_count and
    graph_clustering_coefficient."""
    adjh = scoped_persist(
        e.groupBy("src").agg(F.sort_array(F.collect_list("dst")).alias("hs"))
    )
    cs = (
        adjh.select(
            F.col("src").alias("a"),
            F.col("hs").alias("ha"),
            F.explode("hs").alias("b"),
        )
        .join(
            adjh.select(F.col("src").alias("b2"), F.col("hs").alias("hb")),
            F.col("b") == F.col("b2"),
        )
        .select(
            "a",
            "b",
            F.array_intersect("ha", "hb").alias("cs"),
        )
    )
    return cs.select(
        F.explode(
            F.concat(
                "cs",
                F.array_repeat(F.col("a"), F.size("cs")),
                F.array_repeat(F.col("b"), F.size("cs")),
            )
        ).alias("v")
    )


@query(
    "graph_triangle_count",
    # triangles per vertex on the undirected user graph: canonical a<b<c
    # 3-way self-join counts each triangle once, then credit all 3 corners.
    oracle=f"""
    WITH ue AS ({_UE_SQL}),
    sym AS (SELECT src, dst FROM ue UNION SELECT dst, src FROM ue),
    e AS (SELECT src, dst FROM sym WHERE src < dst),
    tri AS (
      SELECT e1.src AS a, e1.dst AS b, e2.dst AS c
      FROM e e1 JOIN e e2 ON e2.src = e1.dst
                JOIN e e3 ON e3.src = e1.src AND e3.dst = e2.dst
    ),
    corners AS (
      SELECT a AS v FROM tri UNION ALL SELECT b FROM tri
      UNION ALL SELECT c FROM tri
    )
    SELECT v AS user_id, count(*) AS n_triangles FROM corners GROUP BY v
    """,
)
def graph_triangle_count(spark, sf_dir):
    ue = user_edges(spark, sf_dir)
    sym = _symmetric(ue, "src", "dst")
    # r17: no edge persist — _triangle_corners consumes e exactly once
    # (the adjacency groupBy) and caches the adjacency instead.
    e = sym.filter(F.col("src") < F.col("dst"))
    corners = _triangle_corners(e)
    return corners.groupBy(F.col("v").alias("user_id")).agg(
        F.count(F.lit(1)).alias("n_triangles")
    )


@query(
    "graph_aggregate_messages",
    # one Pregel superstep (GraphFrames aggregateMessages shape): every
    # vertex sends its total event value to its out-neighbors; receivers
    # sum incoming messages. Vertex values stay in exact DECIMAL.
    oracle=f"""
    WITH ue AS ({_UE_SQL}),
    vmap AS (SELECT user_id, sum(CAST(value AS DECIMAL(12,2))) AS val
             FROM events GROUP BY user_id)
    SELECT ue.dst AS user_id,
           count(*) AS n_msgs,
           CAST(sum(vmap.val) AS DOUBLE) AS neighbor_value_sum
    FROM ue JOIN vmap ON vmap.user_id = ue.src
    GROUP BY ue.dst
    """,
)
def graph_aggregate_messages(spark, sf_dir):
    ue = user_edges(spark, sf_dir)
    ev, (value,) = lanes(load(spark, sf_dir, "events"), "value")
    vmap = ev.groupBy("user_id").agg(exact_sum(value).alias("val"))
    return (
        ue.join(vmap, vmap.user_id == ue.src)
        .groupBy(F.col("dst"))
        .agg(
            F.count(F.lit(1)).alias("n_msgs"),
            dsum(F.col("val")).alias("neighbor_value_sum"),
        )
        .select(
            F.col("dst").alias("user_id"), "n_msgs", "neighbor_value_sum"
        )
    )


@query(
    "graph_scc",
    # Strongly connected components of the directed user-interaction
    # graph: scc(u) = min vertex mutually reachable with u (including u).
    # Spark runs the scale-shaped coloring algorithm (forward/backward
    # min-reach per round, resolve where they agree, trim, repeat — the
    # active minimum's SCC provably resolves every round); the oracle is
    # the exact closure definition over a recursive CTE.
    oracle=f"""
    WITH RECURSIVE ue AS ({_UE_SQL}),
    verts AS (SELECT src AS v FROM ue UNION SELECT dst FROM ue),
    r(a, b) AS (
      SELECT src, dst FROM ue
      UNION
      SELECT r.a, e.dst FROM r JOIN ue e ON e.src = r.b
    ),
    mutual AS (
      SELECT x.a AS u, x.b AS w FROM r x JOIN r y ON x.a = y.b AND x.b = y.a
    )
    SELECT v.v AS user_id,
           least(v.v, COALESCE(min(m.w), v.v)) AS scc
    FROM verts v LEFT JOIN mutual m ON m.u = v.v
    GROUP BY v.v
    """,
)
def graph_scc(spark, sf_dir):
    """Distributed SCC without transitive closure: per outer round, two
    min-reach fixpoints (forward along edges, backward against them) over
    the ACTIVE subgraph; vertices where the two labels agree on value m
    are exactly SCC(m) — emitted and trimmed, and the round repeats on
    what remains. The active global minimum's SCC always satisfies the
    agreement test, so every round makes progress (outer rounds ≤ #SCCs,
    in practice a handful). Each superstep is one edge⋈label equi-join +
    min-aggregation with O(1) state per vertex — at 100 TB edges are
    hash-partitioned by the join side and supersteps reuse that
    partitioning; no closure, nothing quadratic."""
    done = scc_labels(spark, user_edges(spark, sf_dir))
    return done.select(F.col("v").alias("user_id"), "scc")


def scc_labels(spark, ue):
    """(v, scc) for every vertex of the directed edge set ``ue``
    (cols src, dst) — the coloring loop behind graph_scc, factored so
    adversarial graphs can drive it directly (tests/test_graph.py). The
    loop stops on a round that leaves no active vertex, counted in the
    checkpoint job of the round's active set; an empty ``ue`` stops in
    round 1 with an empty frame."""

    def step(state, _):
        done, verts, edges = state
        if verts is None:  # round 1: pinned in a step, so the driver frees it
            verts = pin(_vertices(ue))
        fwd = min_labels(spark, verts, edges, "graph_scc.fwd")
        rev = edges.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
        bwd = min_labels(spark, verts, rev, "graph_scc.bwd")
        resolved = pin(
            fwd.join(bwd.select("v", F.col("lab").alias("blab")), "v")
            .filter(F.col("lab") == F.col("blab"))
            .select("v", F.col("lab").alias("scc"))
        )
        done = resolved if done is None else pin(done.unionAll(resolved))
        verts, m = checkpoint_observed(
            verts.join(resolved.select("v"), "v", "left_anti"),
            F.count(F.lit(1)).alias("n"),
        )
        if m["n"] == 0:
            return (done, verts, edges), True
        edges = pin(
            edges.join(verts.select(F.col("v").alias("src")), "src")
            .join(verts.select(F.col("v").alias("dst")), "dst")
            .select("src", "dst")
        )
        return (done, verts, edges), False

    # every frame above is an eager checkpoint, so after a round the
    # driver frees its fwd/bwd labels and the prior round's state
    unconverged = RuntimeError("graph_scc did not converge in 30 rounds")
    done, _, _ = fixpoint(
        spark, "graph_scc", (None, None, ue), step, 30, at_cap=unconverged
    )
    return done


_BASKET_CAP = 15  # orders with more distinct parts than this are skew
                  # outliers: pair fan-out is quadratic in basket size, so
                  # the projection caps it (the _NGRAM_DF_CAP precedent —
                  # at 100 TB the cap is what keeps the self-join linear-ish)


def _capped_baskets(spark, sf_dir):
    """(l_orderkey, parts): the sorted DISTINCT part set per order, for
    orders with <= _BASKET_CAP distinct parts.

    r16 opt (guide §2.3/§2.4, the _ngram_candidates pattern): the old
    spelling materialized the (order, part) distinct, aggregated it for
    the cap filter, joined back, then SELF-JOINED the kept rows — the
    distinct ran once per consumer subtree (up to 5× in
    agg_association_rules) and the pair fan-out went through a join.
    One groupBy does all of it: collect_set IS the distinct, size() IS
    the cap count, and the basket array (provably <= cap elements — the
    filter just enforced it) yields pairs/items/counts by array
    arithmetic with no further join. One exchange builds the frame every
    consumer shares."""
    return (
        load(spark, sf_dir, "lineitem")
        .groupBy("l_orderkey")
        .agg(
            F.array_sort(F.collect_set("l_partkey")).alias("parts"),
            # collect_set drops NULLs, but the oracle's DISTINCT row
            # count treats a NULL partkey as one distinct value — carry
            # it into the cap count so the kept-order set matches on
            # data with NULL part keys (r16 review; latent on TPC-H,
            # where l_partkey is non-null). NULLs still produce no
            # pairs on either engine (NULL < x is never TRUE).
            F.max(F.col("l_partkey").isNull().cast("int")).alias(
                "has_null_part"
            ),
        )
        .filter(
            (F.size("parts") + F.col("has_null_part")) <= _BASKET_CAP
        )
        .select("l_orderkey", "parts")
    )


# i<j pairs from the sorted basket array (ascending, so part_a < part_b
# exactly like the old a.l_partkey < b.l_partkey join predicate)
_BASKET_PAIRS = sorted_pairs_expr("parts", "part_a", "part_b")


@query(
    "graph_copurchase",
    # bipartite projection (market-basket): part—part edges weighted by
    # the number of orders containing both, over baskets of <= cap
    # distinct parts. The recommendation-candidate generator: a same-key
    # self-join, never a cross product; all-integer weights.
    oracle=f"""
    WITH items AS (
      SELECT DISTINCT l_orderkey, l_partkey FROM lineitem
    ),
    ok AS (
      SELECT l_orderkey FROM items GROUP BY l_orderkey
      HAVING count(*) <= {_BASKET_CAP}
    ),
    kept AS (SELECT i.* FROM items i JOIN ok USING (l_orderkey))
    SELECT a.l_partkey AS part_a, b.l_partkey AS part_b,
           CAST(count(*) AS BIGINT) AS n_orders
    FROM kept a JOIN kept b
      ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
    GROUP BY a.l_partkey, b.l_partkey
    """,
)
def graph_copurchase(spark, sf_dir):
    """Scale shape (r16 opt): one groupBy builds the capped distinct
    basket per order (quadratic fan-out is in basket size, not corpus
    size — and the cap bounds it BEFORE any pair exists), then the i<j
    pairs come from array arithmetic over the sorted basket — no
    self-join, 2 exchanges total, map-side-combined pair counts."""
    baskets = _capped_baskets(spark, sf_dir)
    return (
        baskets.select(F.explode(F.expr(_BASKET_PAIRS)).alias("p"))
        .select(F.col("p.part_a").alias("part_a"),
                F.col("p.part_b").alias("part_b"))
        .groupBy("part_a", "part_b")
        .agg(F.count(F.lit(1)).alias("n_orders"))
    )


# Hub cap for link prediction: vertices with undirected degree above this
# are dropped before pairing. This is the standard scale bound for
# common-neighbor scoring — the pair fan-out is Σ d(v)², so one celebrity
# vertex with d = 10⁶ alone generates 10¹² pairs; capping turns the cost
# into Σ min(d, CAP)² ≤ |V|·CAP². Fixture degrees span 8–29, so 25
# actually exercises the cap (a handful of hubs are excluded).
_CN_HUB_CAP = 25

# i<j pairs from a sorted adjacency array `vs` (the _BASKET_PAIRS idiom):
# sortedness makes u < w by construction, so the expression emits exactly
# the pair set the old adjacency self-join produced with `u < w`.
_ADJ_PAIRS = sorted_pairs_expr("vs", "u", "w")

_UND_DEG_SQL = f"""
  und AS (SELECT src AS v, dst AS n FROM ue
          UNION SELECT dst, src FROM ue),
  deg AS (SELECT v, count(*) AS d FROM und GROUP BY v),
  kept AS (SELECT v, d FROM deg WHERE d <= {_CN_HUB_CAP}),
  ke AS (SELECT und.v, und.n FROM und
         JOIN kept a ON und.v = a.v
         JOIN kept b ON und.n = b.v)
"""


@query(
    "graph_common_neighbors",
    # Link prediction by common-neighbor / Jaccard scoring over the
    # user-interaction graph. Plan: symmetrize → degree (one groupBy) →
    # hub-cap filter → self-join of the adjacency list ON THE SHARED
    # NEIGHBOR (equi-join, hash-partitioned by neighbor id — never a
    # cartesian) → groupBy(pair) count → broadcast-join the tiny degree
    # table twice for the Jaccard denominator. At 100 TB: the neighbor
    # join's per-group fan-out is bounded by the hub cap above, the pair
    # aggregate is map-side combined, and the degree table is |V|-sized
    # (broadcast or shuffle-join both fine). Only pairs with an actual
    # common neighbor materialize.
    oracle=f"""
    WITH ue AS ({{ue}}),
    {_UND_DEG_SQL},
    pairs AS (
      SELECT a.v AS u, b.v AS w, count(*) AS cn
      FROM ke a JOIN ke b ON a.n = b.n AND a.v < b.v
      GROUP BY a.v, b.v
    )
    SELECT p.u, p.w, p.cn,
           round(CAST(p.cn AS DOUBLE) / (da.d + db.d - p.cn), 6) AS jaccard
    FROM pairs p
    JOIN kept da ON p.u = da.v
    JOIN kept db ON p.w = db.v
    WHERE p.cn >= 3
    """.format(ue=_UE_SQL),
)
def graph_common_neighbors(spark, sf_dir):
    ue = user_edges(spark, sf_dir)
    und = _symmetric(ue, "v", "n")
    # und feeds the degree aggregate + both capped-adjacency legs: persist
    # (scoped — released at the next query build) so the
    # symmetrize-distinct exchange runs once (r16 opt)
    und = scoped_persist(und)
    deg = und.groupBy("v").agg(F.count(F.lit(1)).alias("d"))
    kept = deg.filter(F.col("d") <= _CN_HUB_CAP)
    ke = (
        und.join(F.broadcast(kept.select("v")), "v")
        .join(
            F.broadcast(kept.select(F.col("v").alias("n"))), "n"
        )
        .select("v", "n")
    )
    # r16 opt (guide §2.3, the copurchase basket idiom): the u<w pair
    # set used to come from a self-join of ke on the shared neighbor —
    # Σ d(n)² wedge rows through the exchange. The hub cap bounds each
    # neighbor's kept adjacency at ≤ _CN_HUB_CAP, so ONE groupBy builds
    # the sorted neighbor array (≤25 elems) and i<j array arithmetic
    # emits the identical pair multiset in codegen: 2 exchanges, no
    # join, and the shuffle carries ≤cap arrays instead of d² rows (the
    # strictly better shape under a hot vertex too — O(d) array vs d²
    # join rows).
    adj = ke.groupBy("n").agg(
        F.sort_array(F.collect_list("v")).alias("vs")
    )
    pairs = (
        adj.select(F.explode(F.expr(_ADJ_PAIRS)).alias("p"))
        .select(F.col("p.u").alias("u"), F.col("p.w").alias("w"))
        .groupBy("u", "w")
        .agg(F.count(F.lit(1)).alias("cn"))
        .filter(F.col("cn") >= 3)
    )
    da = kept.select(F.col("v").alias("u"), F.col("d").alias("du"))
    db = kept.select(F.col("v").alias("w"), F.col("d").alias("dw"))
    return (
        pairs.join(F.broadcast(da), "u")
        .join(F.broadcast(db), "w")
        .select(
            "u",
            "w",
            "cn",
            F.round(
                F.col("cn").cast("double")
                / (F.col("du") + F.col("dw") - F.col("cn")),
                6,
            ).alias("jaccard"),
        )
    )


def _ppr_oracle() -> str:
    """8 unrolled iterations of personalized PageRank (teleport restricted
    to the seed set). Same per-iteration round(6) discipline as
    _pagerank_oracle — the thing that makes deep iterative float math
    hash-matchable across engines."""
    steps = []
    prev = "p0"
    for i in range(1, 9):
        steps.append(
            f"""
    pc{i} AS MATERIALIZED (SELECT ue.dst AS v, sum({prev}.pr / outdeg.odeg) AS inflow
             FROM {prev} JOIN outdeg USING (v) JOIN ue ON ue.src = {prev}.v
             GROUP BY ue.dst),
    pd{i} AS MATERIALIZED (SELECT coalesce(sum(pr), 0.0) AS mass FROM {prev}
             WHERE v NOT IN (SELECT v FROM outdeg)),
    p{i} AS MATERIALIZED (SELECT verts.v,
                    round(0.15 * s.ind / ns.k
                          + 0.85 * (coalesce(pc{i}.inflow, 0.0)
                                    + pd{i}.mass * s.ind / ns.k), 6) AS pr
             FROM verts
             LEFT JOIN pc{i} ON pc{i}.v = verts.v
             JOIN seeds s ON s.v = verts.v, pd{i}, ns)"""
        )
        prev = f"p{i}"
    return f"""
    WITH ue AS MATERIALIZED ({_UE_SQL}),
    verts AS MATERIALIZED (SELECT DISTINCT v FROM
              (SELECT src AS v FROM ue UNION ALL SELECT dst AS v FROM ue)),
    seeds AS MATERIALIZED (SELECT v, CASE WHEN v % 10 = 0 THEN 1.0 ELSE 0.0 END
              AS ind FROM verts),
    ns AS MATERIALIZED (SELECT CAST(sum(ind) AS DOUBLE) AS k FROM seeds),
    outdeg AS MATERIALIZED
      (SELECT src AS v, count(*) AS odeg FROM ue GROUP BY src),
    p0 AS MATERIALIZED (SELECT s.v, s.ind / ns.k AS pr FROM seeds s, ns),
    {",".join(steps)}
    SELECT v, pr AS ppr FROM p8 WHERE pr > 0.0
    """


@query("graph_personalized_pagerank", oracle=_ppr_oracle())
def graph_personalized_pagerank(spark, sf_dir):
    """Personalized PageRank (the recommendation/similar-items workhorse):
    teleport and dangling mass return to the SEED SET (user_id % 10 == 0)
    instead of the whole graph, so rank concentrates around the seeds.
    8 fixed iterations, d=0.85, per-iteration round(6) on both engines
    (the graph_pagerank_fixed discipline). The same ``pagerank`` loop
    as global PageRank, which is this one with every vertex a seed.
    Zero-rank vertices are dropped at the end
    (at 100 TB a PPR result is seed-local: emitting the whole vertex set
    would be the scale bug)."""
    ue = user_edges(spark, sf_dir)
    seeds = scoped_persist(_vertices(ue)).select(
        "v",
        F.when(F.col("v") % 10 == 0, F.lit(1.0)).otherwise(0.0).alias("ind"),
    )
    k = seeds.agg(F.sum("ind")).collect()[0][0]
    ranks = pagerank(spark, ue, seeds, k, 8, "graph_personalized_pagerank")
    return ranks.filter(F.col("pr") > 0.0).select(
        "v", F.col("pr").alias("ppr")
    )


@query(
    "graph_neighborhood_sampling",
    # GraphSAGE-style 2-level neighborhood sampling — the GNN training-
    # data prep step: for every vertex keep (up to) 5 hash-ranked hop-1
    # neighbors, then (up to) 3 hop-2 neighbors of each, emitting the
    # sampled (root, hop1, hop2) paths. Determinism: neighbors are ranked
    # by md5(src || dst) + id tiebreak — reproducible across runs,
    # engines, and cluster sizes (rand() sampling would be none of
    # those). Scale: each level is one WindowGroupLimit top-k per vertex
    # (partial top-k BEFORE the shuffle) followed by an equi-join on the
    # frontier — per-vertex fan-out is capped at 5×3, so the output is
    # O(15·|V|) no matter how skewed the degree distribution.
    oracle=f"""
    WITH ue AS ({_UE_SQL}),
    r1 AS (
      SELECT src, dst, row_number() OVER (
               PARTITION BY src
               ORDER BY md5(CAST(src AS VARCHAR) || '_' ||
                            CAST(dst AS VARCHAR)), dst) AS rk
      FROM ue
    ),
    s1 AS (SELECT src AS root, dst AS hop1 FROM r1 WHERE rk <= 5),
    r2 AS (
      SELECT s1.root, s1.hop1, ue.dst AS hop2,
             row_number() OVER (
               PARTITION BY s1.root, s1.hop1
               ORDER BY md5(CAST(s1.hop1 AS VARCHAR) || '_' ||
                            CAST(ue.dst AS VARCHAR)), ue.dst) AS rk
      FROM s1 JOIN ue ON ue.src = s1.hop1
      WHERE ue.dst <> s1.root
    )
    SELECT root, hop1, hop2 FROM r2 WHERE rk <= 3
    """,
)
def graph_neighborhood_sampling(spark, sf_dir):
    from pyspark.sql import Window

    ue = user_edges(spark, sf_dir)
    rank1 = F.md5(
        F.concat(
            F.col("src").cast("string"), F.lit("_"), F.col("dst").cast("string")
        )
    )
    w1 = Window.partitionBy("src").orderBy(rank1, F.col("dst"))
    s1 = (
        ue.withColumn("rk", F.row_number().over(w1))
        .filter(F.col("rk") <= 5)
        .select(F.col("src").alias("root"), F.col("dst").alias("hop1"))
    )
    e2 = ue.select(F.col("src").alias("hop1"), F.col("dst").alias("hop2"))
    cand = s1.join(e2, "hop1").filter(F.col("hop2") != F.col("root"))
    rank2 = F.md5(
        F.concat(
            F.col("hop1").cast("string"),
            F.lit("_"),
            F.col("hop2").cast("string"),
        )
    )
    w2 = Window.partitionBy("root", "hop1").orderBy(rank2, F.col("hop2"))
    return (
        cand.withColumn("rk", F.row_number().over(w2))
        .filter(F.col("rk") <= 3)
        .select("root", "hop1", "hop2")
    )


_KCORE_K = 12
_KCORE_ROUNDS = 8


def _kcore_oracle() -> str:
    """Fixed 8-round peel (converged on the fixture by round ~6 at k=12;
    fixed rounds keep the result well-defined on BOTH engines even if a
    different fixture hasn't converged — the graph_pagerank_fixed
    discipline applied to subgraph peeling)."""
    steps = []
    prev = "u0"
    for i in range(1, _KCORE_ROUNDS + 1):
        steps.append(f"""
    kkeep{i} AS MATERIALIZED (SELECT v FROM {prev} GROUP BY v
                 HAVING count(*) >= {_KCORE_K}),
    u{i} AS MATERIALIZED (SELECT e.v, e.n FROM {prev} e
             JOIN kkeep{i} a ON e.v = a.v
             JOIN kkeep{i} b ON e.n = b.v)""")
        prev = f"u{i}"
    return f"""
    WITH ue AS MATERIALIZED ({_UE_SQL}),
    u0 AS MATERIALIZED (SELECT src AS v, dst AS n FROM ue
          UNION SELECT dst, src FROM ue),
    {",".join(steps)}
    SELECT v, count(*) AS core_degree FROM u{_KCORE_ROUNDS} GROUP BY v
    """


@query("graph_kcore", oracle=_kcore_oracle())
def graph_kcore(spark, sf_dir):
    """k-core decomposition (k=12) by iterative peeling: drop vertices
    whose degree in the CURRENT subgraph is < k, repeat — the standard
    community-detection / graph-cleaning primitive. Each round is one
    degree aggregate + two semi-join-shaped filters on the shrinking edge
    set; per-round state is the live edge frame only (a checkpoint the
    ``fixpoint`` driver trims to). At 100 TB the edge set only
    shrinks, so the worst round is the first — and peeling converges in
    O(peel depth) rounds, not O(|V|)."""
    ue = user_edges(spark, sf_dir)
    und = _symmetric(ue, "v", "n")
    cur = kcore_peel(spark, und)
    return cur.groupBy("v").agg(F.count(F.lit(1)).alias("core_degree"))


def kcore_peel(spark, und, k=_KCORE_K, rounds=_KCORE_ROUNDS):
    """The (v, n) edges of ``und`` (both directions of every undirected
    edge) left after at most ``rounds`` peeling rounds, each of which
    drops every vertex of degree < ``k`` in the current subgraph — the
    loop behind graph_kcore, factored so hand-built graphs can drive it
    (tests/test_graph.py). Stops early once a round changes nothing or
    leaves no edge, with the rows of the all-rounds spelling the oracle
    mirrors."""

    def step(state, _):
        cur, prev = state
        if prev is None:  # round 1: pinned in a step, so the driver frees it
            cur, m = checkpoint_observed(cur, F.count(F.lit(1)).alias("n"))
            prev = m["n"]
        keep = (
            cur.groupBy("v")
            .agg(F.count(F.lit(1)).alias("d"))
            .filter(F.col("d") >= k)
            .select("v")
        )
        cur, m = checkpoint_observed(
            cur.join(F.broadcast(keep), "v")
            .join(F.broadcast(keep.select(F.col("v").alias("n"))), "n")
            .select("v", "n"),
            F.count(F.lit(1)).alias("n"),
        )
        # Stop when the edge count repeats or reaches 0. Exact: a round
        # only filters the current edge set, so the new set is a subset
        # of the old one; an equal count makes them the same set, and
        # every later round would peel that same set to itself. An empty
        # set peels to itself too, so a count of 0 needs no confirming
        # round.
        return (cur, m["n"]), m["n"] in (prev, 0)

    cur, _ = fixpoint(spark, "graph_kcore", (und, None), step, rounds)
    return cur


@query(
    "graph_clustering_coefficient",
    # Local clustering coefficient: triangles(v) / C(deg(v), 2) — how
    # close each vertex's neighborhood is to a clique (the community-
    # cohesion metric on top of graph_triangle_count's counting). Same
    # canonical a<b<c triangle join (each triangle credited to all three
    # corners), plus one degree aggregate LEFT-joined so triangle-free
    # vertices report 0.0 rather than vanishing. The division is exact
    # integers → double, round(6).
    oracle=f"""
    WITH ue AS ({_UE_SQL}),
    sym AS (SELECT src, dst FROM ue UNION SELECT dst, src FROM ue),
    deg AS (SELECT src AS v, count(*) AS d FROM sym GROUP BY src),
    e AS (SELECT src, dst FROM sym WHERE src < dst),
    tri AS (
      SELECT e1.src AS a, e1.dst AS b, e2.dst AS c
      FROM e e1 JOIN e e2 ON e2.src = e1.dst
                JOIN e e3 ON e3.src = e1.src AND e3.dst = e2.dst
    ),
    corners AS (
      SELECT a AS v FROM tri UNION ALL SELECT b FROM tri
      UNION ALL SELECT c FROM tri
    ),
    tcount AS (SELECT v, count(*) AS t FROM corners GROUP BY v)
    SELECT deg.v AS user_id, deg.d AS degree,
           CAST(coalesce(tcount.t, 0) AS BIGINT) AS n_triangles,
           round(CASE WHEN deg.d >= 2
                      THEN CAST(2 * coalesce(tcount.t, 0) AS DOUBLE)
                           / (deg.d * (deg.d - 1))
                      ELSE 0.0 END, 6) AS clustering
    FROM deg LEFT JOIN tcount ON tcount.v = deg.v
    """,
)
def graph_clustering_coefficient(spark, sf_dir):
    ue = user_edges(spark, sf_dir)
    # sym feeds two subtrees (deg + the adjacency groupBy inside
    # _triangle_corners): persist so the symmetrize-distinct exchange
    # runs once (r16 opt, guide §5; r17: the wedge legs collapsed into
    # the cached adjacency, see _triangle_corners)
    sym = scoped_persist(_symmetric(ue, "src", "dst"))
    deg = sym.groupBy(F.col("src").alias("v")).agg(
        F.count(F.lit(1)).alias("d")
    )
    e = sym.filter(F.col("src") < F.col("dst"))
    # node-iterator++ triangle corners — see _triangle_corners
    tcount = _triangle_corners(e).groupBy("v").agg(
        F.count(F.lit(1)).alias("t")
    )
    t = F.coalesce(F.col("t"), F.lit(0))
    return (
        deg.join(tcount, "v", "left")
        .select(
            F.col("v").alias("user_id"),
            F.col("d").alias("degree"),
            t.cast("bigint").alias("n_triangles"),
            F.round(
                F.when(
                    F.col("d") >= 2,
                    (2 * t).cast("double") / (F.col("d") * (F.col("d") - 1)),
                ).otherwise(0.0),
                6,
            ).alias("clustering"),
        )
    )


_WALK_LEN = 4


def _walk_oracle() -> str:
    """Unrolled deterministic walk: at step t from vertex v, the next hop
    is the out-neighbor minimizing md5(root || t || neighbor) — a
    reproducible stand-in for node2vec's random choice (same uniform-ish
    spread, zero randomness)."""
    steps = []
    prev = "w0"
    for t in range(1, _WALK_LEN + 1):
        steps.append(f"""
    w{t} AS MATERIALIZED (
      SELECT root, path || '-' || CAST(nxt AS VARCHAR) AS path, nxt AS cur
      FROM (
        SELECT {prev}.root, {prev}.path, ue.dst AS nxt,
               row_number() OVER (
                 PARTITION BY {prev}.root
                 ORDER BY md5(CAST({prev}.root AS VARCHAR) || '|{t}|'
                              || CAST(ue.dst AS VARCHAR)), ue.dst) AS rk
        FROM {prev} JOIN ue ON ue.src = {prev}.cur
      ) WHERE rk = 1)""")
        prev = f"w{t}"
    return f"""
    WITH ue AS MATERIALIZED ({_UE_SQL}),
    roots AS MATERIALIZED (
      SELECT DISTINCT src AS v FROM ue WHERE src % 5 = 0),
    w0 AS MATERIALIZED (
      SELECT v AS root, CAST(v AS VARCHAR) AS path, v AS cur FROM roots),
    {",".join(steps)}
    SELECT root, path FROM w{_WALK_LEN}
    """


@query("graph_random_walks", oracle=_walk_oracle())
def graph_random_walks(spark, sf_dir):
    """Deterministic fixed-length walk generation (the node2vec/DeepWalk
    data-prep step): from every 5th vertex, a 4-step walk whose next hop
    minimizes md5(root || step || neighbor) — reproducible across
    engines/runs/cluster sizes where true random walks are not. Each
    step is one frontier⋈edges equi-join + a WindowGroupLimit rank-1
    pick; the frontier stays one row per root, so the superstep cost is
    O(|roots| × avg-degree) and retained state is the live frontier
    (a checkpoint the ``fixpoint`` driver trims to). At 100 TB you run many walks per root by
    salting the walk id into the hash."""
    from pyspark.sql import Window

    ue = pin(user_edges(spark, sf_dir))

    def step(walk, t):
        rank = F.md5(
            F.concat(
                F.col("root").cast("string"),
                F.lit(f"|{t}|"),
                F.col("dst").cast("string"),
            )
        )
        w = Window.partitionBy("root").orderBy(rank, F.col("dst"))
        walk = pin(
            walk.join(ue, walk["cur"] == ue["src"])
            .withColumn("rk", F.row_number().over(w))
            .filter(F.col("rk") == 1)
            .select(
                "root",
                F.concat(
                    F.col("path"), F.lit("-"), F.col("dst").cast("string")
                ).alias("path"),
                F.col("dst").alias("cur"),
            )
        )
        return walk, False

    roots = (
        ue.select(F.col("src").alias("v"))
        .filter(F.col("v") % 5 == 0)
        .distinct()
    )
    walk = roots.select(
        F.col("v").alias("root"),
        F.col("v").cast("string").alias("path"),
        F.col("v").alias("cur"),
    )
    walk = fixpoint(spark, "graph_random_walks", walk, step, _WALK_LEN)
    unpin(spark, [ue])  # the walk is a checkpoint: ue is consumed
    return walk.select("root", "path")


@query(
    "graph_degree_powerlaw",
    # Degree-distribution power-law fit: log-log OLS slope over the
    # degree histogram — the graph-shape diagnostic that decides whether
    # hub mitigation (salting, caps) is needed before the heavy joins.
    # The histogram is exact integers; the ln/ln regression runs on the
    # HISTOGRAM (≤ max-degree rows, driver-safe at any graph size), with
    # the OLS sums rounded to 6 decimals before assembly on both engines
    # (libm ln + tiny-sum determinism, the agg_product_rewrite hedge).
    oracle="""
    WITH ue AS ({ue}),
    und AS (SELECT src AS v, dst AS n FROM ue UNION SELECT dst, src FROM ue),
    deg AS (SELECT v, count(*) AS d FROM und GROUP BY v),
    hist AS (SELECT d, count(*) AS cnt FROM deg GROUP BY d),
    pts AS (SELECT ln(CAST(d AS DOUBLE)) AS lx,
                   ln(CAST(cnt AS DOUBLE)) AS ly
            FROM hist),
    s AS (
      SELECT count(*) AS n,
             round(sum(lx), 6) AS sx, round(sum(ly), 6) AS sy,
             round(sum(lx * ly), 6) AS sxy, round(sum(lx * lx), 6) AS sxx
      FROM pts
    )
    SELECT n AS n_points,
           round((n * sxy - sx * sy) / (n * sxx - sx * sx), 6) AS slope,
           round((sy - (n * sxy - sx * sy) / (n * sxx - sx * sx) * sx) / n,
                 6) AS intercept
    FROM s
    """.format(ue=_UE_SQL),
)
def graph_degree_powerlaw(spark, sf_dir):
    ue = user_edges(spark, sf_dir)
    und = _symmetric(ue, "v", "n")
    deg = und.groupBy("v").agg(F.count(F.lit(1)).alias("d"))
    hist = deg.groupBy("d").agg(F.count(F.lit(1)).alias("cnt"))
    pts = hist.select(
        F.log(F.col("d").cast("double")).alias("lx"),
        F.log(F.col("cnt").cast("double")).alias("ly"),
    )
    s = pts.agg(
        F.count(F.lit(1)).alias("n"),
        F.round(F.sum("lx"), 6).alias("sx"),
        F.round(F.sum("ly"), 6).alias("sy"),
        F.round(F.sum(F.col("lx") * F.col("ly")), 6).alias("sxy"),
        F.round(F.sum(F.col("lx") * F.col("lx")), 6).alias("sxx"),
    )
    n, sx, sy = F.col("n"), F.col("sx"), F.col("sy")
    sxy, sxx = F.col("sxy"), F.col("sxx")
    slope = (n * sxy - sx * sy) / (n * sxx - sx * sx)
    return s.select(
        F.col("n").alias("n_points"),
        F.round(slope, 6).alias("slope"),
        F.round((sy - slope * sx) / n, 6).alias("intercept"),
    )


@query(
    "graph_assortativity",
    # Degree assortativity — Pearson correlation of endpoint degrees over
    # directed edges (do hubs link to hubs?): the one-number summary that
    # predicts whether degree-based partitioning will skew. Exact
    # integer moment sums over (out-degree(src), in-degree(dst)) pairs —
    # the agg_higher_moments DECIMAL discipline — assembled identically
    # on both engines, round(6). Two degree aggregates + one edge join +
    # one global aggregate; never materializes anything bigger than the
    # edge list.
    oracle=f"""
    WITH ue AS ({_UE_SQL}),
    outd AS (SELECT src, count(*) AS od FROM ue GROUP BY src),
    ind AS (SELECT dst, count(*) AS idg FROM ue GROUP BY dst),
    pairs AS (
      SELECT o.od AS x, i.idg AS y
      FROM ue JOIN outd o ON o.src = ue.src
              JOIN ind i ON i.dst = ue.dst
    ),
    m AS (
      SELECT count(*) AS n,
             CAST(sum(CAST(x AS DECIMAL(38,0))) AS DOUBLE) AS sx,
             CAST(sum(CAST(y AS DECIMAL(38,0))) AS DOUBLE) AS sy,
             CAST(sum(CAST(x AS DECIMAL(19,0)) * CAST(y AS DECIMAL(19,0)))
                  AS DOUBLE) AS sxy,
             CAST(sum(CAST(x AS DECIMAL(19,0)) * CAST(x AS DECIMAL(19,0)))
                  AS DOUBLE) AS sxx,
             CAST(sum(CAST(y AS DECIMAL(19,0)) * CAST(y AS DECIMAL(19,0)))
                  AS DOUBLE) AS syy
      FROM pairs
    )
    SELECT n AS n_edges,
           round((n * sxy - sx * sy)
                 / nullif(sqrt((n * sxx - sx * sx) * (n * syy - sy * sy)),
                          0), 6) AS assortativity
    FROM m
    """,
)
def graph_assortativity(spark, sf_dir):
    ue = user_edges(spark, sf_dir)
    outd = ue.groupBy("src").agg(F.count(F.lit(1)).alias("od"))
    ind = ue.groupBy("dst").agg(F.count(F.lit(1)).alias("idg"))
    pairs = (
        ue.join(outd, "src")
        .join(ind, "dst")
        .select(F.col("od").alias("x"), F.col("idg").alias("y"))
    )
    d19 = lambda c: c.cast("decimal(19,0)")  # noqa: E731
    x, y = F.col("x"), F.col("y")
    m = pairs.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(x.cast("decimal(38,0)")).cast("double").alias("sx"),
        F.sum(y.cast("decimal(38,0)")).cast("double").alias("sy"),
        F.sum(d19(x) * d19(y)).cast("double").alias("sxy"),
        F.sum(d19(x) * d19(x)).cast("double").alias("sxx"),
        F.sum(d19(y) * d19(y)).cast("double").alias("syy"),
    )
    n, sx, sy = F.col("n"), F.col("sx"), F.col("sy")
    sxy, sxx, syy = F.col("sxy"), F.col("sxx"), F.col("syy")
    r = (n * sxy - sx * sy) / F.nullif(
        F.sqrt((n * sxx - sx * sx) * (n * syy - sy * sy)), F.lit(0.0)
    )
    return m.select(
        F.col("n").alias("n_edges"), F.round(r, 6).alias("assortativity")
    )


def _harmonic_oracle() -> str:
    """Seed-sampled harmonic centrality, 3 unrolled BFS layers: per
    (seed, vertex) the min hop distance ≤ 3, contribution 1/d summed per
    vertex. Seeds are every 15th vertex (hash-free — ids are already
    uniform), bounding work to |seeds| × 3 frontier joins."""
    return f"""
    WITH ue AS MATERIALIZED ({_UE_SQL}),
    und AS MATERIALIZED (SELECT src AS v, dst AS n FROM ue
          UNION SELECT dst, src FROM ue),
    seeds AS MATERIALIZED (
      SELECT DISTINCT v AS s FROM und WHERE v % 15 = 0),
    d1 AS MATERIALIZED (
      SELECT DISTINCT seeds.s, und.n AS v FROM seeds
      JOIN und ON und.v = seeds.s
      WHERE und.n <> seeds.s),
    d2 AS MATERIALIZED (
      SELECT DISTINCT d1.s, und.n AS v FROM d1
      JOIN und ON und.v = d1.v
      WHERE und.n <> d1.s
        AND NOT EXISTS (SELECT 1 FROM d1 p
                        WHERE p.s = d1.s AND p.v = und.n)),
    d3 AS MATERIALIZED (
      SELECT DISTINCT d2.s, und.n AS v FROM d2
      JOIN und ON und.v = d2.v
      WHERE und.n <> d2.s
        AND NOT EXISTS (SELECT 1 FROM d1 p
                        WHERE p.s = d2.s AND p.v = und.n)
        AND NOT EXISTS (SELECT 1 FROM d2 p
                        WHERE p.s = d2.s AND p.v = und.n)),
    contrib AS (
      SELECT v, 1.0 AS c FROM d1
      UNION ALL SELECT v, 0.5 FROM d2
      UNION ALL SELECT v, 1.0 / 3 FROM d3
    )
    SELECT v AS user_id,
           CAST(count(*) AS BIGINT) AS n_seeds_reaching,
           round(sum(c), 6) AS harmonic
    FROM contrib GROUP BY v
    """


@query("graph_harmonic_centrality", oracle=_harmonic_oracle())
def graph_harmonic_centrality(spark, sf_dir):
    """Seed-sampled harmonic centrality (the scalable spelling of
    closeness: Σ 1/d(seed, v) over a deterministic seed subset, hop
    depth capped at 3) — exact all-pairs closeness is O(|V|·E) and is
    exactly what you do NOT run at 100 TB; seed sampling with a hop cap
    is the standard estimator (contributions are exact small rationals:
    1, 1/2, 1/3 — identical doubles both engines, round(6) on the sum).
    Each layer is one frontier⋈edges equi-join + an anti-join against
    the seen set — the BFS superstep shape. Only the three layer frames
    stay pinned (the final union consumes them): the edge set and the
    seen set are freed once the last layer is pinned, so retained state
    is O(hop cap) — a fixed constant, not per-superstep growth."""
    ue = user_edges(spark, sf_dir)
    und = pin(_symmetric(ue, "v", "n"))
    seeds = und.select(F.col("v").alias("s")).filter(
        F.col("s") % 15 == 0
    ).distinct()
    frontier = pin(
        seeds.join(und, seeds["s"] == und["v"])
        .filter(F.col("n") != F.col("s"))
        .select("s", F.col("n").alias("v"))
        .distinct()
    )

    def hop(seen):
        return pin(
            seen.join(und, seen["v"] == und["v"])
            .select("s", F.col("n").alias("nv"))
            .filter(F.col("nv") != F.col("s"))
            .select("s", F.col("nv").alias("v"))
            .distinct()
            .join(seen, ["s", "v"], "left_anti")
        )

    second = hop(frontier)
    seen = pin(frontier.union(second))
    layers = [frontier, second, hop(seen)]
    unpin(spark, [und, seen])
    contrib = (
        layers[0].select("v", F.lit(1.0).alias("c"))
        .unionAll(layers[1].select("v", F.lit(0.5).alias("c")))
        .unionAll(layers[2].select("v", (F.lit(1.0) / 3).alias("c")))
    )
    return contrib.groupBy("v").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_seeds_reaching"),
        F.round(F.sum("c"), 6).alias("harmonic"),
    ).select(F.col("v").alias("user_id"), "n_seeds_reaching", "harmonic")


@query(
    "graph_adamic_adar",
    # Adamic-Adar link prediction over the same capped adjacency as
    # graph_common_neighbors: score(u,w) = Σ_z 1/ln(deg(z)) over common
    # neighbors z — rare shared neighbors count more than hubs, the
    # refinement Jaccard can't express. A common neighbor necessarily
    # has degree ≥ 2, so ln(deg) > 0 by construction. Each 1/ln term is
    # engine-identical (exact integer degree into libm); only the
    # per-pair sum order differs → round(6).
    oracle=f"""
    WITH ue AS ({_UE_SQL}),
    {_UND_DEG_SQL}
    SELECT a.v AS u, b.v AS w, count(*) AS cn,
           round(sum(1.0 / ln(dn.d)), 6) AS aa_score
    FROM ke a
    JOIN ke b ON a.n = b.n AND a.v < b.v
    JOIN kept dn ON dn.v = a.n
    GROUP BY a.v, b.v
    HAVING count(*) >= 3
    ORDER BY u, w
    """,
)
def graph_adamic_adar(spark, sf_dir):
    """Same scale shape as graph_common_neighbors (hub-capped adjacency
    self-joined ON the shared neighbor, map-side-combined pair
    aggregate); the neighbor-degree weight joins BEFORE pairing so the
    1/ln(d) factor rides the adjacency rows instead of a third join on
    the pair table."""
    ue = user_edges(spark, sf_dir)
    und = _symmetric(ue, "v", "n")
    # und feeds the degree aggregate + both capped-adjacency legs: persist
    # (scoped — released at the next query build) so the
    # symmetrize-distinct exchange runs once (r16 opt)
    und = scoped_persist(und)
    deg = und.groupBy("v").agg(F.count(F.lit(1)).alias("d"))
    kept = deg.filter(F.col("d") <= _CN_HUB_CAP)
    ke = (
        und.join(F.broadcast(kept.select("v")), "v")
        .join(F.broadcast(kept.select(F.col("v").alias("n"), "d")), "n")
        .select("v", "n", "d")
    )
    # r16 opt: same array-pair rewrite as graph_common_neighbors; the
    # 1/ln(d) weight is a per-GROUP scalar (d is the shared neighbor's
    # degree, constant within the group), so it rides the exploded pair
    # rows and the sum collects the identical term set the wedge join
    # summed (order hedged by the existing round(6)).
    adj = ke.groupBy("n", "d").agg(
        F.sort_array(F.collect_list("v")).alias("vs")
    )
    pairs = adj.select(
        (1.0 / F.log(F.col("d"))).alias("wt"),
        F.explode(F.expr(_ADJ_PAIRS)).alias("p"),
    )
    return (
        pairs.select("wt", F.col("p.u").alias("u"), F.col("p.w").alias("w"))
        .groupBy("u", "w")
        .agg(
            F.count(F.lit(1)).alias("cn"),
            F.round(F.sum("wt"), 6).alias("aa_score"),
        )
        .filter(F.col("cn") >= 3)
        .orderBy("u", "w")
    )


@query(
    "graph_reciprocity",
    # Edge reciprocity: the share of directed edges whose reverse edge
    # also exists — the "mutual interaction" health metric (bot/broadcast
    # graphs are near 0, social graphs high). The reverse check is a
    # self semi-join on the swapped key pair; counts exact, one exact
    # division rounded at the end.
    oracle=f"""
    WITH ue AS ({_UE_SQL}),
    mutual AS (
      SELECT a.src, a.dst FROM ue a
      WHERE EXISTS (SELECT 1 FROM ue b
                    WHERE b.src = a.dst AND b.dst = a.src)
    )
    SELECT (SELECT count(*) FROM ue) AS n_edges,
           (SELECT count(*) FROM mutual) AS n_mutual,
           round(CAST((SELECT count(*) FROM mutual) AS DOUBLE)
                 / (SELECT count(*) FROM ue), 6) AS reciprocity
    """,
)
def graph_reciprocity(spark, sf_dir):
    """One edge-list self semi-join hash-partitioned on the (dst, src)
    pair — no fan-out (semi join emits each edge at most once) — then
    two scalar counts combined driver-free via a cross join of 1-row
    aggregates."""
    ue = user_edges(spark, sf_dir)
    rev = ue.select(
        F.col("src").alias("r_src"), F.col("dst").alias("r_dst")
    )
    mutual = ue.join(
        rev,
        (ue["src"] == rev["r_dst"]) & (ue["dst"] == rev["r_src"]),
        "left_semi",
    )
    n_e = ue.agg(F.count("*").alias("n_edges"))
    n_m = mutual.agg(F.count("*").alias("n_mutual"))
    return n_e.crossJoin(n_m).select(
        "n_edges",
        "n_mutual",
        F.round(
            F.col("n_mutual").cast("double") / F.col("n_edges"), 6
        ).alias("reciprocity"),
    )


@query(
    "graph_modularity",
    # Newman modularity Q of an attribute partition: communities are
    # each user's dominant props.k value (argmax, count desc / k asc
    # tie-break), scored over the undirected interaction graph:
    # Q = Σ_c [e_c/m − (d_c/2m)²]. Every ingredient is an exact integer
    # count, so each community term is engine-identical; only the
    # community-grid sum order differs → round(6). The quality gate for
    # ANY community assignment (labels, CC output, attributes) before
    # trusting it downstream.
    oracle=f"""
    WITH ue AS ({_UE_SQL}),
    und AS (
      SELECT DISTINCT LEAST(src, dst) AS a, GREATEST(src, dst) AS b
      FROM ue
    ),
    kc AS (
      SELECT user_id, json_extract_string(props, '$.k') AS k, count(*) AS c
      FROM events GROUP BY 1, 2
    ),
    comm AS (
      SELECT user_id, k AS com FROM (
        SELECT user_id, k,
               row_number() OVER (PARTITION BY user_id
                                  ORDER BY c DESC, k ASC) AS rn
        FROM kc) WHERE rn = 1
    ),
    m AS (SELECT CAST(count(*) AS DOUBLE) AS m FROM und),
    within AS (
      SELECT ca.com, count(*) AS ec
      FROM und
      JOIN comm ca ON ca.user_id = und.a
      JOIN comm cb ON cb.user_id = und.b
      WHERE ca.com = cb.com GROUP BY ca.com
    ),
    degs AS (
      SELECT v, count(*) AS d FROM (
        SELECT a AS v FROM und UNION ALL SELECT b FROM und) GROUP BY v
    ),
    dc AS (
      SELECT comm.com, CAST(sum(d) AS BIGINT) AS dc
      FROM degs JOIN comm ON comm.user_id = degs.v GROUP BY comm.com
    )
    SELECT CAST((SELECT count(*) FROM dc) AS BIGINT) AS n_communities,
           CAST((SELECT m FROM m) AS BIGINT) AS n_edges,
           round(sum(coalesce(within.ec, 0) / m.m
                     - power(dc.dc / (2 * m.m), 2)), 6) AS modularity
    FROM dc LEFT JOIN within ON within.com = dc.com CROSS JOIN m
    """,
)
def graph_modularity(spark, sf_dir):
    """Community assignment is ONE argmax aggregate; scoring is two
    community-grid aggregates over the canonical undirected edge list
    (each edge counted once via least/greatest) with the edge total as
    a 1-row broadcast — no per-vertex iteration, no fixpoint."""
    from pyspark.sql import Window

    ue = user_edges(spark, sf_dir)
    # r16 opt (guide §5): und feeds within + degrees + the edge total m
    # (3 subtrees), comm feeds both join legs + the community degree sum
    # (3 subtrees) — persist each so the canonicalize-distinct exchange
    # and the argmax window run once.
    und = scoped_persist(
        ue.select(
            F.least("src", "dst").alias("a"),
            F.greatest("src", "dst").alias("b"),
        ).distinct()
    )
    ev = load(spark, sf_dir, "events").select(
        "user_id", F.get_json_object("props", "$.k").alias("k")
    )
    kc = ev.groupBy("user_id", "k").agg(F.count("*").alias("c"))
    comm = (
        kc.withColumn(
            "rn",
            F.row_number().over(
                Window.partitionBy("user_id").orderBy(
                    F.col("c").desc(), F.col("k").asc()
                )
            ),
        )
        .filter(F.col("rn") == 1)
        .select("user_id", F.col("k").alias("com"))
    )
    comm = scoped_persist(comm)
    ca = comm.select(F.col("user_id").alias("ua"), F.col("com").alias("coma"))
    cb = comm.select(F.col("user_id").alias("ub"), F.col("com").alias("comb"))
    within = (
        und.join(ca, und["a"] == ca["ua"])
        .join(cb, und["b"] == cb["ub"])
        .filter(F.col("coma") == F.col("comb"))
        .groupBy(F.col("coma").alias("w_com"))
        .agg(F.count("*").alias("ec"))
    )
    # one explode pass instead of a 2-way unionAll (two und subtrees)
    degs = (
        und.select(F.explode(F.array("a", "b")).alias("v"))
        .groupBy("v")
        .agg(F.count("*").alias("d"))
    )
    dc = (
        degs.join(comm, degs["v"] == comm["user_id"])
        .groupBy("com")
        .agg(F.sum("d").cast("bigint").alias("dc"))
    )
    m = und.agg(F.count("*").cast("double").alias("m"))
    nc = dc.agg(F.count("*").cast("bigint").alias("n_communities"))
    term = F.coalesce(F.col("ec"), F.lit(0)) / F.col("m") - F.pow(
        F.col("dc") / (2 * F.col("m")), 2
    )
    # GLOBAL community-term sum → always 1 row (an empty graph must yield
    # one (0, 0, NULL) row like the oracle's scalar subqueries, not zero
    # rows from a grouped agg); the 1-row count frames join on after.
    q = (
        dc.join(within, dc["com"] == within["w_com"], "left")
        .crossJoin(F.broadcast(m))
        .agg(r6(F.sum(term)).alias("modularity"))
    )
    return (
        nc.crossJoin(F.broadcast(m.select(F.col("m").cast("bigint").alias("n_edges"))))
        .crossJoin(F.broadcast(q))
        .select("n_communities", "n_edges", "modularity")
    )


@query(
    "graph_centralization",
    # Freeman degree centralization of the undirected interaction graph:
    # Σ(d_max − d_i) / ((n−1)(n−2)) — 0 for a regular graph, 1 for a
    # perfect star; the single number that says "does one hub dominate".
    # All-integer ingredients (degrees, n), one exact division.
    oracle=f"""
    WITH ue AS ({_UE_SQL}),
    und AS (
      SELECT DISTINCT LEAST(src, dst) AS a, GREATEST(src, dst) AS b
      FROM ue
    ),
    deg AS (
      SELECT v, CAST(count(*) AS BIGINT) AS d FROM (
        SELECT a AS v FROM und UNION ALL SELECT b FROM und) GROUP BY v
    )
    SELECT CAST(count(*) AS BIGINT) AS n_vertices,
           max(d) AS d_max,
           round(CAST(sum(max_d - d) AS DOUBLE)
                 / ((count(*) - 1) * (count(*) - 2)), 6)
             AS centralization
    FROM (SELECT v, d, max(d) OVER () AS max_d FROM deg)
    """,
)
def graph_centralization(spark, sf_dir):
    """One degree aggregate; d_max is a 1-row broadcast joined back (no
    global window over vertices) and the final reduction is a single
    scalar aggregate — vertex-table-sized work throughout."""
    ue = user_edges(spark, sf_dir)
    und = ue.select(
        F.least("src", "dst").alias("a"), F.greatest("src", "dst").alias("b")
    ).distinct()
    # r16 opt: one explode pass instead of a 2-way unionAll (two und
    # subtrees), and deg persisted for its two consumers (the 1-row max
    # and the final reduction) so the degree aggregate runs once.
    deg = scoped_persist(
        und.select(F.explode(F.array("a", "b")).alias("v"))
        .groupBy("v")
        .agg(F.count("*").cast("bigint").alias("d"))
    )
    mx = deg.agg(F.max("d").alias("max_d"))
    return (
        deg.crossJoin(F.broadcast(mx))
        .agg(
            F.count("*").cast("bigint").alias("n_vertices"),
            F.max("d").alias("d_max"),
            r6(
                F.sum(F.col("max_d") - F.col("d")).cast("double")
                / ((F.count("*") - 1) * (F.count("*") - 2))
            ).alias("centralization"),
        )
    )


@query(
    "agg_association_rules",
    # Association-rule metrics on top of the co-purchase pairs: for
    # part pairs with pair support ≥ 5 orders, emit support, directed
    # confidence P(b|a), and lift — the Apriori output retail
    # recommenders rank by. Every metric is an exact integer ratio
    # (pair count, item counts, basket total) → engine-identical up to
    # round(6); lift > 1 flags genuinely associated pairs.
    oracle=f"""
    WITH items AS (
      SELECT DISTINCT l_orderkey, l_partkey FROM lineitem
    ),
    ok AS (
      SELECT l_orderkey FROM items GROUP BY l_orderkey
      HAVING count(*) <= {{cap}}
    ),
    kept AS (SELECT i.* FROM items i JOIN ok USING (l_orderkey)),
    n AS (SELECT CAST(count(DISTINCT l_orderkey) AS DOUBLE) AS nb FROM kept),
    item_n AS (
      SELECT l_partkey, CAST(count(*) AS BIGINT) AS c FROM kept GROUP BY 1
    ),
    pairs AS (
      SELECT a.l_partkey AS part_a, b.l_partkey AS part_b,
             CAST(count(*) AS BIGINT) AS c_ab
      FROM kept a JOIN kept b
        ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
      GROUP BY 1, 2 HAVING count(*) >= 5
    )
    SELECT p.part_a, p.part_b, p.c_ab,
           round(p.c_ab / n.nb, 6) AS support,
           round(CAST(p.c_ab AS DOUBLE) / ia.c, 6) AS conf_a_to_b,
           round(CAST(p.c_ab AS DOUBLE) / ib.c, 6) AS conf_b_to_a,
           round((p.c_ab / n.nb) / ((ia.c / n.nb) * (ib.c / n.nb)), 6)
             AS lift
    FROM pairs p
    JOIN item_n ia ON ia.l_partkey = p.part_a
    JOIN item_n ib ON ib.l_partkey = p.part_b
    CROSS JOIN n
    ORDER BY p.part_a, p.part_b
    """.format(cap=_BASKET_CAP),
)
def agg_association_rules(spark, sf_dir):
    """Reuses the capped co-purchase shape (quadratic only in basket
    size) and adds two broadcast-sized joins for the item counts plus a
    1-row basket total — the metrics cost nothing beyond the pair
    aggregate the recommender already runs. r16 opt: the basket frame is
    built by _capped_baskets' single groupBy and persisted — it feeds
    THREE aggregates (basket total, item counts, pair counts) that each
    recomputed the lineitem distinct + cap join before; item counts and
    pairs now derive from the basket array with no self-join."""
    baskets = scoped_persist(_capped_baskets(spark, sf_dir))
    n = baskets.agg(F.count(F.lit(1)).cast("double").alias("nb"))
    # item_n feeds BOTH broadcast legs (ia and ib) — persist so the
    # basket explode + per-part aggregate runs once (r16 opt, guide §5;
    # the frame is per-part counts, result-bounded)
    item_n = scoped_persist(
        baskets.select(F.explode("parts").alias("l_partkey"))
        .groupBy("l_partkey")
        .agg(F.count("*").cast("bigint").alias("c"))
    )
    pairs = (
        baskets.select(F.explode(F.expr(_BASKET_PAIRS)).alias("p"))
        .select(F.col("p.part_a").alias("part_a"),
                F.col("p.part_b").alias("part_b"))
        .groupBy("part_a", "part_b")
        .agg(F.count("*").cast("bigint").alias("c_ab"))
        .filter(F.col("c_ab") >= 5)
    )
    ia = item_n.select(
        F.col("l_partkey").alias("ia_key"), F.col("c").alias("ca")
    )
    ib = item_n.select(
        F.col("l_partkey").alias("ib_key"), F.col("c").alias("cb")
    )
    return (
        pairs.join(F.broadcast(ia), F.col("part_a") == F.col("ia_key"))
        .join(F.broadcast(ib), F.col("part_b") == F.col("ib_key"))
        .crossJoin(F.broadcast(n))
        .select(
            "part_a",
            "part_b",
            "c_ab",
            r6(F.col("c_ab") / F.col("nb")).alias("support"),
            r6(F.col("c_ab").cast("double") / F.col("ca")).alias(
                "conf_a_to_b"
            ),
            r6(F.col("c_ab").cast("double") / F.col("cb")).alias(
                "conf_b_to_a"
            ),
            r6(
                (F.col("c_ab") / F.col("nb"))
                / ((F.col("ca") / F.col("nb")) * (F.col("cb") / F.col("nb")))
            ).alias("lift"),
        )
        .orderBy("part_a", "part_b")
    )


@query(
    "graph_edge_support",
    # Edge support (triangles through each edge) on the hub-capped
    # undirected graph — the k-truss building block: an edge with
    # support ≥ k−2 survives the k-truss. Computed as the neighbor-set
    # intersection of the edge's endpoints via the same
    # join-on-shared-neighbor shape as common-neighbors; all-integer.
    oracle=f"""
    WITH ue AS ({_UE_SQL}),
    {_UND_DEG_SQL},
    edges AS (
      SELECT DISTINCT LEAST(v, n) AS a, GREATEST(v, n) AS b FROM ke
    )
    SELECT e.a, e.b, CAST(count(*) AS BIGINT) AS support
    FROM edges e
    JOIN ke x ON x.v = e.a
    JOIN ke y ON y.v = e.b AND y.n = x.n
    WHERE x.n <> e.b AND x.n <> e.a
    GROUP BY e.a, e.b
    ORDER BY e.a, e.b
    """,
)
def graph_edge_support(spark, sf_dir):
    """Support = |N(a) ∩ N(b)| per edge: two adjacency joins hash-
    partitioned on the shared neighbor, fan-out bounded by the same
    hub cap as common-neighbors; edges with no triangle simply don't
    emit (their support is 0 by absence — the truss peel drops them
    first)."""
    ue = user_edges(spark, sf_dir)
    und = _symmetric(ue, "v", "n")
    # und feeds the degree aggregate + both capped-adjacency legs: persist
    # (scoped — released at the next query build) so the
    # symmetrize-distinct exchange runs once (r16 opt)
    und = scoped_persist(und)
    deg = und.groupBy("v").agg(F.count(F.lit(1)).alias("d"))
    kept = deg.filter(F.col("d") <= _CN_HUB_CAP)
    # ke feeds the canonical edge list + BOTH wedge-join legs (3
    # subtrees): persist so the two capped-adjacency joins run once
    # (r16 opt, guide §5)
    ke = scoped_persist(
        und.join(F.broadcast(kept.select("v")), "v")
        .join(F.broadcast(kept.select(F.col("v").alias("n"))), "n")
        .select("v", "n")
    )
    edges = ke.select(
        F.least("v", "n").alias("a"), F.greatest("v", "n").alias("b")
    ).distinct()
    # r16 opt (guide §2.3): support = |N(a) ∩ N(b) \ {a, b}| — the two
    # wedge joins fanned Σ d(a)·1 rows per edge through the exchange;
    # with the hub cap bounding kept adjacency at ≤25, ONE groupBy
    # builds each vertex's sorted neighbor array and the intersection
    # runs in codegen on two equi-joined array columns. Edges with no
    # shared neighbor emitted nothing before (inner wedge join) — the
    # support > 0 filter preserves that.
    adj = ke.groupBy("v").agg(
        F.sort_array(F.collect_list("n")).alias("ns")
    )
    return (
        edges.join(
            adj.select(F.col("v").alias("a"), F.col("ns").alias("na")), "a"
        )
        .join(
            adj.select(F.col("v").alias("b"), F.col("ns").alias("nb")), "b"
        )
        .select(
            "a",
            "b",
            F.size(
                F.array_except(
                    F.array_intersect("na", "nb"), F.array("a", "b")
                )
            ).cast("bigint").alias("support"),
        )
        .filter(F.col("support") > 0)
        .orderBy("a", "b")
    )
