"""The per-session state (``session.SessionState``): tuning, the frame
store behind ``catalog.load`` and ``session_fragment``, the scoped
persist marks that each registered build releases, and the pin ledger.

Sessions made with ``spark.newSession()`` share the SparkContext but start
without state, so each test that needs an untouched session makes one.
"""

from __future__ import annotations

import ast
import gc
import os
import sys
import weakref
from concurrent.futures import ThreadPoolExecutor
from pathlib import Path

import pytest
from pyspark import StorageLevel
from pyspark.sql import functions as F

from naqed_spark.catalog import TABLES, load
from naqed_spark.queries._util import scoped_persist
from naqed_spark.registry import QUERIES, load_all
from naqed_spark.session import (
    begin_build,
    free_pins,
    get_spark,
    persistent_rdd_ids,
    release_checkpoints,
    session_state,
    tune_session,
    unpersist_rdds,
)

SF_DIR = os.environ.get("NAQED_TEST_SF_DIR", "/root/testdata/sf0.001")

load_all()

pytestmark = pytest.mark.quick

TUNED = (
    "spark.sql.session.timeZone",
    "spark.sql.adaptive.enabled",
    "spark.sql.ansi.enabled",
    "spark.sql.execution.arrow.pyspark.enabled",
    "spark.sql.shuffle.partitions",
)


@pytest.fixture(scope="session")
def spark():
    yield tune_session(get_spark("naqed-session-tests"))


def test_tune_session_sizes_shuffles_from_default_parallelism(
    spark, monkeypatch
):
    """Shuffle partitions follow the session's own scheduler parallelism,
    not an environment default that may disagree with it."""
    n = spark.sparkContext.defaultParallelism
    monkeypatch.setenv("SPARK_GRAFT_CPUS", str(n + 5))
    fresh = spark.newSession()
    fresh.conf.set("spark.sql.shuffle.partitions", "200")
    assert tune_session(fresh) is fresh
    assert fresh.conf.get("spark.sql.shuffle.partitions") == str(n)


def test_get_spark_and_tuned_bare_session_agree(spark):
    """The five runtime confs are written in one place: a session the
    caller built with other values ends up exactly where ``get_spark``
    puts its own, and tuning happens once per session."""
    fresh = spark.newSession()
    for k, v in zip(TUNED, ("America/New_York", "false", "true", "false",
                            "200")):
        fresh.conf.set(k, v)
    state = session_state(fresh)
    assert [fresh.conf.get(k) for k in TUNED] == [
        get_spark().conf.get(k) for k in TUNED
    ]
    assert session_state(fresh) is state
    fresh.conf.set("spark.sql.ansi.enabled", "true")
    tune_session(fresh)  # already tuned: leaves the caller's change alone
    assert fresh.conf.get("spark.sql.ansi.enabled") == "true"


def test_get_spark_sets_no_sql_conf_a_bare_tuned_session_lacks(
    spark, monkeypatch
):
    """Tests plan under the recipe of the benchmark and of a caller that
    hands over its own session: a bare session (master, shuffle
    partitions, UI off) run through ``tune_session``. ``get_spark``'s builder is recorded, the SQL confs it
    sets are applied to a fresh session as a real builder would, and that
    session must agree with a bare tuned one on every SQL conf either
    sets."""
    import types

    import naqed_spark.session as session_mod

    confs = {}

    class Builder:
        def master(self, _):
            return self

        def appName(self, _):
            return self

        def config(self, k, v):
            confs[k] = v
            return self

        def getOrCreate(self):
            s = spark.newSession()
            for k, v in confs.items():
                if k.startswith("spark.sql."):
                    s.conf.set(k, v)
            return s

    monkeypatch.setattr(
        session_mod, "SparkSession", types.SimpleNamespace(builder=Builder())
    )
    ours = session_mod.get_spark()
    bare = spark.newSession()
    bare.conf.set("spark.sql.shuffle.partitions", "200")
    bare = tune_session(bare)
    keys = {
        k for s in (ours, bare) for k in s.conf.getAll
        if k.startswith("spark.sql.")
    }
    assert {k: ours.conf.get(k) for k in keys} == {
        k: bare.conf.get(k) for k in keys
    }
    assert not [k for k in confs if k.startswith("spark.sql.")]


def test_catalog_df_cache_is_per_session_and_lazy(spark):
    """load() returns the SAME analyzed frame within a session (the r16
    build-constant win), events normalization included; the store holds
    lazy plans only (no InMemoryRelation — nothing is result-cached)."""
    a = load(spark, SF_DIR, "lineitem")
    assert load(spark, SF_DIR, "lineitem") is a
    assert session_state(spark).frames[("entity", SF_DIR, "lineitem")] is a
    ev = load(spark, SF_DIR, "events")
    assert str(ev.schema["ts"].dataType) == "TimestampType()"
    assert "InMemoryRelation" not in a._jdf.queryExecution().toString()
    # another session never sees this session's frames
    assert load(spark.newSession(), SF_DIR, "lineitem") is not a
    # distinct sf_dirs must never collide
    other = SF_DIR.replace("0.001", "0.01")
    if os.path.isdir(other):
        assert load(spark, other, "lineitem") is not a


def test_load_returns_same_frame_and_schema(spark):
    """Repeated loads return the stored frame, whose schema matches an
    independent read on another session."""
    first, second = spark.newSession(), spark.newSession()
    for name in ("lineitem", "events", "documents"):
        df = load(first, SF_DIR, name)
        assert load(first, SF_DIR, name) is df
        assert load(first, SF_DIR, name).schema == df.schema
        assert load(second, SF_DIR, name).schema == df.schema


def test_event_id_unique_in_fixture(spark):
    """The join_asof argmax rewrite (and the engine's $asof per-key
    grouping) lean on event_id uniqueness — pin the entity invariant the
    equivalence arguments cite."""
    dup = (
        load(spark, SF_DIR, "events")
        .groupBy("event_id")
        .count()
        .filter(F.col("count") > 1)
    )
    assert dup.isEmpty()


def test_direct_load_on_fresh_session_pins_utc(spark):
    """A direct ``catalog.load`` on a session that was never tuned, whose
    zone is not UTC, attaches the state and so computes under UTC: its
    epochs and hours match the tuned session's."""
    fresh = spark.newSession()
    fresh.conf.set("spark.sql.session.timeZone", "America/New_York")

    def stamps(s):
        return sorted(
            load(s, SF_DIR, "events")
            .select(F.unix_micros("ts"), F.hour("ts"))
            .collect()
        )

    got = stamps(fresh)
    assert fresh.conf.get("spark.sql.session.timeZone") == "UTC"
    assert got == stamps(spark)


def test_session_fragment_caches_lazy_plan_per_key(spark):
    """session_fragment returns the SAME analyzed frame for the same
    (session, key) — the r17 build-constant win — and the cached value is
    a lazy plan only (no InMemoryRelation: nothing is result-cached)."""
    from naqed_spark.queries._util import session_fragment

    calls = []

    def build():
        calls.append(1)
        return spark.range(3).select((F.col("id") * 2).alias("x"))

    a = session_fragment(spark, ("t17", "a"), build)
    assert session_fragment(spark, ("t17", "a"), build) is a
    assert len(calls) == 1
    b = session_fragment(spark, ("t17", "b"), build)
    assert b is not a and len(calls) == 2
    assert "InMemoryRelation" not in a._jdf.queryExecution().toString()
    # the shared helpers ride this cache: same object across two builds
    from naqed_spark.queries.graph import user_edges
    from naqed_spark.queries.llm import _minhash_sigs

    assert _minhash_sigs(spark, SF_DIR) is _minhash_sigs(spark, SF_DIR)
    e1 = user_edges(spark, SF_DIR)
    e2 = user_edges(spark, SF_DIR)
    assert e1 is e2
    # and the persist mark is re-registered on every call (each build
    # releases the previous one's marks, so a cached fragment must re-mark)
    begin_build(spark)
    user_edges(spark, SF_DIR)
    assert any(
        df is e1 for df in session_state(spark).persists
    ), "cached fragment must re-register its scoped persist mark"
    begin_build(spark)


def test_scoped_persists_released_on_next_query_build(spark):
    """Builders persist frames their own plan reuses (user_edges, LSH
    sigs, baskets); the registry must release those marks when the NEXT
    query builds, so a long session (oracle sweep, real pipeline) never
    accumulates cached blocks until eviction/GC stalls. Release is safe
    by construction: a persist mark recomputes from lineage."""
    state = session_state(spark)
    # build (not run) a graph key: user_edges registers a scoped mark
    df_a = QUERIES["graph_degree"](spark, SF_DIR)
    assert len(state.persists) >= 1
    # building the next query releases the previous query's marks
    QUERIES["filter_comparison"](spark, SF_DIR)
    assert state.persists == []
    # and the released frame still computes correctly from lineage
    assert df_a.limit(1).count() in (0, 1)
    # a query that persists AND self-unpersists (bfs) must stay green
    # after an interleaved release (CacheManager dedup + re-mark)
    QUERIES["graph_reachability_bfs"](spark, SF_DIR).limit(1).collect()
    QUERIES["filter_comparison"](spark, SF_DIR)
    assert state.persists == []


def test_build_on_new_session_keeps_first_sessions_marks(spark):
    """Each session releases only its own marks: a build on another
    session leaves this session's persisted frames cached."""
    QUERIES["graph_degree"](spark, SF_DIR)
    marked = list(session_state(spark).persists)
    assert marked
    QUERIES["filter_comparison"](spark.newSession(), SF_DIR)
    assert session_state(spark).persists == marked
    assert all(df.storageLevel != StorageLevel.NONE for df in marked)
    begin_build(spark)
    assert all(df.storageLevel == StorageLevel.NONE for df in marked)


def test_dropped_session_is_garbage_collected(spark):
    """A session's frames and persist marks live on the session object,
    so a session that built a graph key and is then dropped can be
    collected: nothing module-level keeps it alive."""
    s = spark.newSession()
    QUERIES["graph_degree"](s, SF_DIR)
    assert session_state(s).persists
    marks = [df._jdf for df in session_state(s).persists]
    ref = weakref.ref(s)
    del s
    # pyspark's session constructor points RDD.toDF at the newest
    # session; make another so that reference moves off the dropped one
    spark.newSession()
    gc.collect()
    assert ref() is None
    for jdf in marks:  # the shared cache outlives the session: free it
        jdf.unpersist(False)


def test_fixpoint_driver_trims_logs_and_guards_the_cap(spark, caplog):
    """``_util.fixpoint`` on ``spark.range`` pins: after every superstep
    the driver frees the pins its steps made that the state no longer
    holds, so the live frames stay pinned and readable, and a pin made
    before the call stays the caller's; one DEBUG record per call, with
    the pins it freed; at the cap the driver returns the last state, or
    raises what it was given."""
    import logging

    from naqed_spark.queries._util import fixpoint, held_pins, pin

    def step(state, i):
        _, newest = state
        return (newest, pin(spark.range(i))), i == 4

    def endless(state, i):
        return pin(spark.range(i)), False

    before = persistent_rdd_ids(spark)
    try:
        caller = pin(spark.range(9))
        with caplog.at_level(logging.DEBUG, logger="naqed_spark"):
            older, newest = fixpoint(spark, "t", (None, None), step, 10)
            live = held_pins((caller, older, newest))
            assert len(live) == 3
            assert persistent_rdd_ids(spark) - before == live
            assert (older.count(), newest.count()) == (3, 4)
            assert caller.count() == 9
            assert fixpoint(spark, "t", None, endless, 3).count() == 3
            with pytest.raises(RuntimeError, match="cap hit"):
                fixpoint(spark, "t", None, endless, 2,
                         at_cap=RuntimeError("cap hit"))
        msgs = [
            r.getMessage() for r in caplog.records if r.name == "naqed_spark"
        ]
        assert msgs == [
            "fixpoint loop=t supersteps=4 cap=10 stop=converged pins_freed=2",
            "fixpoint loop=t supersteps=3 cap=3 stop=cap pins_freed=2",
            "fixpoint loop=t supersteps=2 cap=2 stop=cap pins_freed=1",
        ]
    finally:
        free_pins(spark, persistent_rdd_ids(spark) - before)


def test_pin_sets_are_computed_only_in_session_and_util():
    """The pin contract lives in one place: no module of the package
    apart from ``session.py`` and ``queries/_util.py`` (``pin``, the
    ``fixpoint`` driver) makes a checkpoint or calls the pin primitives
    itself, so every pin is in its session's ledger."""
    import naqed_spark

    root = Path(naqed_spark.__file__).parent
    owners = {root / "session.py", root / "queries" / "_util.py"}
    pin_fns = {
        "localCheckpoint", "persistent_rdd_ids", "unpersist_rdds", "free_pins",
    }
    calls = []
    for path in sorted(root.rglob("*.py")):
        if path in owners:
            continue
        for node in ast.walk(ast.parse(path.read_text())):
            if isinstance(node, ast.Call):
                f = node.func
                name = getattr(f, "id", None) or getattr(f, "attr", None)
                if name in pin_fns:
                    calls.append((path.name, node.lineno, name))
    assert calls == []


def test_sessions_on_two_threads_keep_their_own_pins(spark):
    """Two threads, each on its own ``newSession()`` of the shared
    SparkContext, run two checkpointing fixpoint keys twice each, with
    the between-queries reset after every run: each result equals a
    serial run's, because a loop and ``release_checkpoints`` free only
    their own session's pins. Releasing one session's checkpoints leaves
    another session's pins, and the result that reads them, in place."""
    keys = ("graph_connected_components", "graph_kcore")

    def run(session, key):
        rows = sorted(QUERIES[key](session, SF_DIR).collect())
        release_checkpoints(session)
        return key, rows

    want = dict(run(spark.newSession(), k) for k in keys)

    def worker(_):
        session = spark.newSession()
        return [run(session, k) for _ in range(2) for k in keys]

    with ThreadPoolExecutor(2) as pool:
        got = [r for rs in pool.map(worker, range(2), timeout=300) for r in rs]
    assert len(got) == 8
    for key, rows in got:
        assert rows == want[key], key

    a, b = spark.newSession(), spark.newSession()
    QUERIES["graph_kcore"](a, SF_DIR)
    kept = QUERIES["graph_kcore"](b, SF_DIR)
    held = set(session_state(b).pins)
    assert held and not held & session_state(a).pins
    assert release_checkpoints(a) >= 1
    assert held <= persistent_rdd_ids(spark)
    assert sorted(kept.collect()) == want["graph_kcore"]
    assert release_checkpoints(b) == len(held)
    assert not held & persistent_rdd_ids(spark)


def test_scoped_marks_survive_other_sessions_releases(spark):
    """One plan marked by several sessions is one cache entry: while a
    session holds its mark, another session's release never drops the
    entry. More threads than cores, with a short switch interval, each
    marking and releasing the same plan on its own session."""
    threads = os.cpu_count() + 2

    def worker(_):
        session = spark.newSession()
        dropped = 0
        for _ in range(25):
            df = scoped_persist(session.range(7).selectExpr("id * 3 AS x"))
            dropped += df.storageLevel == StorageLevel.NONE
            begin_build(session)
        return dropped

    interval = sys.getswitchinterval()
    sys.setswitchinterval(1e-6)
    try:
        with ThreadPoolExecutor(threads) as pool:
            dropped = list(pool.map(worker, range(threads), timeout=120))
    finally:
        sys.setswitchinterval(interval)
    assert dropped == [0] * threads


def test_frame_store_is_bounded_per_sf_dir(spark):
    """The frame store is never evicted, and needs no eviction: per
    sf_dir it holds at most the ten entities plus one frame per fragment
    kind (user_edges, minhash_sigs, band_buckets), all lazy plans. Every
    ``session_fragment`` call site keys its frame by one of those kinds,
    ``sf_dir`` and constants, so no build can add more; fragment users
    built at two scale factors stay within the bound."""
    import naqed_spark.queries as queries

    kinds = {"user_edges", "minhash_sigs", "band_buckets"}
    sites = []
    for path in Path(queries.__file__).parent.glob("*.py"):
        for node in ast.walk(ast.parse(path.read_text())):
            if (isinstance(node, ast.Call)
                    and getattr(node.func, "id", None) == "session_fragment"):
                kind, sf, *rest = node.args[1].elts
                assert kind.value in kinds, (path.name, node.lineno)
                assert sf.id == "sf_dir", (path.name, node.lineno)
                assert all(isinstance(e, ast.Constant) for e in rest)
                sites.append(kind.value)
    assert set(sites) == kinds

    fresh = spark.newSession()
    pins = persistent_rdd_ids(spark)
    sf_dirs = sorted({SF_DIR, SF_DIR.replace("0.001", "0.01")})
    try:
        for sf in sf_dirs:
            for k in ("graph_degree", "llm_neardup_lsh",
                      "llm_lsh_bucket_audit", "join_multiway_star"):
                QUERIES[k](fresh, sf)
        frames = session_state(fresh).frames
        assert {k[0] for k in frames} == kinds | {"entity"}
        assert {k[1] for k in frames} == set(sf_dirs)
        assert len(frames) <= len(sf_dirs) * (len(TABLES) + len(kinds))
    finally:
        begin_build(fresh)
        unpersist_rdds(spark, persistent_rdd_ids(spark) - pins)
