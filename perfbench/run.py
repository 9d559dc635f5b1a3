"""Closed-loop query benchmark for the registered naqed_spark query builders.

    python3 perfbench/run.py --workload NAME --seed N --seconds S --trace 0|1

Run from the repository root. One Python process, one client: each query
is timed as a user pays for it, from calling ``QUERIES[key](spark,
sf_dir)`` until ``collect()`` returns, and the next query is sent only
after the previous result was fetched and checked against its DuckDB
oracle twin (outside the timer). Spark runs ``local[N]`` with ``N`` the
usable cores. Each run makes its fixtures (fixed data seed, cached under
``perfbench/_work``), launches the JVM and restarts the session in it
several times, runs the workload's untimed warm passes, then measures
``round(seconds / nominal pass time)`` whole passes. The workload seed
shuffles the key order of every pass. Timed end-to-end figures are
rescaled to a reference host speed by probes taken around each query.

``--trace 0`` prints the end-to-end metrics. ``--trace 1`` runs a traced,
an untraced and a second traced pass, checks that the exact counters repeat
between the traced passes, and prints the per-layer metrics of the second
one. The last stdout line is the JSON result; see perfbench/README.md.
"""

from __future__ import annotations

import argparse
import json
import os
import random
import statistics
import sys
import time
import traceback

import numpy as np

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
WORK = os.path.join(ROOT, "perfbench", "_work")

# name -> (scale factor, untimed warm passes, nominal pass seconds,
# registry keys). The warm passes come before any measurement: the first
# runs ~3x slower than a warm one (class loading, codegen, JIT), and on
# olap_scan the second is still ~25 % slower while C2 compiles the scan
# and aggregation loops; on graph_llm it is within ~10 %. The key lists
# are sized so that a run (JVM launch, set-up, warm passes, measured
# passes) takes about a minute on a 4-core host; README.md records why each
# key is there. The nominal pass time is a warm pass's wall on that host,
# host probes and oracle checks included.
WORKLOADS = {
    "olap_scan": (0.1, 2, 6.4, [
        "agg_groupby_hash", "join_q3_shipping_priority", "join_multiway_star",
        "win_row_number_topk", "win_sessionize", "limit_topk_global",
        "tpch_q6_revenue_change", "tpch_q12_priority_class", "tpch_q19_disjunctive_pred",
    ]),
    "graph_llm": (0.001, 1, 6.8, [
        "graph_shortest_path_weighted", "graph_kcore", "graph_random_walks",
        "compiler_traverse_reachable", "llm_neardup_lsh", "llm_knn_bruteforce",
        "udaf_applyinpandas",
    ]),
}
SETUP_REPEATS = 3
# Driver JVM heap: the initial size and the fixed young generation (see
# jvm_options); the maximum comes from host_sizing.
JVM_INITIAL_HEAP_MB = 512
JVM_YOUNG_MB = 256
# The host probes (host_slowness) and their times on the reference host.
# Timed end-to-end figures are reported at the reference host's speed; see
# README.md, "Host speed".
PROBE_ITERS = 250_000
PROBE_REF_S = 0.020
JVM_PROBE_EXP = 200_000
JVM_PROBE_REF_S = 0.018
# The time layers that must add up to a traced pass's wall, to within
# MAX_UNACCOUNTED of it.
ACCOUNTED = ("registry.build_s", "catalyst.optimization_s", "catalyst.planning_s",
             "spark.exec_s", "fetch.s")
MAX_UNACCOUNTED = 0.10
# Counters that must repeat exactly between the two traced passes; every
# other per-layer count (stages, tasks, bytes, pins) is a gauge.
EXACT = ("fetch.rows", "registry.build_jobs", "spark.jobs",
         "compiler.query_calls", "catalog.load_calls")


def host_sizing() -> tuple[int, int]:
    """Usable cores, and the JVM heap in MB: an eighth of the host's RAM,
    clamped to [1, 4] GB."""
    cores = len(os.sched_getaffinity(0))
    with open("/proc/meminfo") as f:
        total_mb = next(int(l.split()[1]) for l in f if l.startswith("MemTotal")) // 1024
    return cores, max(1024, min(4096, total_mb // 8))


def jvm_options() -> str:
    """Driver JVM flags. The heap is sized by what it holds, not by how
    fast the host runs: the parallel collector with adaptive sizing off
    keeps a fixed young generation and grows the old one only when a full
    collection leaves it too full. G1's default sizing follows its pause
    times, so on a shared host the peak RSS of one commit varied by a
    quarter from run to run."""
    tmp = os.path.join(WORK, "tmp")
    return " ".join([
        "-XX:+UseParallelGC", "-XX:-UseAdaptiveSizePolicy",
        f"-Xms{JVM_INITIAL_HEAP_MB}m", f"-Xmn{JVM_YOUNG_MB}m",
        f"-Djava.io.tmpdir={tmp}", f"-Dderby.system.home={WORK}",
    ])


def start_session(cores: int, mem_mb: int):
    from pyspark.sql import SparkSession

    from naqed_spark.session import tune_session

    spark = (
        SparkSession.builder.master(f"local[{cores}]")
        .appName("naqed-perfbench")
        .config("spark.driver.memory", f"{mem_mb}m")
        .config("spark.sql.shuffle.partitions", str(cores))
        .config("spark.ui.enabled", "false")
        .config("spark.ui.showConsoleProgress", "false")
        .config("spark.local.dir", os.path.join(WORK, "tmp"))
        .config("spark.sql.warehouse.dir", os.path.join(WORK, "warehouse"))
        .config("spark.driver.extraJavaOptions", jvm_options())
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")
    tune_session(spark)
    spark.range(1_000_000).selectExpr("sum(id)").collect()  # JVM warm-up action
    return spark


def vm_hwm_mb(pid: int | str) -> float:
    with open(f"/proc/{pid}/status") as f:
        return next(int(l.split()[1]) for l in f if l.startswith("VmHWM")) / 1024


def host_slowness() -> float:
    """How many times slower than the reference host this host runs at
    this moment. Two fixed computations that touch nothing of the package
    are timed against their reference times: a loop in this Python
    process and, once the JVM is up, ``BigInteger.pow`` in the driver JVM.
    The result is the geometric mean of the two ratios, since a query's
    time is spent in both processes."""
    from pyspark import SparkContext

    t0 = time.perf_counter()
    s = 0
    for j in range(PROBE_ITERS):
        s += j * j
    ratio = (time.perf_counter() - t0) / PROBE_REF_S
    if SparkContext._jvm is None:
        return ratio
    seven = SparkContext._jvm.java.math.BigInteger.valueOf(7)
    t0 = time.perf_counter()
    seven.pow(JVM_PROBE_EXP)
    return (ratio * (time.perf_counter() - t0) / JVM_PROBE_REF_S) ** 0.5


def at_reference_speed(seconds: float, slowness: float) -> float:
    """``seconds`` measured while the host ran ``slowness`` times slower
    than the reference host, as seconds on the reference host."""
    return seconds / slowness


def reset_hwm() -> None:
    """Restart this process's VmHWM from its current RSS, so the peak
    counts the queries and not the fixture writer or the DuckDB oracles."""
    with open("/proc/self/clear_refs", "w") as f:
        f.write("5")


class Bench:
    def __init__(self, args):
        from naqed_spark.oracle_check import _canon_rows, duck_connect
        from naqed_spark.registry import ORACLES, QUERIES, ROWS_ONLY

        import fixtures

        self.args = args
        self.queries = QUERIES
        self.rows_only = ROWS_ONLY
        self.canon = _canon_rows
        sf, self.warm_passes, self.pass_s, self.keys = WORKLOADS[args.workload]
        self.sf_dir = fixtures.ensure(os.path.join(WORK, "data"), sf)
        self.rng = random.Random(args.seed)
        # DuckDB oracle results, once per (key, sf), before any timing
        con = duck_connect(self.sf_dir)
        self.oracle = {}
        for key in self.keys:
            if key not in ROWS_ONLY:
                tbl = con.execute(ORACLES[key]).arrow()
                cols = list(tbl.schema.names)
                rows = list(zip(*(c.to_pylist() for c in tbl.columns)))
                self.oracle[key] = (sorted(cols), self.canon(cols, rows))
        con.close()
        self.problems: list[str] = []
        self.spark = None

    def check(self, key: str, df, rows) -> bool:
        if key in self.rows_only:
            ok = len(rows) > 0
        else:
            cols, want = self.oracle[key]
            got_cols = list(df.columns)
            ok = sorted(got_cols) == cols and self.canon(got_cols, [tuple(r) for r in rows]) == want
        if not ok:
            self.problems.append(f"{key}: result differs from the DuckDB oracle")
        return ok

    def failed(self, key: str, exc: Exception) -> None:
        traceback.print_exc()
        self.problems.append(f"{key}: raised {type(exc).__name__}: {exc}")

    def order(self) -> list[str]:
        keys = list(self.keys)
        self.rng.shuffle(keys)
        return keys

    def run_query(self, key: str) -> tuple[float | None, bool, float]:
        """One closed-loop request: fresh build + collect, then the check
        and the documented between-queries reset, outside the timer.
        Returns the latency, whether the result was right, and the host
        slowness measured just after it."""
        from naqed_spark.session import release_checkpoints

        try:
            t0 = time.perf_counter()
            df = self.queries[key](self.spark, self.sf_dir)
            rows = df.collect()
            lat = time.perf_counter() - t0
        except Exception as exc:  # one failing key is counted, not fatal
            self.failed(key, exc)
            release_checkpoints(self.spark)
            return None, False, host_slowness()
        slowness = host_slowness()
        ok = self.check(key, df, rows)
        release_checkpoints(self.spark)
        return lat, ok, slowness

    def run_pass(self) -> list[tuple[str, float | None, bool, float]]:
        return [(k, *self.run_query(k)) for k in self.order()]


def setup(bench: Bench, cores: int, mem_mb: int) -> tuple[float, list[tuple[float, float]]]:
    """Start the session once (JVM launch), then stop and start it
    SETUP_REPEATS more times in the same JVM. Returns the cold start's
    time and, for each restart, its time and the host slowness after it.

    setup_s counts the restarts: they run everything the package does to
    set a session up (``tune_session``, its configuration, the warm-up
    action) and repeat within one run. The cold start adds Spark's own JVM
    launch (~9 s on a 4-core host), too costly to repeat in every run, so
    it is echoed, not counted."""
    t0 = time.perf_counter()
    bench.spark = start_session(cores, mem_mb)
    cold = time.perf_counter() - t0
    times = []
    for _ in range(SETUP_REPEATS):
        bench.spark.stop()
        t0 = time.perf_counter()
        bench.spark = start_session(cores, mem_mb)
        times.append((time.perf_counter() - t0, host_slowness()))
    return cold, times


def hd_quantile(values: list[float], q: float) -> float:
    """Harrell-Davis estimate of the ``q`` quantile: the mean of all the
    order statistics, weighted by a Beta((n+1)q, (n+1)(1-q)) law over
    their ranks. The latencies form one cluster per key, so the sample
    order statistic at p50 or p90 jumps between clusters as two keys
    trade places; the weighted mean moves with them smoothly."""
    x = np.sort(np.asarray(values, dtype=float))
    n = len(x)
    a, b = (n + 1) * q, (n + 1) * (1 - q)
    grid = np.linspace(0.0, 1.0, 10_001)
    mid = (grid[1:] + grid[:-1]) / 2
    logpdf = (a - 1) * np.log(mid) + (b - 1) * np.log1p(-mid)
    cdf = np.concatenate(([0.0], np.cumsum(np.exp(logpdf - logpdf.max()))))
    weights = np.diff(np.interp(np.arange(n + 1) / n, grid, cdf / cdf[-1]))
    return float(weights @ x)


def latency_figures(passes: list[list[float]], ok_n: int) -> dict:
    """Throughput and latency percentiles of the measured passes, each the
    list of its query latencies: throughput is the correct queries of a
    pass over the median pass time, the percentiles are Harrell-Davis
    estimates over every latency."""
    lat = [l for done in passes for l in done]
    walls = [sum(done) for done in passes if done]
    return {
        "throughput_qps": ok_n / len(passes) / statistics.median(walls),
        "latency_p50_s": hd_quantile(lat, 0.5),
        "latency_p90_s": hd_quantile(lat, 0.9),
    }


def end_to_end(bench: Bench, seconds: float) -> dict:
    """Measure ``seconds`` worth of whole passes at the workload's nominal
    pass time. The pass count depends on ``seconds`` only, never on how fast
    this run happens to be, so two commits (or a quiet and a busy host)
    measure the same work at the same warmth, and every key carries the
    same weight in the percentiles.

    The host's own speed drifts by a fifth from one stretch of seconds to
    the next, so each pass is rescaled by the median host slowness measured
    after its queries (``at_reference_speed``); the median over a pass is
    steadier than one query's reading. The unscaled figures are returned
    under "raw"."""
    raw, ref, attempted, ok_n = [], [], 0, 0
    passes = max(1, round(seconds / bench.pass_s))
    for n in range(1, passes + 1):
        done = bench.run_pass()
        attempted += len(done)
        ok_n += sum(ok for _, _, ok, _ in done)
        timed = {k: l for k, l, _, _ in done if l is not None}
        slowness = statistics.median(p for *_, p in done)
        raw.append(list(timed.values()))
        ref.append([at_reference_speed(l, slowness) for l in timed.values()])
        print(f"# pass {n} (host slowness {slowness:.3f}): "
              + json.dumps({k: round(l, 3) for k, l in timed.items()}), file=sys.stderr)
    res = {"attempted": attempted, "failed": attempted - ok_n, "passes": passes,
           "samples": sum(map(len, raw)), "success_rate": ok_n / attempted}
    if res["samples"] < 2:  # (almost) every query raised: no percentiles to report
        bench.problems.append(f"only {res['samples']} query latencies measured")
        return res
    res.update(latency_figures(ref, ok_n), raw=latency_figures(raw, ok_n))
    return res


def traced_pass(bench: Bench, tracer, pass_no: int) -> tuple[dict[str, dict], float]:
    """One pass with spans; returns per-key layer records and the host
    floor measured before the pass."""
    from naqed_spark.session import persistent_rdd_ids, release_checkpoints

    from spans import catalyst_phases, spark_jobs

    spark, sc = bench.spark, bench.spark.sparkContext
    out: dict[str, dict] = {}
    # host floor: a 1-row shuffle job, separates a contended host from a slow change
    t0 = time.perf_counter()
    spark.range(1).groupBy("id").count().collect()
    floor = time.perf_counter() - t0
    for key in bench.order():
        root = f"{bench.args.workload}:{pass_no}:{key}"
        tracer.root = root
        sc.setJobGroup(root, key, False)
        rec = {"ok": False}
        try:
            with tracer.span("query") as q:
                with tracer.span("registry.build") as b:
                    df = bench.queries[key](spark, bench.sf_dir)
                a0 = time.time()
                rows = df.collect()
                a1 = time.time()
        except Exception as exc:  # counted like an untraced failure
            bench.failed(key, exc)
            out[key] = rec
            sc.setJobGroup("", "", False)
            release_checkpoints(spark)
            continue
        sc.setJobGroup("", "", False)
        rec["ok"] = bench.check(key, df, rows)
        jobs = spark_jobs(spark, root)
        ph = catalyst_phases(df)
        act = [j for j in jobs if j["completed"] > b.end]
        planned = a0 + ph["optimization"] + ph["planning"]
        first = min((j["submitted"] for j in act), default=planned)
        exec_end = max((j["completed"] for j in act), default=planned)
        action = tracer.add("spark.action", q, a0, exec_end)
        for j in act:
            tracer.add(f"spark.job.{j['id']}", action, j["submitted"], j["completed"])
        tracer.add("fetch", q, exec_end, a1)
        pins = len(persistent_rdd_ids(spark))
        mine = tracer.spans[q.idx:]
        loads = [s for s in mine if s.name == "catalog.load"]
        comp = tracer.children(b, "compiler.query")
        direct = tracer.children(b, "catalog.load") + comp
        rec.update({
            "wall_s": q.dur,
            "registry.build_s": b.dur,
            "registry.build_jobs": len(jobs) - len(act),
            "queries.build_self_s": b.dur - sum(s.dur for s in direct),
            "catalog.load_calls": len(loads),
            "catalog.load_reused": sum(bool(s.attrs.get("reused")) for s in loads),
            "catalog.load_s": sum(s.dur for s in loads),
            "compiler.query_calls": len(comp),
            "compiler.query_s": sum(s.dur for s in comp),
            "compiler.parse_s": sum(s.dur for s in mine if s.name == "compiler.parse"),
            "catalyst.analysis_s": ph["analysis"],
            "catalyst.optimization_s": ph["optimization"],
            "catalyst.planning_s": ph["planning"],
            "spark.jobs": len(jobs),
            "spark.prepare_s": max(0.0, first - planned),
            "spark.exec_s": exec_end - first,
            "fetch.rows": len(rows),
            "fetch.s": max(0.0, a1 - exec_end),
            "session.pins_peak": pins,
            "session.pins_released": release_checkpoints(spark),
        })
        for f in ("stages", "tasks", "failed_tasks", "input_records", "input_bytes",
                  "shuffle_write_bytes", "shuffle_read_bytes", "spill_bytes"):
            rec[f"spark.{f}"] = sum(j[f] for j in jobs)
        rec["spark.executor_run_s"] = sum(j["run_s"] for j in jobs)
        rec["spark.executor_cpu_s"] = sum(j["cpu_s"] for j in jobs)
        rec["_action_run_s"] = sum(j["run_s"] for j in act)
        out[key] = rec
    return out, floor


def per_layer(bench: Bench, cores: int, layer_names) -> dict:
    from spans import Tracer, install_hooks

    # traced, untraced, traced: the untraced pass sits between the two
    # traced ones, so a steady warming trend cancels out of the overhead
    tracer = Tracer()
    uninstall = install_hooks(tracer)
    a, _ = traced_pass(bench, tracer, 1)
    uninstall()
    untraced = bench.run_pass()
    untraced_wall = sum(l for _, l, _, _ in untraced if l is not None)
    uninstall = install_hooks(tracer)
    b, floor = traced_pass(bench, tracer, 2)
    uninstall()
    out = os.path.join(WORK, "trace", f"{bench.args.workload}-{bench.args.seed}")
    os.makedirs(os.path.dirname(out), exist_ok=True)
    tracer.write(out + ".spans.jsonl")
    with open(out + ".keys.json", "w") as f:
        json.dump(b, f, indent=1)

    recs = [r for r in b.values() if r["ok"]]
    mismatch = [f"{k}: {f} {a[k][f]} != {b[k][f]}" for k in bench.keys if a[k]["ok"] and b[k]["ok"]
                for f in EXACT if a[k][f] != b[k][f]]
    bench.problems += [f"exact-count self-check: {m}" for m in mismatch]

    def tot(f):
        return sum(r[f] for r in recs)

    m = {"session.pins_peak": max((r["session.pins_peak"] for r in recs), default=0)}
    # the first traced pass saw every path once, so in the second a load
    # counts as reused when it returns a frame already handed out
    loads = tot("catalog.load_calls")
    m["catalog.load_reuse_ratio"] = tot("catalog.load_reused") / loads if loads else 0.0
    # busy share of the core slots while the action's jobs ran
    exec_s = tot("spark.exec_s")
    m["spark.slot_utilization"] = tot("_action_run_s") / (exec_s * cores) if exec_s else 0.0
    m["host.floor_action_s"] = floor
    attempted = len(bench.keys)
    m["error_rate"] = (attempted - len(recs)) / attempted
    wall = tot("wall_s")
    m["trace.pass_wall_s"] = wall
    m["trace.overhead_share"] = (wall + sum(r["wall_s"] for r in a.values() if r["ok"])) \
        / (2 * untraced_wall) - 1.0 if untraced_wall else 0.0
    # What the measured layers leave of the wall, for the pass and for the
    # worst key. Analysis runs inside the build and spark.prepare_s is
    # itself a remainder, so neither is counted: the check fails when the
    # layers miss real time.
    def unaccounted(rs):
        w = sum(r["wall_s"] for r in rs)
        return abs(w - sum(r[f] for r in rs for f in ACCOUNTED)) / w if w else 0.0

    m["trace.unaccounted_share"] = unaccounted(recs)
    m["trace.max_unaccounted_share"] = max((unaccounted([r]) for r in recs), default=0.0)
    if m["trace.unaccounted_share"] > MAX_UNACCOUNTED:
        bench.problems.append(f"layers leave {m['trace.unaccounted_share']:.1%} of the "
                              f"traced wall unaccounted (limit {MAX_UNACCOUNTED:.0%})")
    # every other per-layer metric is the sum of its per-key records
    for f in layer_names:
        if f not in m:
            m[f] = tot(f)
    return {"attempted": attempted, "failed": attempted - len(recs), "metrics": m}


def declared_units(kind: str) -> dict[str, str]:
    """Metric name -> unit of the ``kind`` ("end_to_end" or "per_layer")
    metrics that BENCHMARK.json declares."""
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return {m["name"]: m["unit"] for m in json.load(f)[kind]}


def shutdown(spark) -> None:
    """Stop the session and the JVM, and wait for the JVM to exit."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    if spark is not None:
        spark.stop()
    if gateway is not None:
        gateway.shutdown()
        gateway.proc.stdin.close()  # the gateway JVM exits when its stdin closes
        gateway.proc.wait(timeout=60)


def main(argv: list[str] | None = None) -> int:
    p = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    p.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    p.add_argument("--seed", type=int, default=0)
    p.add_argument("--seconds", type=float, default=12.0)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = p.parse_args(argv)

    sys.path.insert(0, ROOT)
    try:
        import pyspark  # noqa: F401  (not part of the package's own import time)

        t0 = time.perf_counter()
        from naqed_spark.registry import load_all

        load_all()
        load_all_s = time.perf_counter() - t0
        load_all_slowness = host_slowness()
    except ImportError as exc:
        print(f"perfbench: cannot import the package under test: {exc}", file=sys.stderr)
        return 2

    tmp = os.path.join(WORK, "tmp")
    os.makedirs(tmp, exist_ok=True)
    # Python workers start from a fresh interpreter: give them the package
    os.environ["PYTHONPATH"] = os.pathsep.join(
        [ROOT] + [v for v in [os.environ.get("PYTHONPATH")] if v])
    os.environ["TMPDIR"] = tmp
    cores, mem_mb = host_sizing()
    clock = time.perf_counter()

    def phase(name: str) -> None:
        nonlocal clock
        now = time.perf_counter()
        print(f"# {name} {now - clock:.2f}s", file=sys.stderr)
        clock = now

    units = declared_units("per_layer" if args.trace else "end_to_end")
    bench = Bench(args)
    reset_hwm()
    phase("fixtures + oracle")
    try:
        cold_start, starts = setup(bench, cores, mem_mb)
        phase("set-up")
        for _ in range(bench.warm_passes):  # codegen, footer reads, session caches, JIT
            bench.run_pass()
        phase("warm passes")
        res = per_layer(bench, cores, units) if args.trace else end_to_end(bench, args.seconds)
        phase("measured passes")
        from pyspark import SparkContext

        rss = vm_hwm_mb(SparkContext._gateway.proc.pid) + vm_hwm_mb("self")
    finally:
        shutdown(bench.spark)
    phase("shutdown")

    # setup_s: load_all once, plus the median session restart
    setup_s = at_reference_speed(load_all_s, load_all_slowness) + at_reference_speed(
        statistics.median(t for t, _ in starts), statistics.median(p for _, p in starts))
    raw = dict(res.get("raw", {}), setup_s=load_all_s + statistics.median(t for t, _ in starts))
    print(json.dumps({
        "workload": args.workload, "seed": args.seed, "trace": args.trace,
        "sf_dir": os.path.relpath(bench.sf_dir, ROOT), "cores": cores, "heap_mb": mem_mb,
        "keys": bench.keys, "passes": res.get("passes"), "samples": res.get("samples"),
        "load_all_s": load_all_s, "cold_session_start_s": cold_start,
        "session_start_s": [t for t, _ in starts], "raw": raw, "problems": bench.problems,
    }))
    if bench.problems:
        print("perfbench: FAILED CHECKS\n  " + "\n  ".join(bench.problems), file=sys.stderr)
    if args.trace:
        metrics = res["metrics"]
    else:
        metrics = dict(res, setup_s=setup_s, rss_peak_mb=rss)
    print(json.dumps({
        "correct": not bench.problems,
        "attempted": res["attempted"],
        "failed": res["failed"],
        # a metric a broken run could not measure reads 0; "correct" is then false
        "metrics": {k: {"value": metrics.get(k, 0.0), "unit": u} for k, u in units.items()},
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
