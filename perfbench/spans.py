"""Spans and layer counters for the traced benchmark run.

Everything here observes the package from outside: ``install_hooks``
wraps the public entry points of the catalog and compiler layers
(``catalog.load``, ``spec.parse_query``, ``Engine.query``), and
``spark_jobs`` reads the Spark status store for the jobs tagged with a
query's job group. Nothing inside ``naqed_spark`` is edited.

A span is ``(id, name, parent, start, end)``: spans of one query share
the id ``workload:pass:key``, and ``parent`` is the index of the enclosing
span (the line number in the written file). Times come from ``time.time()``
so they line up with the JVM's job timestamps. Spans stay in memory and
are written out once, when the run ends.
"""

from __future__ import annotations

import contextlib
import functools
import json
import sys
import time
from dataclasses import dataclass, field


@dataclass(eq=False)
class Span:
    id: str
    name: str
    idx: int  # position in Tracer.spans
    parent: int | None
    start: float
    end: float = 0.0
    attrs: dict = field(default_factory=dict)

    @property
    def dur(self) -> float:
        return self.end - self.start


@dataclass
class Tracer:
    spans: list[Span] = field(default_factory=list)
    stack: list[int] = field(default_factory=list)
    root: str = ""
    # catalog.load path -> ids of the DataFrame objects it has returned
    seen_frames: dict[str, set[int]] = field(default_factory=dict)

    @contextlib.contextmanager
    def span(self, name: str):
        """Record a span under the innermost open one. Outside a query
        (no open root) nothing is recorded."""
        if not self.stack and name != "query":
            yield None
            return
        s = self._new(name, self.stack[-1] if self.stack else None, time.time())
        self.stack.append(s.idx)
        try:
            yield s
        finally:
            s.end = time.time()
            self.stack.pop()

    def _new(self, name: str, parent: int | None, start: float) -> Span:
        s = Span(self.root, name, len(self.spans), parent, start)
        self.spans.append(s)
        return s

    def add(self, name: str, parent: Span, start: float, end: float) -> Span:
        """Record a span whose times were measured elsewhere (a Spark job)."""
        s = self._new(name, parent.idx, start)
        s.end = end
        return s

    def in_span(self, name: str) -> bool:
        return any(self.spans[i].name == name for i in self.stack)

    def children(self, parent: Span, name: str) -> list[Span]:
        return [s for s in self.spans[parent.idx + 1:] if s.parent == parent.idx and s.name == name]

    def write(self, path: str) -> None:
        with open(path, "w") as f:
            for s in self.spans:
                f.write(json.dumps({"id": s.id, "name": s.name, "parent": s.parent,
                                    "start": s.start, "end": s.end, **s.attrs}) + "\n")


def _wrap(tracer: Tracer, name: str, fn, on_result=None):
    """Wrap ``fn`` so each outermost call is one span named ``name``;
    recursive calls (a spec that parses its subqueries) stay inside it."""

    @functools.wraps(fn)
    def traced(*args, **kwargs):
        if tracer.in_span(name):
            return fn(*args, **kwargs)
        with tracer.span(name) as s:
            out = fn(*args, **kwargs)
        if s is not None and on_result is not None:
            on_result(s, args, out)
        return out

    traced.__wrapped__ = fn
    return traced


def install_hooks(tracer: Tracer):
    """Time the catalog and compiler layers at their public functions;
    returns a function that puts the originals back.

    ``catalog.load`` is re-exported by name into many query modules, so
    every module-level binding of the original function is replaced."""
    from naqed_spark import catalog
    from naqed_spark.compiler import engine, spec

    def note_load(span, args, df):
        ids = tracer.seen_frames.setdefault(f"{args[1]}/{args[2]}", set())
        span.attrs["reused"] = id(df) in ids
        ids.add(id(df))

    patched = []  # (owner, attribute, original)
    for attr, orig, wrapped in (
        ("load", catalog.load, _wrap(tracer, "catalog.load", catalog.load, note_load)),
        ("parse_query", spec.parse_query, _wrap(tracer, "compiler.parse", spec.parse_query)),
    ):
        for mod in list(sys.modules.values()):
            if (getattr(mod, "__name__", "") or "").startswith("naqed_spark") \
                    and getattr(mod, attr, None) is orig:
                patched.append((mod, attr, orig))
                setattr(mod, attr, wrapped)
    patched.append((engine.Engine, "query", engine.Engine.query))
    engine.Engine.query = _wrap(tracer, "compiler.query", engine.Engine.query)

    def uninstall() -> None:
        for owner, attr, orig in patched:
            setattr(owner, attr, orig)

    return uninstall


def _ms(opt) -> float:
    return opt.get().getTime() / 1000.0


def spark_jobs(spark, group: str) -> list[dict]:
    """Per-job records of a job group from the JVM status store. Drains
    the listener bus first, so every finished job's events are applied."""
    sc = spark.sparkContext
    jsc = sc._jsc.sc()
    jsc.listenerBus().waitUntilEmpty()
    store = jsc.statusStore()
    jobs = []
    for jid in sorted(sc.statusTracker().getJobIdsForGroup(group)):
        jd = store.job(jid)
        rec = {"id": jid, "submitted": _ms(jd.submissionTime()),
               "completed": _ms(jd.completionTime()), "stages": 0, "tasks": 0,
               "failed_tasks": 0, "run_s": 0.0, "cpu_s": 0.0, "input_records": 0,
               "input_bytes": 0, "shuffle_write_bytes": 0, "shuffle_read_bytes": 0,
               "spill_bytes": 0}
        for sid in jd.stageIds().mkString(",").split(","):
            st = store.lastStageAttempt(int(sid))
            if st.status().toString() == "SKIPPED":
                continue
            rec["stages"] += 1
            rec["tasks"] += st.numCompleteTasks() + st.numFailedTasks()
            rec["failed_tasks"] += st.numFailedTasks()
            rec["run_s"] += st.executorRunTime() / 1e3
            rec["cpu_s"] += st.executorCpuTime() / 1e9
            rec["input_records"] += st.inputRecords()
            rec["input_bytes"] += st.inputBytes()
            rec["shuffle_write_bytes"] += st.shuffleWriteBytes()
            rec["shuffle_read_bytes"] += st.shuffleReadBytes()
            rec["spill_bytes"] += st.memoryBytesSpilled() + st.diskBytesSpilled()
        jobs.append(rec)
    return jobs


def catalyst_phases(df) -> dict[str, float]:
    """Seconds spent in each Catalyst phase of ``df``'s query execution."""
    phases = df._jdf.queryExecution().tracker().phases()
    out = {}
    for name in ("analysis", "optimization", "planning"):
        ph = phases.get(name)
        out[name] = ph.get().durationMs() / 1e3 if ph.isDefined() else 0.0
    return out
