"""Query registry: the single source of truth wiring SURVEY.md §2 keys to
(a) a PySpark implementation callable and (b) its DuckDB oracle SQL twin.

``__spark_entry__.queries()`` / ``oracle_sql()`` read straight from here, as
does the local pre-verification harness (tests/test_oracle.py), so a key is
implemented exactly once and checked identically locally and by the driver.
"""

from __future__ import annotations

import functools
from collections.abc import Callable
from typing import Optional

from pyspark.sql import DataFrame, SparkSession

from naqed_spark.session import begin_build

QueryFn = Callable[[SparkSession, str], DataFrame]

QUERIES: dict[str, QueryFn] = {}
ORACLES: dict[str, str] = {}
ROWS_ONLY: set[str] = set()  # keys deliberately without a SQL oracle (SURVEY §2)


def query(key: str, oracle: Optional[str] = None, rows_only: bool = False):
    """Register ``fn(spark, sf_dir) -> DataFrame`` under ``key``.

    ``oracle`` is the DuckDB ANSI-SQL twin (tables pre-registered as views).
    ``rows_only=True`` declares the weaker rows-only driver check is by
    design (approx/stateful/sink ops — SURVEY.md §2 pre-declares these).
    """

    def deco(fn: QueryFn) -> QueryFn:
        if key in QUERIES:
            raise ValueError(f"duplicate query key {key!r}")

        # Only the REGISTRY entry runs the per-build step: the
        # module-level symbol stays the raw fn, so a query that composes
        # another builder inline does not release its own caller's
        # persist marks mid-build.
        @functools.wraps(fn)
        def _wrapped(spark, sf_dir):
            begin_build(spark)
            return fn(spark, sf_dir)

        QUERIES[key] = _wrapped
        if oracle is not None:
            ORACLES[key] = " ".join(oracle.split())
        elif rows_only:
            ROWS_ONLY.add(key)
        else:
            raise ValueError(f"{key!r}: provide oracle SQL or set rows_only=True")
        return fn

    return deco


# Driver-facing key order. The driver's correctness harness walks keys in
# the order ``queries()`` yields them and checks a fixed-size front window
# (~50/round), so keys with the OLDEST (or no) driver signal must go
# first. The driver's own CORRECTNESS_r*.json artifacts (committed at the
# repo root every round) say which key was last checked in which round,
# so the rotation is computed from them: a key can never rot silently,
# because falling out of the window is what promotes it.


def _driver_signal_rounds() -> dict[str, int]:
    """key -> latest round whose CORRECTNESS_r*.json contains it."""
    import json
    import re
    from pathlib import Path

    latest: dict[str, int] = {}
    root = Path(__file__).resolve().parents[1]
    for p in sorted(root.glob("CORRECTNESS_r*.json")):
        m = re.search(r"CORRECTNESS_r(\d+)", p.name)
        if not m:
            continue
        rnd = int(m.group(1))
        try:
            data = json.loads(p.read_text())
        except (OSError, ValueError):
            continue  # a malformed artifact must not break queries()
        if isinstance(data, dict):
            for key in data:
                latest[key] = max(latest.get(key, -1), rnd)
    return latest


# Rewrite rounds: a green driver signal describes the code that existed
# WHEN it was taken. When a key's implementation is semantically
# rewritten afterwards (plan change, null-semantics change — not a
# comment or alias edit), add ``key -> round of the rewrite`` here: the
# key's signal is void until the driver checks it again, so it requeues
# ahead of checked-and-untouched keys. Delete an entry once its key's
# signal round reaches it; it no longer changes the order.
TOUCHED: dict[str, int] = {
    # r17: the chunk windows run above spread(); last signal r13
    "llm_chunk_windows": 17,
}


def ordered_keys() -> list[str]:
    """All registered keys: never-driver-checked first (registration
    order), then checked-but-rewritten-since (their signals are void),
    then stalest-signal-first (CORRECTNESS_r*.json artifacts)."""
    signal = _driver_signal_rounds()
    reg_index = {k: i for i, k in enumerate(QUERIES)}

    def sort_key(k: str):
        sig = signal.get(k, -1)
        if sig < 0:
            bucket = 0
        elif sig < TOUCHED.get(k, -1):
            bucket = 1
        else:
            bucket = 2
        return (bucket, sig, reg_index[k])

    return sorted(QUERIES, key=sort_key)


def load_all() -> None:
    """Import every query module so registration side effects run."""
    import naqed_spark.queries  # noqa: F401
