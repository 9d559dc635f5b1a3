"""Driver contract for the spark-graft builder (PySpark target).

The driver's verify runs ``entry(spark)`` as a smoke check, runs
each ``queries()[name]`` at sf=0.01 and compares it against the
matching ``oracle_sql()[name]`` via DuckDB (row-count + schema +
order-insensitive value-hash → CORRECTNESS_r{N}.json).

Everything here reads from ``naqed_spark.registry`` — the single source
of truth wiring SURVEY.md §2 keys to (implementation, oracle) pairs.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

SMOKE_SF_DIR = "/root/testdata/sf0.001"


def entry(spark: SparkSession) -> DataFrame:
    """Flagship query (SURVEY.md §7.1 M0): Q5-style 6-way star join —
    revenue per nation for one region and order-date band, at sf0.001."""
    from naqed_spark.queries.joins import join_multiway_star
    from naqed_spark.registry import load_all
    from naqed_spark.session import tune_session

    load_all()
    tune_session(spark)
    return join_multiway_star(spark, SMOKE_SF_DIR)


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    """One entry per implemented operator from SURVEY.md §2."""
    from naqed_spark.registry import QUERIES, load_all, ordered_keys

    load_all()
    return {k: QUERIES[k] for k in ordered_keys()}


def oracle_sql() -> dict[str, str]:
    """DuckDB ANSI-SQL twin for each sql-checkable key in ``queries()``.
    Keys absent here (registry.ROWS_ONLY) get the driver's weaker
    rows-only check — pre-declared by design in SURVEY.md §2."""
    from naqed_spark.registry import ORACLES, load_all, ordered_keys

    load_all()
    return {k: ORACLES[k] for k in ordered_keys() if k in ORACLES}
