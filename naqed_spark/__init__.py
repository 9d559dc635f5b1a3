"""naqed_spark — a PySpark-native analytics engine with the query and
data-processing capabilities of the ``allain/naqed`` reference (a
resolver-dispatch query engine; see SURVEY.md §1), re-expressed Spark-first.

NOTE on reference citations: the reference checkout at /root/reference/ is
EMPTY (0 files, verified 2026-08-13 — SURVEY.md §0), so no file:line
citations into it are possible. Parity is documented against SURVEY.md §2,
which is the authoritative operator contract for this build.

Public surface:
    from naqed_spark import Engine, get_spark
    eng = Engine(spark, sf_dir)
    eng.query({"customer": {"$filter": {...}, "orders": {...}}})   # naqed-style
    eng.entity("lineitem")                                          # DataFrame
    eng.sql("select ...")                                           # SQL

``Engine`` resolves lazily (PEP 562): the spec compiler is imported on
first access, so importing the package, or registering every query with
``registry.load_all()``, does not pay for it.
"""

from naqed_spark.session import get_spark
from naqed_spark.catalog import TABLES, load, Catalog

__all__ = ["get_spark", "TABLES", "load", "Catalog", "Engine"]


def __getattr__(name):
    if name == "Engine":
        from naqed_spark.compiler.engine import Engine

        return Engine
    raise AttributeError(f"module {__name__!r} has no attribute {name!r}")
