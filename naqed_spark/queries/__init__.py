"""Query modules. Importing this package registers every SURVEY.md §2 key
into ``naqed_spark.registry`` (each module's ``@query`` decorators run at
import time). ``registry.load_all()`` imports this package; keep the list
below in sync as modules land.

The driver-facing key order is ``registry.ordered_keys()``, computed
from the committed CORRECTNESS_r*.json artifacts: never-driver-checked
keys first, then keys rewritten since their signal
(``registry.TOUCHED``), then stalest-signal-first. Import order below
only breaks ties among equally-stale keys.
"""

from naqed_spark.queries import (  # noqa: F401
    compiler_ops,
    streaming,
    llm,
    llm_ext,
    llm_dedup,
    llm_contam,
    llm_ann,
    llm_mix,
    llm_fp,
    llm_lm,
    llm_mm,
    udfs,
    windows,
    sets,
    sorts,
    storage,
    scans,
    subqueries,
    timeseries,
    tpch,
    joins,
    aggs,
    filters,
    fns,
    graph,
)
