"""§2-L: UDF / UDAF / UDTF surface — 4 contract keys (SURVEY.md:313-320).

UDFs are the deliberate slow path (SURVEY §4.3 / pyspark guide): every key
here exists to prove the boundary works, with the logic mirrored in SQL so
the oracle still hash-checks it. Cost ordering, worst to best:
row-at-a-time @udf (pickle per row) ≪ @pandas_udf (Arrow batches) ≪
built-in functions (JVM codegen). Real operators in this repo use
built-ins; reach for pandas_udf only when semantics genuinely need Python
(see functions/multimodal.py).

Determinism: Python logic is written to be bit-identical to the SQL twin
(integer-cents accumulation, guarded divisions, closed-form slope matched
to regr_slope + round hedge).
"""

# No ``from __future__ import annotations`` here: the pandas UDFs' hints
# must be real objects, evaluated where each UDF is defined, because
# PySpark reads them through ``typing.get_type_hints`` and a string hint
# resolves against module globals, where the builder-local ``pd`` (pandas
# loads on the first build that needs it) is not bound.
import re

# typing.Iterator/Tuple are what PySpark's pandas-UDF hint parser knows
from typing import Iterator, Tuple  # noqa: UP035

from pyspark.sql import Window, functions as F
from pyspark.sql.functions import pandas_udf, udf

from naqed_spark.queries._util import epoch_us, load
from naqed_spark.registry import query


@query(
    "udf_python_scalar",
    # slug(c_name): row-at-a-time Python UDF; logic mirrored exactly by
    # lower + regexp_replace + trim in the oracle.
    oracle="""
    SELECT c_custkey,
           trim(regexp_replace(lower(c_name), '[^a-z0-9]+', '-', 'g'), '-')
             AS slug
    FROM customer
    """,
)
def udf_python_scalar(spark, sf_dir):
    # no type hints: PySpark reads a hinted udf as a pandas/Arrow
    # signature, and warns on every build that str -> str is not one
    @udf("string")
    def slug(name):
        return re.sub(r"[^a-z0-9]+", "-", name.lower()).strip("-")

    c = load(spark, sf_dir, "customer")
    return c.select("c_custkey", slug("c_name").alias("slug"))


@query(
    "udf_pandas_vectorized",
    # Arrow-vectorized scalar pandas UDF (one numpy expression per batch);
    # ln is libm-backed → round(6) hedge on both sides.
    oracle="""
    SELECT doc_id,
           round(ln(1 + n_chars) * 0.5
                 + len(string_split(text, ' ')) * 0.01, 6) AS quality
    FROM documents
    """,
)
def udf_pandas_vectorized(spark, sf_dir):
    import numpy as np
    import pandas as pd

    @pandas_udf("double")
    def quality(n_chars: pd.Series, n_words: pd.Series) -> pd.Series:
        return np.log1p(n_chars) * 0.5 + n_words * 0.01

    d = load(spark, sf_dir, "documents")
    # size(split(NULL)) is -1 — a null text must reach the UDF as null
    # (pandas NaN), so the score comes back NULL like the oracle's
    n_words = F.when(
        F.col("text").isNotNull(), F.size(F.split("text", " "))
    )
    return d.select(
        "doc_id",
        F.round(quality(F.col("n_chars"), n_words), 6).alias("quality"),
    )


@query(
    "udaf_applyinpandas",
    # per-user linear trend of event value over its time-ordered sequence
    # index — grouped pandas (the UDAF surface). Closed-form slope matches
    # regr_slope; both sides round(4) (float paths differ at ~1e-12).
    oracle="""
    WITH seq AS (
      SELECT user_id, value,
             row_number() OVER (PARTITION BY user_id
                                ORDER BY epoch_us(ts), event_id) - 1 AS x
      FROM events
    )
    SELECT user_id,
           count(*) AS n_events,
           round(regr_slope(value, x), 4) AS trend
    FROM seq GROUP BY user_id
    """,
)
def udaf_applyinpandas(spark, sf_dir):
    import numpy as np
    import pandas as pd

    def trend(pdf: pd.DataFrame) -> pd.DataFrame:
        # r17 opt (guide §4.2): the grouped-map surface calls this once
        # PER GROUP (one user = one pandas frame; maxRecordsPerBatch
        # does not batch groups together), so per-call pandas overhead
        # (sort_values + Series construction + masked Series sums) was
        # the dominant cost across thousands of small groups. Same math
        # on raw numpy arrays — identical float64 pairwise sums, same
        # round(4) hedge, same NULL-value exclusion semantics.
        order = np.lexsort(
            (pdf["event_id"].to_numpy(), pdf["ts_us"].to_numpy())
        )
        # regr_slope semantics: (value, x) pairs with a NULL value are
        # excluded — but x keeps its position in the full time-ordered
        # sequence. NaN-skipping sums would silently mix the two
        # conventions (NaN-skipping numerators over a full-length x sum).
        y = pdf["value"].to_numpy(dtype="float64")[order]
        n = y.shape[0]
        m = ~np.isnan(y)
        np_ = int(m.sum())
        slope = None
        if np_:
            xm = np.arange(n, dtype="float64")[m]
            ym = y[m]
            sx = xm.sum()
            denom = (xm * xm).sum() - sx * sx / np_
            if denom > 0:
                slope = round(
                    ((xm * ym).sum() - sx * ym.sum() / np_) / denom, 4
                )
        return pd.DataFrame(
            {"user_id": [pdf["user_id"].iloc[0]], "n_events": [n], "trend": [slope]}
        )

    ev = load(spark, sf_dir, "events").select(
        "user_id", "event_id", "value", epoch_us("ts").alias("ts_us")
    )
    return ev.groupBy("user_id").applyInPandas(
        trend, "user_id bigint, n_events bigint, trend double"
    )


@query(
    "udtf_python",
    # Python UDTF (Spark ≥3.5): explode each document into 5-word chunks —
    # one input row, many output rows. SQL twin: per-chunk list slicing.
    oracle="""
    WITH w AS (SELECT doc_id, string_split(text, ' ') AS ws FROM documents)
    SELECT doc_id, chunk_idx,
           array_to_string(ws[(chunk_idx * 5 + 1):(chunk_idx * 5 + 5)], ' ')
             AS chunk
    FROM (SELECT doc_id, ws,
                 unnest(range(0, CAST(ceil(len(ws) / 5.0) AS BIGINT)))
                   AS chunk_idx
          FROM w)
    """,
)
def udtf_python(spark, sf_dir):
    from pyspark.sql.functions import udtf

    @udtf(returnType="chunk_idx bigint, chunk string")
    class Chunker:
        def eval(self, text: str):
            if text is None:  # a null doc explodes into zero chunks,
                return  # exactly like the oracle's unnest over NULL
            words = text.split(" ")
            for i in range(0, (len(words) + 4) // 5):
                yield i, " ".join(words[i * 5 : i * 5 + 5])

    spark.udtf.register("naqed_chunker", Chunker)
    d = load(spark, sf_dir, "documents")
    d.createOrReplaceTempView("naqed_udtf_docs")
    return spark.sql(
        """
        SELECT d.doc_id, c.chunk_idx, c.chunk
        FROM naqed_udtf_docs d, LATERAL naqed_chunker(d.text) c
        """
    )


@query(
    "udf_arrow_optimized",
    # the Spark 3.5+/4 Arrow-optimized Python UDF (useArrow=True): same
    # row-at-a-time author experience as udf_python_scalar, but the
    # executor<->Python transfer is Arrow-batched instead of pickled rows —
    # the migration path for legacy UDFs that can't be vectorized. Logic
    # mirrored in SQL for the oracle.
    oracle="""
    SELECT s_suppkey,
           trim(regexp_replace(lower(s_name), '[^a-z0-9]+', '-', 'g'), '-')
             AS slug
    FROM supplier
    """,
)
def udf_arrow_optimized(spark, sf_dir):
    @udf("string", useArrow=True)
    def slug(name: str) -> str:
        return re.sub(r"[^a-z0-9]+", "-", name.lower()).strip("-")

    s = load(spark, sf_dir, "supplier")
    return s.select("s_suppkey", slug("s_name").alias("slug"))


@query(
    "udf_pandas_iterator_model",
    # Iterator-of-series pandas UDF — THE model-inference batch pattern:
    # the "model" loads ONCE per Python worker in the iterator prelude
    # (here a deterministic per-language weight table standing in for a
    # real scorer checkpoint), then scores every Arrow batch without
    # re-loading. Row-at-a-time and plain pandas UDFs re-derive such
    # state per call/batch; at 100 TB the prelude amortizes a real
    # model's multi-second load across an entire partition.
    oracle="""
    SELECT doc_id,
           round(CAST(n_chars AS DOUBLE) * (CASE lang
             WHEN 'de' THEN 0.25 WHEN 'en' THEN 0.5 WHEN 'es' THEN 0.75
             WHEN 'fr' THEN 1.0 WHEN 'zh' THEN 1.25 ELSE 0.0 END), 4)
             AS model_score
    FROM documents
    """,
)
def udf_pandas_iterator_model(spark, sf_dir):
    import pandas as pd

    @pandas_udf("double")
    def score(
        batches: Iterator[Tuple[pd.Series, pd.Series]],
    ) -> Iterator[pd.Series]:
        # prelude: runs once per worker — the model-load site
        weights = {
            lang: 0.25 * (i + 1)
            for i, lang in enumerate(["de", "en", "es", "fr", "zh"])
        }
        for lang, n_chars in batches:
            yield n_chars * lang.map(weights).fillna(0.0)

    d = load(spark, sf_dir, "documents")
    return d.select(
        "doc_id",
        F.round(score(F.col("lang"), F.col("n_chars")), 4).alias(
            "model_score"
        ),
    )
