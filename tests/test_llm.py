"""LLM-data helpers pinned against their plain spellings on constructed
input: the MinHash band table, the n-gram candidate generator and the
kNN fast path. The oracle sweep covers these keys end to end; each test
here checks that the faster spelling returns exactly the rows of the
plainer one.
"""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from naqed_spark.registry import QUERIES, load_all
from naqed_spark.session import get_spark, tune_session

SF_DIR = os.environ.get("NAQED_TEST_SF_DIR", "/root/testdata/sf0.001")

load_all()

pytestmark = pytest.mark.quick


@pytest.fixture(scope="module")
def spark():
    return tune_session(get_spark("naqed-llm-tests"))


def test_band_buckets_match_union_spelling(spark):
    """_band_buckets (single explode pass) emits exactly the rows the old
    4-way unionAll spelling emitted."""
    from naqed_spark.queries.llm import _band_buckets, _minhash_sigs

    sigs = _minhash_sigs(spark, SF_DIR)
    new = _band_buckets(sigs)
    old = None
    for b in range(4):
        part = sigs.select(
            "doc_id",
            F.lit(b).alias("band"),
            F.md5(
                F.concat(F.col(f"sig{2 * b}"), F.col(f"sig{2 * b + 1}"))
            ).alias("bh"),
        )
        old = part if old is None else old.unionAll(part)
    assert new.exceptAll(old).isEmpty() and old.exceptAll(new).isEmpty()


def test_ngram_candidates_match_join_spelling(spark):
    """The windowed-posting-list candidate generator yields exactly the
    pair set of the old keep-join + self-join spelling, including the df
    cap cutting in mid-range (cap=3 on a corpus with shingle df 1..4)."""
    from naqed_spark.queries.llm_ext import _ngram_candidates, _shingle_sets

    # doc i repeats a shared 5-word opener for i groups → shingle dfs 1..4
    docs = [
        (i, "alpha beta gamma delta eps%d tail%da tail%db" % (i % 4, i, i))
        for i in range(8)
    ]
    corpus = spark.createDataFrame(docs, "doc_id long, text string")
    sh = _shingle_sets(corpus)
    for cap in (1, 3, 10**9):
        new = _ngram_candidates(sh, cap)
        ex = sh.select("doc_id", F.explode("sset").alias("s"))
        keep = (
            ex.groupBy("s")
            .agg(F.count(F.lit(1)).alias("df"))
            .filter(F.col("df") <= cap)
            .select("s")
        )
        exc = ex.join(keep, "s").select("doc_id", "s")
        old = (
            exc.alias("a")
            .join(
                exc.alias("b"),
                (F.col("a.s") == F.col("b.s"))
                & (F.col("a.doc_id") < F.col("b.doc_id")),
            )
            .select(
                F.col("a.doc_id").alias("id_a"),
                F.col("b.doc_id").alias("id_b"),
            )
            .distinct()
        )
        assert sorted(map(tuple, new.collect())) == sorted(
            map(tuple, old.collect())
        ), f"cap={cap}"


def test_knn_fast_path_matches_blocked_path(spark, monkeypatch):
    """_blocked_union's estimate-based single-block fast path returns the
    same rows as the forced multi-block path (a 37-row block)."""
    from naqed_spark.queries import llm

    key = "llm_knn_bruteforce"
    fast = QUERIES[key](spark, SF_DIR)
    fast_rows = sorted(map(tuple, fast.collect()))
    monkeypatch.setattr(llm, "_knn_block_rows", lambda dim: 37)
    blocked = QUERIES[key](spark, SF_DIR)
    blocked_rows = sorted(map(tuple, blocked.collect()))
    assert fast_rows == blocked_rows
