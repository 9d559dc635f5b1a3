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


def test_band_pairs_match_python(spark):
    """_band_pairs against a Python grouping of hand-built band rows:
    one row per pair however many buckets it shares, id_a < id_b, no
    pair from a lone document or from equal hashes in different bands,
    three pairs from a three-document bucket."""
    from itertools import combinations

    from naqed_spark.queries.llm import _band_pairs

    rows = [
        (2, 0, "x"), (1, 0, "x"),  # 1, 2 share two buckets
        (2, 1, "y"), (1, 1, "y"),
        (5, 0, "z"), (4, 0, "z"), (3, 0, "z"),  # a three-doc bucket
        (6, 0, "solo"),  # alone in its bucket
        (7, 2, "w"), (8, 3, "w"),  # same hash, different bands
    ]
    schema = "doc_id long, band int, bh string"
    buckets = {}
    for doc_id, band, bh in rows:
        buckets.setdefault((band, bh), []).append(doc_id)
    want = {
        p for ids in buckets.values() for p in combinations(sorted(ids), 2)
    }
    got = _band_pairs(spark.createDataFrame(rows, schema)).collect()
    assert sorted(map(tuple, got)) == sorted(want)
    assert want == {(1, 2), (3, 4), (3, 5), (4, 5)}
    assert all(r.id_a < r.id_b for r in got)
    empty = _band_pairs(spark.createDataFrame([], schema))
    assert empty.columns == ["id_a", "id_b"] and empty.isEmpty()


def test_shingle_sets_match_python(spark):
    """_shingle_sets against Python: distinct 5-word shingles in first
    occurrence order, no row for a document under 5 words, a repeated
    5-gram kept once."""
    from naqed_spark.queries.llm import _shingle_sets

    texts = {
        1: "one two three four",  # 4 words: no shingles
        2: "a b c d e",  # exactly one shingle
        3: "a b c d e a b c d e",  # "a b c d e" occurs twice
        4: "p q r s t u v",
    }
    want = {}
    for doc_id, text in texts.items():
        w = text.split(" ")
        if len(w) >= 5:
            grams = [" ".join(w[i:i + 5]) for i in range(len(w) - 4)]
            want[doc_id] = list(dict.fromkeys(grams))
    corpus = spark.createDataFrame(
        list(texts.items()), "doc_id long, text string"
    )
    words = corpus.select("doc_id", F.split("text", " ").alias("w"))
    got = {r.doc_id: r.sset for r in _shingle_sets(words).collect()}
    assert got == want
    assert 1 not in got and got[3].count("a b c d e") == 1
    assert len(got[3]) == 5


def test_ngram_candidates_match_join_spelling(spark):
    """The windowed-posting-list candidate generator yields exactly the
    pair set of the old keep-join + self-join spelling, including the df
    cap cutting in mid-range (cap=3 on a corpus with shingle df 1..4)."""
    from naqed_spark.queries.llm import _shingle_sets
    from naqed_spark.queries.llm_ext import _ngram_candidates

    # doc i repeats a shared 5-word opener for i groups → shingle dfs 1..4
    docs = [
        (i, "alpha beta gamma delta eps%d tail%da tail%db" % (i % 4, i, i))
        for i in range(8)
    ]
    corpus = spark.createDataFrame(docs, "doc_id long, text string")
    sh = _shingle_sets(corpus.select("doc_id", F.split("text", " ").alias("w")))
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
