"""Corpus fingerprinting / provenance operators, round 7 session 2
(SURVEY.md §2-K): winnowing fingerprints, cross-source overlap audit,
and chunk→document embedding pooling.

- ``llm_winnowing_fingerprint`` — the MOSS winnowing scheme (Schleimer,
  Wilkerson, Aiken, SIGMOD 2003): k-gram rolling hashes, then the minimum
  hash of every w-length window; the distinct set of window-minima is the
  document fingerprint. Guarantees any shared substring of length
  ≥ w+k-1 produces at least one shared fingerprint entry, at ~1/w the
  storage of the full hash stream. Hashes stay 8-hex-digit STRINGS so the
  window ``min`` is plain ASCII comparison — identical in both engines —
  instead of an engine-specific hex→int conversion.
- ``llm_cross_source_overlap`` — provenance audit: which exact texts
  appear in more than one source shard (the fixture corpus has no
  duplicates — llm.py:90 — so the corpus is the fixture plus a simulated
  "crawl refresh" shard re-containing every third doc).
- ``llm_embedding_pool_mean`` — chunk→document pooling: mean of the chunk
  embeddings per synthetic doc (vec_id // 10), then L2-normalized. The
  elementwise mean follows the llm_knn_centroid precedent (round(avg,6)
  per dimension — the only float-sum in the op); the norm is computed
  from the ROUNDED means so both engines normalize identical vectors.

No reference file:line possible — ``/root/reference`` is empty (SURVEY.md
§0); keys extend the §2-K training-data toolkit.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from naqed_spark.queries._util import load, pin, r6, scoped_persist
from naqed_spark.queries.llm import (
    _BANDS_SQL,
    _SIG_COLS_SQL,
    _band_buckets,
    _band_pairs,
    _lsh_bands,
    _minhash,
    _shingle_sets,
)
from naqed_spark.registry import query

# Winnowing parameters: k-gram length and window width. t = w + k - 1 = 11
# is the guarantee threshold (any shared substring of ≥ 11 chars shares a
# fingerprint). _FP_LEN caps the scanned prefix so the per-doc work is
# bounded no matter the document length — at 100 TB you either raise the
# cap or fingerprint per chunk (llm_chunk_windows) and union.
_FP_K = 8
_FP_W = 4
_FP_LEN = 200


@query(
    "llm_winnowing_fingerprint",
    # Plan shape (round 12, VERDICT r11 item 4 — was the one perf-weak
    # key): the whole fingerprint is ONE zero-shuffle projection pass.
    # Per doc, a single higher-order `transform` builds the ≤ _FP_LEN
    # k-gram hash array; the rolling window minimum is the elementwise
    # `least` of the _FP_W shifted views of that array (zip_with — a
    # log-tree of w-1 = 3 O(n) passes, no per-position slice
    # allocations); array_distinct+array_sort+array_join emit the marks.
    # Replaces the r7 explode → window-min → collect_set spelling: that
    # plan shuffled the ~193x exploded k-gram rows through one exchange
    # and paid a per-partition sort — measured at 8x/sink, the fused
    # pass is ~1.7x faster at both 1x (0.44 s vs 0.95 s) and 8x (0.90 s
    # vs 1.52 s), with identical output (equality-checked row-for-row;
    # the hashlib ground-truth replay and the DuckDB oracle are
    # unchanged). Nothing quadratic, no Python, no exchange at all —
    # per-doc state is bounded by _FP_LEN, and at 100 TB the op is
    # embarrassingly parallel map-side work feeding whatever sink
    # partitioning the pipeline wants. Docs shorter than the t = w+k-1
    # guarantee threshold fingerprint nothing and are excluded up front
    # (the old spelling dropped them via its post-window filter).
    oracle=f"""
    WITH g AS (
      SELECT doc_id,
             p,
             substr(md5(substr(text, CAST(p AS INT), {_FP_K})), 1, 8) AS h,
             least(length(text), {_FP_LEN}) - {_FP_K} + 1 AS np
      FROM documents,
           LATERAL unnest(generate_series(
             1, least(length(text), {_FP_LEN}) - {_FP_K} + 1)) AS t(p)
      WHERE text IS NOT NULL
    ),
    mins AS (
      SELECT doc_id, p, np,
             min(h) OVER (PARTITION BY doc_id ORDER BY p
                          ROWS BETWEEN CURRENT ROW
                          AND {_FP_W - 1} FOLLOWING) AS wmin
      FROM g
    )
    SELECT doc_id,
           string_agg(DISTINCT wmin, ',' ORDER BY wmin) AS fingerprint,
           count(DISTINCT wmin) AS n_marks
    FROM mins
    WHERE p <= np - {_FP_W} + 1
    GROUP BY doc_id
    """,
)
def llm_winnowing_fingerprint(spark, sf_dir):
    # null or sub-threshold text fingerprints nothing — excluded
    # identically in both engines (t = w + k - 1 is the shortest text
    # with any full window; the oracle's rank filter drops the same docs)
    d = (
        load(spark, sf_dir, "documents")
        .filter(F.col("text").isNotNull())
        .filter(F.length("text") >= _FP_W + _FP_K - 1)
    )
    # per-doc k-gram hash array: hs[p] = md5(text[p : p+k])[:8]
    d = d.select(
        "doc_id",
        F.expr(
            f"transform("
            f" sequence(1, CAST(least(length(text), {_FP_LEN})"
            f"                  - {_FP_K} + 1 AS INT)),"
            f" p -> substring(md5(substring(text, p, {_FP_K})), 1, 8))"
        ).alias("hs"),
    )
    # rolling minimum over w consecutive hashes, as the elementwise
    # least of the w shifted views (kept in its OWN projection so hs is
    # materialized once — Catalyst declines to inline the expensive
    # multi-referenced array, verified in the plan test)
    n = f"(size(hs) - {_FP_W - 1})"
    views = [f"slice(hs, {i + 1}, {n})" for i in range(_FP_W)]
    while len(views) > 1:  # balanced least-tree: w-1 zip_with passes
        nxt = [
            f"zip_with({views[i]}, {views[i + 1]}, (a, b) -> least(a, b))"
            for i in range(0, len(views) - 1, 2)
        ]
        if len(views) % 2:
            nxt.append(views[-1])
        views = nxt
    d = d.select(
        "doc_id",
        F.expr(f"array_sort(array_distinct({views[0]}))").alias("marks"),
    )
    return d.select(
        "doc_id",
        F.array_join("marks", ",").alias("fingerprint"),
        F.size("marks").cast("bigint").alias("n_marks"),
    )


@query(
    "llm_cross_source_overlap",
    # Provenance audit: exact texts present in >1 source shard. One
    # map-side-combined groupBy on md5(text) — the 128-bit key shuffles
    # instead of the full text (at 100 TB that is the difference between
    # shuffling 16-byte keys and shuffling the corpus). count(DISTINCT
    # source) stays inside the same aggregate (Spark plans a two-phase
    # distinct-agg, still one logical shuffle chain, no join).
    oracle="""
    WITH corpus AS (
      SELECT doc_id, text, source FROM documents
      UNION ALL
      SELECT doc_id, text, 'refresh' AS source FROM documents
      WHERE doc_id % 3 = 0
    )
    SELECT md5(text) AS text_md5,
           count(*) AS n_docs,
           count(DISTINCT source) AS n_sources,
           min(doc_id) AS first_doc
    FROM corpus
    GROUP BY md5(text)
    HAVING count(DISTINCT source) > 1
    """,
)
def llm_cross_source_overlap(spark, sf_dir):
    d = load(spark, sf_dir, "documents")
    refresh = d.filter(F.col("doc_id") % 3 == 0).withColumn(
        "source", F.lit("refresh")
    )
    corpus = d.select("doc_id", "text", "source").unionAll(
        refresh.select("doc_id", "text", "source")
    )
    return (
        corpus.groupBy(F.md5("text").alias("text_md5"))
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.countDistinct("source").alias("n_sources"),
            F.min("doc_id").alias("first_doc"),
        )
        .filter(F.col("n_sources") > 1)
    )


@query(
    "llm_embedding_pool_mean",
    # Chunk→doc pooling: synthetic docs own 10 consecutive chunk vectors
    # (vec_id // 10); pool = per-dimension mean, then L2-normalize. Two
    # shuffles — (doc, pos) mean, then doc norm — both on narrow keys with
    # map-side combine; the re-join of the norm is on the same doc key.
    # round(avg, 6) BEFORE the norm so both engines normalize the same
    # vector (the llm_knn_centroid float discipline).
    oracle="""
    WITH x AS (
      SELECT vec_id // 10 AS doc,
             generate_subscripts(embedding, 1) AS pos,
             CAST(unnest(embedding) AS DOUBLE) AS val
      FROM embeddings
    ),
    pooled AS (
      SELECT doc, pos, round(avg(val), 6) AS m, count(*) AS n_chunks
      FROM x GROUP BY doc, pos
    ),
    nrm AS (
      SELECT doc, sqrt(sum(m * m)) AS l2 FROM pooled GROUP BY doc
    )
    SELECT p.doc, p.pos, p.n_chunks,
           round(p.m / nullif(n.l2, 0), 6) AS pooled_norm
    FROM pooled p JOIN nrm n ON p.doc = n.doc
    """,
)
def llm_embedding_pool_mean(spark, sf_dir):
    e = load(spark, sf_dir, "embeddings")
    x = e.select(
        (F.col("vec_id") / 10).cast("bigint").alias("doc"),
        F.posexplode("embedding").alias("pos0", "valf"),
    ).select(
        "doc",
        (F.col("pos0") + 1).alias("pos"),
        F.col("valf").cast("double").alias("val"),
    )
    pooled = x.groupBy("doc", "pos").agg(
        r6(F.avg("val")).alias("m"),
        F.count(F.lit(1)).alias("n_chunks"),
    )
    nrm = pooled.groupBy("doc").agg(
        F.sqrt(F.sum(F.col("m") * F.col("m"))).alias("l2")
    )
    return pooled.join(nrm, "doc").select(
        "doc",
        "pos",
        "n_chunks",
        r6(F.col("m") / F.nullif(F.col("l2"), F.lit(0.0))).alias(
            "pooled_norm"
        ),
    )


@query(
    "llm_word_entropy",
    # Word-distribution Shannon entropy + type-token ratio per document —
    # the Gopher-style repetitiveness/diversity quality signals (low
    # entropy = a few tokens dominate; low TTR = heavy repetition). One
    # explode + two-level groupBy sharing the doc_id partitioning (the
    # llm_repetition_score shape): H = ln n − (Σ c·ln c)/n computed from
    # exact integer counts, libm ln hedged with round(6).
    oracle="""
    WITH toks AS (
      SELECT doc_id, unnest(string_split(text, ' ')) AS tok FROM documents
    ),
    tc AS (
      SELECT doc_id, tok, count(*) AS c FROM toks GROUP BY doc_id, tok
    )
    SELECT doc_id,
           CAST(sum(c) AS BIGINT) AS n_toks,
           round(CAST(count(*) AS DOUBLE) / sum(c), 6) AS ttr,
           round(ln(CAST(sum(c) AS DOUBLE))
                 - sum(c * ln(CAST(c AS DOUBLE))) / sum(c), 6) AS entropy
    FROM tc GROUP BY doc_id
    """,
)
def llm_word_entropy(spark, sf_dir):
    d = load(spark, sf_dir, "documents")
    toks = d.select("doc_id", F.explode(F.split("text", " ")).alias("tok"))
    tc = toks.groupBy("doc_id", "tok").agg(F.count(F.lit(1)).alias("c"))
    n = F.sum("c")
    return tc.groupBy("doc_id").agg(
        n.cast("bigint").alias("n_toks"),
        r6(F.count(F.lit(1)).cast("double") / n).alias("ttr"),
        r6(
            F.log(n.cast("double"))
            - F.sum(F.col("c") * F.log(F.col("c").cast("double"))) / n
        ).alias("entropy"),
    )


# Containment dedup parameters: word-8-gram chunks at stride 4; chunk
# hashes shared by more than _CONT_DF_CAP docs are dropped as boilerplate
# (the _NGRAM_DF_CAP discipline — bounds the equi-join fan-out to
# CAP × chunk multiplicity at any corpus size); pairs need ≥ half of the
# source's chunks shared to count as containment.
_CONT_W = 8
_CONT_STRIDE = 4
_CONT_DF_CAP = 20
_CONT_TAU = 0.5


@query(
    "llm_containment_dedup",
    # Containment (asymmetric near-dup): what fraction of doc A's chunks
    # appear verbatim in doc B — catches partial copies (truncations,
    # quotes, stitched documents) that whole-document MinHash misses
    # because Jaccard divides by the UNION. The fixture corpus has no
    # partial copies, so the corpus is documents plus a 60%-truncation of
    # every 4th doc (the llm_exact_dedup replay discipline, llm.py:90).
    # Plan: chunk explode → distinct (doc, hash) → df-capped hash
    # equi-join (never cartesian) → pair groupBy → broadcast-join the
    # per-doc chunk counts. At 100 TB every stage is a narrow-key
    # shuffle with map-side combine; the cap bounds hot-chunk fan-out.
    oracle=f"""
    WITH corpus AS (
      SELECT doc_id, text FROM documents
      UNION ALL
      SELECT doc_id + 100000,
             array_to_string((string_split(text, ' '))
               [1:(3 * len(string_split(text, ' '))) // 5], ' ')
      FROM documents WHERE doc_id % 4 = 0
    ),
    w AS (SELECT doc_id, string_split(text, ' ') AS w FROM corpus),
    ch AS (
      SELECT DISTINCT doc_id,
             md5(array_to_string(w[s:s + {_CONT_W - 1}], ' ')) AS h
      FROM w, unnest(range(1, len(w) - {_CONT_W} + 2, {_CONT_STRIDE}))
           AS u(s)
    ),
    hot AS (SELECT h FROM ch GROUP BY h
            HAVING count(*) > {_CONT_DF_CAP}),
    cf AS (SELECT * FROM ch WHERE h NOT IN (SELECT h FROM hot)),
    na AS (SELECT doc_id, count(*) AS n FROM cf GROUP BY doc_id),
    pairs AS (
      SELECT a.doc_id AS src_doc, b.doc_id AS dst_doc, count(*) AS shared
      FROM cf a JOIN cf b ON a.h = b.h AND a.doc_id <> b.doc_id
      GROUP BY 1, 2
    )
    SELECT p.src_doc, p.dst_doc, p.shared, na.n AS n_src,
           round(CAST(p.shared AS DOUBLE) / na.n, 6) AS containment
    FROM pairs p JOIN na ON na.doc_id = p.src_doc
    WHERE CAST(p.shared AS DOUBLE) / na.n >= {_CONT_TAU}
    """,
)
def llm_containment_dedup(spark, sf_dir):
    d = load(spark, sf_dir, "documents")
    trunc = d.filter(F.col("doc_id") % 4 == 0).select(
        (F.col("doc_id") + 100000).alias("doc_id"),
        F.array_join(
            F.expr(
                "slice(split(text, ' '), 1,"
                " CAST((3 * size(split(text, ' '))) / 5 AS INT))"
            ),
            " ",
        ).alias("text"),
    )
    corpus = d.select("doc_id", "text").unionAll(trunc)
    w = corpus.select("doc_id", F.split("text", " ").alias("w")).filter(
        # docs shorter than one chunk produce no chunks (Spark's sequence()
        # rejects descending bounds; DuckDB's range() returns empty)
        F.size("w") >= _CONT_W
    )
    # r16 opt (guide §5): ch feeds the hot-chunk aggregate AND (through
    # cf) three more consumers — without the persists the windowed-chunk
    # md5 build + its distinct exchange recomputed up to four times.
    # Persisted rows are (doc_id, 32-char hash), never text.
    ch = scoped_persist(
        w.select(
            "doc_id",
            "w",
            F.explode(
                F.sequence(
                    F.lit(1),
                    F.size("w") - _CONT_W + 1,
                    F.lit(_CONT_STRIDE),
                )
            ).alias("s"),
        )
        .select(
            "doc_id",
            F.md5(
                F.array_join(F.slice("w", F.col("s"), F.lit(_CONT_W)), " ")
            ).alias("h"),
        )
        .distinct()
    )
    hot = (
        ch.groupBy("h")
        .agg(F.count(F.lit(1)).alias("df"))
        .filter(F.col("df") > _CONT_DF_CAP)
        .select("h")
    )
    cf = scoped_persist(ch.join(F.broadcast(hot), "h", "left_anti"))
    na = cf.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n"))
    a = cf.select(F.col("doc_id").alias("src_doc"), "h")
    b = cf.select(F.col("doc_id").alias("dst_doc"), "h")
    pairs = (
        a.join(b, (a["h"] == b["h"]) & (a["src_doc"] != b["dst_doc"]))
        .groupBy("src_doc", "dst_doc")
        .agg(F.count(F.lit(1)).alias("shared"))
    )
    return (
        pairs.join(
            F.broadcast(na.select(F.col("doc_id").alias("src_doc"),
                                  F.col("n").alias("n_src"))),
            "src_doc",
        )
        .filter(
            F.col("shared").cast("double") / F.col("n_src") >= _CONT_TAU
        )
        .select(
            "src_doc",
            "dst_doc",
            "shared",
            "n_src",
            r6(F.col("shared").cast("double") / F.col("n_src")).alias(
                "containment"
            ),
        )
    )


@query(
    "llm_bpe_pair_counts",
    # The first iteration of BPE/WordPiece tokenizer TRAINING: count
    # adjacent character pairs across the corpus vocabulary (weighted by
    # word frequency) and rank the merge candidates. This is the
    # map-reduce shape the full training loop repeats per merge: the
    # corpus collapses to a (word, freq) vocab first — pair explosion
    # runs over the VOCABULARY (bounded, plateaus), never the raw token
    # stream. Top-20 merges with the deterministic (count desc, pair asc)
    # total order via TakeOrderedAndProject, not a global sort.
    oracle="""
    WITH words AS (
      SELECT unnest(string_split(text, ' ')) AS w FROM documents
    ),
    vocab AS (SELECT w, count(*) AS freq FROM words WHERE length(w) >= 2
              GROUP BY w),
    pairs AS (
      SELECT substr(w, CAST(i AS INT), 2) AS pair, freq
      FROM vocab, LATERAL unnest(generate_series(1, length(w) - 1)) AS t(i)
    )
    SELECT pair, CAST(sum(freq) AS BIGINT) AS n
    FROM pairs GROUP BY pair
    ORDER BY n DESC, pair ASC
    LIMIT 20
    """,
)
def llm_bpe_pair_counts(spark, sf_dir):
    d = load(spark, sf_dir, "documents")
    words = d.select(F.explode(F.split("text", " ")).alias("w")).filter(
        F.length("w") >= 2
    )
    vocab = words.groupBy("w").agg(F.count(F.lit(1)).alias("freq"))
    pairs = vocab.select(
        "freq",
        F.explode(F.sequence(F.lit(1), F.length("w") - 1)).alias("i"),
        F.col("w"),
    ).select(
        F.expr("substring(w, CAST(i AS INT), 2)").alias("pair"), "freq"
    )
    return (
        pairs.groupBy("pair")
        .agg(F.sum("freq").alias("n"))
        .orderBy(F.col("n").desc(), F.col("pair").asc())
        .limit(20)
    )


@query(
    "llm_dataset_card_stats",
    # The "dataset card" one-pass summary every corpus release ships:
    # per (source, lang) — doc count, total/median length, token totals,
    # short-doc share. One scan, one map-side-combined groupBy on the
    # (source, lang) pair; exact percentile here (swap approx_percentile
    # at 100 TB, same plan). The grid is small (sources × langs), so the
    # output is driver-safe at any corpus size.
    oracle="""
    SELECT source, lang,
           count(*) AS n_docs,
           CAST(sum(n_chars) AS BIGINT) AS total_chars,
           CAST(round(quantile_cont(n_chars, 0.5), 6) AS DOUBLE)
             AS median_chars,
           CAST(sum(len(string_split(text, ' '))) AS BIGINT) AS total_toks,
           round(CAST(count(*) FILTER (WHERE n_chars < 200) AS DOUBLE)
                 / count(*), 6) AS short_share
    FROM documents
    GROUP BY source, lang
    """,
)
def llm_dataset_card_stats(spark, sf_dir):
    d = load(spark, sf_dir, "documents")
    short = F.col("n_chars") < 200
    return d.groupBy("source", "lang").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_chars").alias("total_chars"),
        F.round(F.expr("percentile(n_chars, 0.5)"), 6).alias("median_chars"),
        # size(split(NULL)) is -1 — NULL word counts skip the sum in both
        # engines instead of poisoning the token total
        F.sum(
            F.when(F.col("text").isNotNull(), F.size(F.split("text", " ")))
        ).alias("total_toks"),
        r6(F.count_if(short).cast("double") / F.count(F.lit(1))).alias(
            "short_share"
        ),
    )


@query(
    "llm_quality_ensemble",
    # The composite keep/drop gate a production corpus filter actually
    # runs: four signals — length band, type-token ratio, top-token
    # dominance, word-entropy — each thresholded on its ROUNDED value
    # (round(6) before compare: both engines threshold identical
    # doubles), AND-ed into one verdict. Thresholds sit inside the
    # fixture's signal distributions so both branches are exercised.
    # One token pass + one doc-level aggregate sharing the doc_id
    # partitioning, then a broadcast-free join back to n_chars (doc-level
    # frame, narrow). Signals are emitted alongside the verdict — the
    # auditability requirement (a bare boolean is undebuggable at 100 TB).
    oracle="""
    WITH toks AS (
      SELECT doc_id, unnest(string_split(text, ' ')) AS tok FROM documents
    ),
    tc AS (
      SELECT doc_id, tok, count(*) AS c FROM toks GROUP BY doc_id, tok
    ),
    s AS (
      SELECT doc_id,
             CAST(sum(c) AS BIGINT) AS n_toks,
             round(CAST(count(*) AS DOUBLE) / sum(c), 6) AS ttr,
             round(CAST(max(c) AS DOUBLE) / sum(c), 6) AS top_share,
             round(ln(CAST(sum(c) AS DOUBLE))
                   - sum(c * ln(CAST(c AS DOUBLE))) / sum(c), 6) AS entropy
      FROM tc GROUP BY doc_id
    )
    SELECT d.doc_id, d.n_chars, s.n_toks, s.ttr, s.top_share, s.entropy,
           (d.n_chars BETWEEN 100 AND 500
            AND s.ttr >= 0.35 AND s.top_share <= 0.12
            AND s.entropy >= 2.5) AS keep
    FROM documents d JOIN s ON s.doc_id = d.doc_id
    """,
)
def llm_quality_ensemble(spark, sf_dir):
    d = load(spark, sf_dir, "documents")
    toks = d.select("doc_id", F.explode(F.split("text", " ")).alias("tok"))
    tc = toks.groupBy("doc_id", "tok").agg(F.count(F.lit(1)).alias("c"))
    n = F.sum("c")
    s = tc.groupBy("doc_id").agg(
        n.cast("bigint").alias("n_toks"),
        r6(F.count(F.lit(1)).cast("double") / n).alias("ttr"),
        r6(F.max("c").cast("double") / n).alias("top_share"),
        r6(
            F.log(n.cast("double"))
            - F.sum(F.col("c") * F.log(F.col("c").cast("double"))) / n
        ).alias("entropy"),
    )
    keep = (
        F.col("n_chars").between(100, 500)
        & (F.col("ttr") >= 0.35)
        & (F.col("top_share") <= 0.12)
        & (F.col("entropy") >= 2.5)
    )
    return (
        d.select("doc_id", "n_chars")
        .join(s, "doc_id")
        .select(
            "doc_id", "n_chars", "n_toks", "ttr", "top_share", "entropy",
            keep.alias("keep"),
        )
    )


@query(
    "llm_lsh_bucket_audit",
    # Operational skew audit for the LSH dedup pipeline: per band, the
    # bucket-size distribution that determines the band-join's cost —
    # candidate pairs per bucket grow as c·(c−1)/2, so ONE hot bucket
    # (boilerplate shingles colliding) can dominate the whole join. This
    # is the monitoring query you run BEFORE the 100 TB dedup to decide
    # band/row counts and df-caps; it reuses the registered MinHash
    # construction (llm.py seeds/bands) so the audit measures the real
    # pipeline, not a model of it. One signature pass + one (band,
    # bucket) groupBy + one band-level rollup — no pair materialization.
    oracle=f"""
    WITH sh AS (
      SELECT doc_id,
             list_distinct(list_transform(
               range(1, len(string_split(text, ' ')) - 3),
               i -> array_to_string(string_split(text, ' ')[i:i+4], ' ')))
               AS sset
      FROM documents WHERE len(string_split(text, ' ')) >= 5
    ),
    sigs AS (SELECT doc_id,
             {_SIG_COLS_SQL} FROM sh),
    bands AS ({_BANDS_SQL}),
    buckets AS (
      SELECT band, bh, count(*) AS c FROM bands GROUP BY band, bh
    )
    SELECT band,
           count(*) AS n_buckets,
           CAST(max(c) AS BIGINT) AS max_bucket,
           CAST(sum(c * (c - 1) / 2) AS BIGINT) AS cand_pairs,
           round(CAST(max(c) * (max(c) - 1) / 2 AS DOUBLE)
                 / greatest(sum(c * (c - 1) / 2), 1), 6) AS top_pair_share
    FROM buckets GROUP BY band
    """,
)
def llm_lsh_bucket_audit(spark, sf_dir):
    # r17 opt (guide §2.4): the band table was a 4-way unionAll — FOUR
    # instantiations of the full shingle+minhash subtree (no persist) per
    # pass. _band_buckets emits the identical rows as one
    # Project+Generate over ONE sigs instance (equivalence pinned by
    # test_band_buckets_match_union_spelling), and the 4×2 default band
    # table is the same per-session lazy fragment the neardup keys share.
    buckets = (
        _lsh_bands(spark, sf_dir)
        .groupBy("band", "bh")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    pairs = (F.col("c") * (F.col("c") - 1) / 2).cast("bigint")
    mx = F.max("c")
    return buckets.groupBy("band").agg(
        F.count(F.lit(1)).alias("n_buckets"),
        mx.alias("max_bucket"),
        F.sum(pairs).alias("cand_pairs"),
        F.round(
            (mx * (mx - 1) / 2).cast("double")
            / F.greatest(F.sum(pairs), F.lit(1)),
            6,
        ).alias("top_pair_share"),
    )


# DuckDB twin of _planted_shingles: the CTEs base, corpus and sh
_PLANTED_SH_SQL = """
    base AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
    corpus AS (
      SELECT doc_id, w FROM base
      UNION ALL
      SELECT doc_id + 300000,
             list_transform(list_filter(range(1, len(w) + 1),
                                        i -> i % 7 != 0), i -> w[i])
      FROM base WHERE doc_id % 5 = 0
    ),
    sh AS (
      SELECT doc_id,
             list_distinct(list_transform(range(1, len(w) - 3),
               i -> array_to_string(w[i:i+4], ' '))) AS sset
      FROM corpus WHERE len(w) >= 5
    )"""


def _planted_shingles(spark, sf_dir):
    """(doc_id, sset) of the documents plus the planted near-dups: every
    5th doc gains a variant (doc_id + 300000) missing each 7th word."""
    base = load(spark, sf_dir, "documents").select(
        "doc_id", F.split("text", " ").alias("w")
    )
    variant = base.filter(F.col("doc_id") % 5 == 0).select(
        (F.col("doc_id") + 300000).alias("doc_id"),
        F.expr(
            "transform(filter(sequence(1, size(w)), i -> i % 7 != 0),"
            " i -> element_at(w, i))"
        ).alias("w"),
    )
    return _shingle_sets(base.unionAll(variant))


# LSH evaluation: variants drop every 7th word → planted near-dup pairs
# with known-high Jaccard; precision verifies candidates by EXACT Jaccard
# (computed only on candidates — sub-quadratic), recall is measured
# against the planted set. Threshold is fixture-scaled.
_LSH_EVAL_TAU = 0.5


@query(
    "llm_lsh_precision_recall",
    # Planted-duplicate evaluation of the LSH dedup pipeline (the audit
    # every dedup deployment runs before trusting it at 100 TB): every
    # 5th doc gains a variant missing each 7th word — a known near-dup
    # pair. Recall = planted pairs the band-join finds; precision =
    # candidate pairs whose EXACT Jaccard clears τ. No all-pairs stage
    # anywhere: candidates come from the band equi-join, exact Jaccard
    # runs only on candidates, and the planted set is join-derived. The
    # MinHash construction is the registered llm.py one (same seeds and
    # banding), so the numbers audit the REAL pipeline.
    oracle=f"""
    WITH {_PLANTED_SH_SQL},
    sigs AS (SELECT doc_id, sset,
             {_SIG_COLS_SQL} FROM sh),
    bands AS ({_BANDS_SQL}),
    cand AS (
      SELECT DISTINCT a.doc_id AS ia, b.doc_id AS ib
      FROM bands a JOIN bands b
        ON a.band = b.band AND a.bh = b.bh AND a.doc_id < b.doc_id
    ),
    verified AS (
      SELECT c.ia, c.ib,
             len(list_intersect(sa.sset, sb.sset)) * 1.0
               / len(list_distinct(sa.sset || sb.sset)) AS j
      FROM cand c JOIN sh sa ON sa.doc_id = c.ia
                  JOIN sh sb ON sb.doc_id = c.ib
    ),
    planted AS (
      SELECT s1.doc_id AS ia, s2.doc_id AS ib
      FROM sh s1 JOIN sh s2 ON s2.doc_id = s1.doc_id + 300000
    )
    SELECT
      (SELECT count(*) FROM planted) AS n_planted,
      (SELECT count(*) FROM planted p JOIN cand c
        ON c.ia = p.ia AND c.ib = p.ib) AS n_recalled,
      round((SELECT count(*) FROM planted p JOIN cand c
             ON c.ia = p.ia AND c.ib = p.ib) * 1.0
            / (SELECT count(*) FROM planted), 6) AS recall,
      (SELECT count(*) FROM cand) AS n_candidates,
      (SELECT count(*) FROM verified WHERE j >= {_LSH_EVAL_TAU})
        AS n_precise,
      round((SELECT count(*) FROM verified WHERE j >= {_LSH_EVAL_TAU})
            * 1.0 / greatest((SELECT count(*) FROM cand), 1), 6)
        AS precision
    """,
)
def llm_lsh_precision_recall(spark, sf_dir):
    sh = _planted_shingles(spark, sf_dir)
    sigs = _minhash(sh)
    # r16 opt (guide §1.2/§5): this audit runs FOUR scalar count() actions
    # (planted / recalled / candidates / precise) — before, every action
    # recomputed the shingle+MinHash+band pipeline from scratch (the
    # shingle transform ran ~8×; measured 192 s build at sf0.1). The two
    # frames every count hangs off — the shingle sets and the candidate
    # pairs — carry scoped persist marks. Band table comes from the
    # shared single-pass _band_buckets instead of a 4-way unionAll.
    sh = scoped_persist(sh)
    cand = scoped_persist(_band_pairs(_band_buckets(sigs)).toDF("ia", "ib"))
    sa = sh.select(F.col("doc_id").alias("ia"), F.col("sset").alias("sa"))
    sb = sh.select(F.col("doc_id").alias("ib"), F.col("sset").alias("sb"))
    verified = (
        cand.join(sa, "ia")
        .join(sb, "ib")
        .select(
            "ia",
            "ib",
            (
                F.size(F.array_intersect("sa", "sb")).cast("double")
                / F.size(F.array_distinct(F.concat("sa", "sb")))
            ).alias("j"),
        )
    )
    s1 = sh.select(F.col("doc_id").alias("ia"))
    s2 = sh.select((F.col("doc_id") - 300000).alias("ia"),
                   F.col("doc_id").alias("ib"))
    planted = s1.join(s2, "ia").select("ia", "ib")
    n_planted = planted.count()
    n_recalled = planted.join(cand, ["ia", "ib"], "left_semi").count()
    n_candidates = cand.count()
    n_precise = verified.filter(F.col("j") >= _LSH_EVAL_TAU).count()
    row = [
        (
            n_planted,
            n_recalled,
            # recall over zero planted pairs is NULL in both engines
            # (DuckDB division by zero yields NULL)
            round(n_recalled / n_planted, 6) if n_planted else None,
            n_candidates,
            n_precise,
            round(n_precise / max(n_candidates, 1), 6),
        )
    ]
    return spark.createDataFrame(
        row,
        "n_planted bigint, n_recalled bigint, recall double,"
        " n_candidates bigint, n_precise bigint, precision double",
    )


@query(
    "llm_multimodal_dedup",
    # Media dedup over opaque binary payloads — the image/audio dedup
    # shape: exact groups by md5(bytes) (the only safe whole-payload
    # key), plus an edge-sketch (head 32 B ‖ tail 32 B ‖ size bucket) —
    # the cheap perceptual-hash STAND-IN this container allows (no media
    # codecs; a real pHash/chromaprint drops into the same column). The
    # corpus replays every 6th payload as an exact duplicate (llm.py:90
    # discipline). Plan: one scan, 16-byte keys shuffle — payload bytes
    # never cross an exchange (head/tail/md5 all computed scan-side:
    # at 100 TB shuffling media bytes is THE mistake).
    oracle="""
    WITH corpus AS (
      SELECT doc_id, encode(text) AS payload FROM documents
      UNION ALL
      SELECT doc_id + 400000, encode(text) FROM documents
      WHERE doc_id % 6 = 0
    ),
    keyed AS (
      SELECT doc_id,
             md5(hx) AS payload_md5,
             md5(substr(hx, 1, 64)
                 || substr(hx, greatest(length(hx) - 63, 1), 64)
                 || CAST(length(hx) // 128 AS VARCHAR)) AS edge_sketch
      FROM (SELECT doc_id, lower(hex(payload)) AS hx FROM corpus)
    )
    SELECT payload_md5,
           min(edge_sketch) AS edge_sketch,
           min(doc_id) AS keep_id,
           count(*) AS n_copies
    FROM keyed GROUP BY payload_md5
    """,
)
def llm_multimodal_dedup(spark, sf_dir):
    d = load(spark, sf_dir, "documents")
    mk = lambda df: df.select(  # noqa: E731
        "doc_id", F.encode("text", "utf-8").alias("payload")
    )
    corpus = mk(d).unionAll(
        mk(
            d.filter(F.col("doc_id") % 6 == 0).withColumn(
                "doc_id", F.col("doc_id") + 400000
            )
        )
    )
    # DuckDB (1.0) has neither md5(BLOB) nor substring(BLOB, …): BOTH
    # engines therefore work on the lowercase-HEX spelling of the bytes —
    # head/tail slices are 64 hex chars = 32 bytes, the size bucket is
    # hex-length // 128 = bytes // 64. Equivalent keys, engine-portable.
    hexed = corpus.select(
        "doc_id", F.lower(F.hex("payload")).alias("hx")
    )
    hl = F.length("hx")
    keyed = hexed.select(
        "doc_id",
        F.md5("hx").alias("payload_md5"),
        F.md5(
            F.concat(
                F.substring("hx", 1, 64),
                F.expr("substring(hx, greatest(length(hx) - 63, 1), 64)"),
                F.expr("CAST(length(hx) div 128 AS STRING)"),
            )
        ).alias("edge_sketch"),
    )
    return keyed.groupBy("payload_md5").agg(
        F.min("edge_sketch").alias("edge_sketch"),
        F.min("doc_id").alias("keep_id"),
        F.count(F.lit(1)).alias("n_copies"),
    )


@query(
    "llm_snapshot_diff",
    # Dataset-version diff — the audit between two corpus snapshots
    # (what changed since the last training run): FULL OUTER join on
    # doc_id comparing content hashes → added / removed / changed /
    # unchanged. Snapshot B is derived deterministically from A (every
    # 11th doc dropped, every 9th edited, 50 synthetic docs added) so
    # every branch is exercised. The join compares 16-byte md5s, never
    # text; one hash-partitioned full-outer join + a codegen CASE — at
    # 100 TB this is the cheap nightly integrity check before kicking
    # off a re-train.
    oracle="""
    WITH a AS (SELECT doc_id, md5(text) AS h FROM documents),
    b AS (
      SELECT doc_id,
             CASE WHEN doc_id % 9 = 0 THEN md5(text || ' EDIT')
                  ELSE md5(text) END AS h
      FROM documents WHERE doc_id % 11 != 0
      UNION ALL
      SELECT 900000 + i, md5('new doc ' || CAST(i AS VARCHAR))
      FROM unnest(generate_series(1, 50)) AS t(i)
    )
    SELECT coalesce(a.doc_id, b.doc_id) AS doc_id,
           CASE WHEN a.doc_id IS NULL THEN 'added'
                WHEN b.doc_id IS NULL THEN 'removed'
                WHEN a.h != b.h THEN 'changed'
                ELSE 'unchanged' END AS status
    FROM a FULL OUTER JOIN b ON a.doc_id = b.doc_id
    """,
)
def llm_snapshot_diff(spark, sf_dir):
    d = load(spark, sf_dir, "documents")
    a = d.select("doc_id", F.md5("text").alias("h"))
    edited = d.filter(F.col("doc_id") % 11 != 0).select(
        "doc_id",
        F.when(
            F.col("doc_id") % 9 == 0,
            F.md5(F.concat(F.col("text"), F.lit(" EDIT"))),
        )
        .otherwise(F.md5("text"))
        .alias("h"),
    )
    new = spark.range(1, 51).select(
        (F.col("id") + 900000).alias("doc_id"),
        F.md5(F.concat(F.lit("new doc "), F.col("id").cast("string"))).alias(
            "h"
        ),
    )
    b = edited.unionAll(new)
    a2 = a.select(F.col("doc_id").alias("a_id"), F.col("h").alias("a_h"))
    b2 = b.select(F.col("doc_id").alias("b_id"), F.col("h").alias("b_h"))
    j = a2.join(b2, a2["a_id"] == b2["b_id"], "full_outer")
    status = (
        F.when(F.col("a_id").isNull(), "added")
        .when(F.col("b_id").isNull(), "removed")
        .when(F.col("a_h") != F.col("b_h"), "changed")
        .otherwise("unchanged")
    )
    return j.select(
        F.coalesce(F.col("a_id"), F.col("b_id")).alias("doc_id"),
        status.alias("status"),
    )


def _banding_sql(nbands: int, rows: int) -> str:
    """Band-hash CTE rows for one (bands × rows-per-band) config over the
    8 MinHash signatures: band i hashes the concat of its `rows` sigs."""
    parts = []
    for b in range(nbands):
        sig_concat = " || ".join(
            f"sig{b * rows + j}" for j in range(rows)
        )
        parts.append(
            f"SELECT doc_id, {b} AS band, md5({sig_concat}) AS bh FROM psigs"
        )
    return " UNION ALL ".join(parts)


@query(
    "llm_lsh_banding_sweep",
    # The banding-parameter sweep that PICKS the LSH config before a
    # 100 TB dedup: recall of the planted near-dup pairs under 8×1, 4×2
    # and 2×4 (bands × rows) over the SAME 8 MinHash signatures —
    # the S-curve P(candidate) = 1 − (1 − j^r)^b made empirical. More
    # rows per band = higher precision / lower recall; this key measures
    # the recall side on the planted corpus (llm_lsh_precision_recall's
    # construction), per config, in one signature pass. Each config is a
    # band equi-join — never all-pairs.
    oracle=f"""
    WITH {_PLANTED_SH_SQL},
    psigs AS (SELECT doc_id,
             {_SIG_COLS_SQL} FROM sh),
    planted AS (
      SELECT s1.doc_id AS ia, s2.doc_id AS ib
      FROM sh s1 JOIN sh s2 ON s2.doc_id = s1.doc_id + 300000
    ),
    b81 AS ({_banding_sql(8, 1)}),
    b42 AS ({_banding_sql(4, 2)}),
    b24 AS ({_banding_sql(2, 4)}),
    c81 AS (SELECT DISTINCT a.doc_id AS ia, b.doc_id AS ib FROM b81 a
            JOIN b81 b ON a.band = b.band AND a.bh = b.bh
                       AND a.doc_id < b.doc_id),
    c42 AS (SELECT DISTINCT a.doc_id AS ia, b.doc_id AS ib FROM b42 a
            JOIN b42 b ON a.band = b.band AND a.bh = b.bh
                       AND a.doc_id < b.doc_id),
    c24 AS (SELECT DISTINCT a.doc_id AS ia, b.doc_id AS ib FROM b24 a
            JOIN b24 b ON a.band = b.band AND a.bh = b.bh
                       AND a.doc_id < b.doc_id)
    SELECT * FROM (
      SELECT 8 AS bands, 1 AS rows_per_band,
             (SELECT count(*) FROM c81) AS n_candidates,
             round((SELECT count(*) FROM planted p JOIN c81 c
                    ON c.ia = p.ia AND c.ib = p.ib) * 1.0
                   / (SELECT count(*) FROM planted), 6) AS recall
      UNION ALL
      SELECT 4, 2, (SELECT count(*) FROM c42),
             round((SELECT count(*) FROM planted p JOIN c42 c
                    ON c.ia = p.ia AND c.ib = p.ib) * 1.0
                   / (SELECT count(*) FROM planted), 6)
      UNION ALL
      SELECT 2, 4, (SELECT count(*) FROM c24),
             round((SELECT count(*) FROM planted p JOIN c24 c
                    ON c.ia = p.ia AND c.ib = p.ib) * 1.0
                   / (SELECT count(*) FROM planted), 6)
    )
    """,
)
def llm_lsh_banding_sweep(spark, sf_dir):
    # reused by all three configs — compute once
    sigs = pin(_minhash(_planted_shingles(spark, sf_dir)).drop("sset"))
    # r16 opt (guide §1.2): planted pairs derive from doc_ids alone, and
    # sigs (checkpointed above) carries exactly sh's doc_ids — deriving
    # planted from sigs instead of sh stops every planted use (1 count +
    # 3 semi-joins) from re-running the shingle+variant transform from
    # parquet (~8 recomputes of the most expensive projection, measured
    # 10.9 s build at sf0.1).
    ids = sigs.select("doc_id")
    s1 = ids.select(F.col("doc_id").alias("ia"))
    s2 = ids.select(
        (F.col("doc_id") - 300000).alias("ia"), F.col("doc_id").alias("ib")
    )
    planted = s1.join(s2, "ia").select("ia", "ib")
    n_planted = planted.count()

    def config(nbands: int, rows: int):
        # the production band construction, parameterized by banding
        # config — shared with llm_neardup_lsh so the sweep measures
        # the real thing (r16 review); two counts below — candidate set
        # computed once
        bands = _band_buckets(sigs, nbands, rows)
        cand = scoped_persist(_band_pairs(bands).toDF("ia", "ib"))
        n_cand = cand.count()
        n_rec = planted.join(cand, ["ia", "ib"], "left_semi").count()
        # NULL recall when nothing is planted (DuckDB x/0 → NULL parity)
        rec = round(n_rec / n_planted, 6) if n_planted else None
        return (nbands, rows, n_cand, rec)

    rows = [config(8, 1), config(4, 2), config(2, 4)]
    return spark.createDataFrame(
        rows,
        "bands int, rows_per_band int, n_candidates bigint, recall double",
    )


@query(
    "llm_ngram_novelty",
    # N-gram novelty scoring — the memorization/diversity signal: for
    # each doc (in doc_id order, the corpus's arrival order), what
    # fraction of its distinct 3-grams has never appeared in ANY earlier
    # doc. First-occurrence is a per-ngram min(doc_id) — one map-side-
    # combined groupBy on the ngram hash — joined back to the per-doc
    # ngram sets; novelty = |ngrams where min == self| / |ngrams|. At
    # 100 TB both sides shuffle once on the 16-byte ngram hash; nothing
    # is quadratic and no ordering is global (min() is order-free).
    oracle="""
    WITH g AS (
      SELECT DISTINCT doc_id,
             md5(array_to_string(string_split(text, ' ')[i:i+2], ' '))
               AS h
      FROM documents,
           LATERAL unnest(generate_series(
             1, len(string_split(text, ' ')) - 2)) AS t(i)
      WHERE len(string_split(text, ' ')) >= 3
    ),
    first_seen AS (SELECT h, min(doc_id) AS first_doc FROM g GROUP BY h)
    SELECT g.doc_id,
           count(*) AS n_ngrams,
           CAST(sum(CASE WHEN f.first_doc = g.doc_id THEN 1 ELSE 0 END)
                AS BIGINT) AS n_novel,
           round(CAST(sum(CASE WHEN f.first_doc = g.doc_id
                               THEN 1 ELSE 0 END) AS DOUBLE)
                 / count(*), 6) AS novelty
    FROM g JOIN first_seen f ON f.h = g.h
    GROUP BY g.doc_id
    """,
)
def llm_ngram_novelty(spark, sf_dir):
    d = load(spark, sf_dir, "documents")
    # r16 opt (guide §2.3/§2.4): the old spelling exploded the ngram INDEX
    # and carried the doc's whole word array on every exploded row (one
    # array copy per ngram), then paid a full (doc_id, h) distinct
    # exchange. Now the per-doc distinct ngram-hash SET is built in one
    # map-side projection (transform → array_distinct — same dedup the
    # global distinct did, since hashes were distinct per doc) and only
    # 16-byte-hash rows are ever exploded or shuffled.
    # r16 opt (guide §5): g feeds BOTH the first-seen aggregate and the
    # join probe side — without the (scoped) persist the split + per-
    # ngram md5 transform ran twice. Persisted rows are (doc_id, 16-byte
    # hash), never text.
    g = scoped_persist(
        d.select("doc_id", F.split("text", " ").alias("w"))
        .filter(F.size("w") >= 3)
        .select(
            "doc_id",
            F.explode(
                F.array_distinct(
                    F.expr(
                        "transform(sequence(1, size(w) - 2),"
                        " i -> md5(array_join(slice(w, i, 3), ' ')))"
                    )
                )
            ).alias("h"),
        )
    )
    first_seen = g.groupBy("h").agg(F.min("doc_id").alias("first_doc"))
    joined = g.join(first_seen, "h")
    novel = F.sum(
        F.when(F.col("first_doc") == F.col("doc_id"), 1).otherwise(0)
    )
    return joined.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("n_ngrams"),
        novel.cast("bigint").alias("n_novel"),
        F.round(novel.cast("double") / F.count(F.lit(1)), 6).alias(
            "novelty"
        ),
    )


@query(
    "llm_corpus_health_report",
    # The per-language corpus health report — the one-page rollup a data
    # lead reads before signing off a release: doc counts, quality-gate
    # keep share (the llm_quality_ensemble thresholds), and mean word
    # entropy, per language. Composition by CONSTRUCTION: the doc-level
    # signal pass is the ensemble's (same thresholds, same rounding),
    # then one grid-sized groupBy(lang) — demonstrating that report
    # queries reuse operator internals instead of re-deriving them. The
    # mean-of-rounded-entropies carries its own round(6) hedge.
    oracle="""
    WITH toks AS (
      SELECT doc_id, unnest(string_split(text, ' ')) AS tok FROM documents
    ),
    tc AS (
      SELECT doc_id, tok, count(*) AS c FROM toks GROUP BY doc_id, tok
    ),
    s AS (
      SELECT doc_id,
             round(CAST(count(*) AS DOUBLE) / sum(c), 6) AS ttr,
             round(CAST(max(c) AS DOUBLE) / sum(c), 6) AS top_share,
             round(ln(CAST(sum(c) AS DOUBLE))
                   - sum(c * ln(CAST(c AS DOUBLE))) / sum(c), 6) AS entropy
      FROM tc GROUP BY doc_id
    )
    SELECT d.lang,
           count(*) AS n_docs,
           CAST(sum(CASE WHEN d.n_chars BETWEEN 100 AND 500
                          AND s.ttr >= 0.35 AND s.top_share <= 0.12
                          AND s.entropy >= 2.5 THEN 1 ELSE 0 END)
                AS BIGINT) AS n_keep,
           round(CAST(sum(CASE WHEN d.n_chars BETWEEN 100 AND 500
                               AND s.ttr >= 0.35 AND s.top_share <= 0.12
                               AND s.entropy >= 2.5 THEN 1 ELSE 0 END)
                      AS DOUBLE) / count(*), 6) AS keep_share,
           round(avg(s.entropy), 6) AS mean_entropy
    FROM documents d JOIN s ON s.doc_id = d.doc_id
    GROUP BY d.lang
    """,
)
def llm_corpus_health_report(spark, sf_dir):
    d = load(spark, sf_dir, "documents")
    toks = d.select("doc_id", F.explode(F.split("text", " ")).alias("tok"))
    tc = toks.groupBy("doc_id", "tok").agg(F.count(F.lit(1)).alias("c"))
    n = F.sum("c")
    s = tc.groupBy("doc_id").agg(
        r6(F.count(F.lit(1)).cast("double") / n).alias("ttr"),
        r6(F.max("c").cast("double") / n).alias("top_share"),
        r6(
            F.log(n.cast("double"))
            - F.sum(F.col("c") * F.log(F.col("c").cast("double"))) / n
        ).alias("entropy"),
    )
    keep = (
        F.col("n_chars").between(100, 500)
        & (F.col("ttr") >= 0.35)
        & (F.col("top_share") <= 0.12)
        & (F.col("entropy") >= 2.5)
    )
    keep_i = F.when(keep, 1).otherwise(0)
    return (
        d.select("doc_id", "lang", "n_chars")
        .join(s, "doc_id")
        .groupBy("lang")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum(keep_i).cast("bigint").alias("n_keep"),
            r6(F.sum(keep_i).cast("double") / F.count(F.lit(1))).alias(
                "keep_share"
            ),
            r6(F.avg("entropy")).alias("mean_entropy"),
        )
    )
