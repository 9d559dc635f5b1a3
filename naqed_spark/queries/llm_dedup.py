"""§2-K extensions, round 3: PII scrubbing and end-to-end dedup clustering.

llm_pii_scrub is the redaction pass every pretraining pipeline runs before
tokenization; llm_dedup_groups closes the near-dup loop — pair detection
(llm_neardup_lsh) → connected components → one canonical keep_id per
cluster — which is the operator a user actually runs to deduplicate a
corpus (pairs alone don't tell you which rows to drop).

Scale notes: the scrub is a pure per-row expression scan (JVM regex inside
whole-stage codegen, no UDF); the clustering runs min-label propagation on
the PAIR graph only — near-dup clusters are tiny and sparse, so the
iteration state is |docs-in-any-pair| rows, a vanishing fraction of the
corpus, and each round is one shuffle on the label key.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from naqed_spark.queries._util import load, pin, scoped_persist, spread, unpin
from naqed_spark.queries.llm import (
    _BANDS_SQL,
    _CAND_SQL,
    _SHINGLES_SQL,
    _SIG_COLS_SQL,
    llm_neardup_lsh,
)
from naqed_spark.registry import query

# [.] instead of \. — identical in Java regex and RE2, and immune to the
# engines' different string-literal escaping rules.
_EMAIL_PAT = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+[.][A-Za-z]{2,}"
_LONGNUM_PAT = "[0-9]{9,}"


@query(
    "llm_pii_scrub",
    # the fixture corpus carries no PII, so the scrub runs over a corpus
    # with synthetic PII injected deterministically per doc (an email and a
    # 10-digit number appended); redaction counts and the md5 of the
    # redacted text verify the rewrite byte-for-byte. DuckDB regexp_replace
    # needs the 'g' flag to match Spark's replace-all default.
    oracle=f"""
    WITH pii AS (
      SELECT doc_id,
             text || ' contact-' || doc_id ||
               '@example.com ph 555123' || (4000000 + doc_id) AS t
      FROM documents WHERE text IS NOT NULL
    )
    SELECT doc_id,
           len(regexp_extract_all(t, '{_EMAIL_PAT}')) AS n_emails,
           len(regexp_extract_all(t, '{_LONGNUM_PAT}')) AS n_longnums,
           md5(regexp_replace(regexp_replace(t, '{_EMAIL_PAT}', '[EMAIL]', 'g'),
                              '{_LONGNUM_PAT}', '[NUM]', 'g')) AS clean_md5,
           length(regexp_replace(regexp_replace(t, '{_EMAIL_PAT}', '[EMAIL]', 'g'),
                                 '{_LONGNUM_PAT}', '[NUM]', 'g')) AS clean_len
    FROM pii
    """,
)
def llm_pii_scrub(spark, sf_dir):
    # null-text rows carry nothing to scrub and diverge on size(NULL)
    # semantics — excluded identically in both engines
    d = load(spark, sf_dir, "documents").filter(F.col("text").isNotNull())
    t = F.concat(
        F.col("text"),
        F.lit(" contact-"),
        F.col("doc_id").cast("string"),
        F.lit("@example.com ph 555123"),
        (F.col("doc_id") + 4000000).cast("string"),
    )
    clean = F.regexp_replace(
        F.regexp_replace(t, _EMAIL_PAT, "[EMAIL]"), _LONGNUM_PAT, "[NUM]"
    )
    return d.select(
        "doc_id",
        F.size(F.regexp_extract_all(t, F.lit(_EMAIL_PAT), F.lit(0))).alias(
            "n_emails"
        ),
        F.size(F.regexp_extract_all(t, F.lit(_LONGNUM_PAT), F.lit(0))).alias(
            "n_longnums"
        ),
        F.md5(clean).alias("clean_md5"),
        F.length(clean).alias("clean_len"),
    )


@query(
    "llm_dedup_groups",
    # components of the LSH near-dup pair graph (same CTE chain as
    # llm_neardup_lsh), canonical keep_id = min doc_id per component via
    # transitive closure; n_members joins back per cluster.
    oracle=f"""
    WITH RECURSIVE sh AS ({_SHINGLES_SQL}),
    sigs AS (SELECT doc_id, sset, {_SIG_COLS_SQL} FROM sh),
    bands AS ({_BANDS_SQL}),
    cand AS ({_CAND_SQL}),
    pairs AS (
      SELECT id_a, id_b FROM cand
      JOIN sigs sa ON sa.doc_id = id_a
      JOIN sigs sb ON sb.doc_id = id_b
      WHERE CAST(len(list_intersect(sa.sset, sb.sset)) AS DOUBLE)
            / len(list_distinct(sa.sset || sb.sset)) >= 0.2
    ),
    sym AS (SELECT id_a AS src, id_b AS dst FROM pairs
            UNION SELECT id_b, id_a FROM pairs),
    verts AS (SELECT DISTINCT src AS v FROM sym),
    reach(v, u) AS (
      SELECT v, v FROM verts
      UNION
      SELECT reach.v, sym.dst FROM reach JOIN sym ON sym.src = reach.u
    ),
    comp AS (SELECT v AS doc_id, min(u) AS keep_id FROM reach GROUP BY v)
    SELECT c.doc_id, c.keep_id, s.n_members
    FROM comp c
    JOIN (SELECT keep_id, count(*) AS n_members FROM comp GROUP BY keep_id) s
      ON s.keep_id = c.keep_id
    """,
)
def llm_dedup_groups(spark, sf_dir):
    """Min-label propagation to fixpoint over the near-dup pair graph
    (composition: the pairs come from the registered llm_neardup_lsh
    implementation). Emits (doc_id, keep_id, n_members) for every doc that
    appears in at least one near-dup pair; dropping rows with
    doc_id != keep_id IS the dedup."""
    from naqed_spark.queries.graph import _symmetric, min_labels

    pairs = llm_neardup_lsh(spark, sf_dir).select("id_a", "id_b")
    sym = pin(_symmetric(pairs.toDF("src", "dst"), "src", "dst"))
    # a near-dup component of diameter > 20 raises rather than return
    # non-minimal labels the oracle's transitive closure would not match
    verts = sym.select(F.col("src").alias("v")).distinct()
    labels = min_labels(spark, verts, sym, "llm_dedup_groups")
    unpin(spark, [sym])  # the labels are a checkpoint: sym is consumed
    comp = labels.select(
        F.col("v").alias("doc_id"), F.col("lab").alias("keep_id")
    )
    sizes = comp.groupBy("keep_id").agg(F.count(F.lit(1)).alias("n_members"))
    return comp.join(sizes, "keep_id").select("doc_id", "keep_id", "n_members")


@query(
    "llm_simhash_neardup",
    # SimHash near-dup pairing over the truncation-dup corpus (same corpus
    # construction as llm_ngram_jaccard): signatures banded into 4 x 15-bit
    # chunks, candidates = pairs agreeing on >= 1 chunk (a <= 3-bit
    # difference ALWAYS leaves one chunk intact — the pigeonhole guarantee),
    # then exact Hamming distance <= 3 verified on candidates only. The
    # banding makes this an equality join, not an all-pairs compare.
    oracle=f"""
    WITH corpus AS (
      SELECT doc_id, text FROM documents
      UNION ALL
      SELECT doc_id + 1000000,
             array_to_string(string_split(text, ' ')[1:len(string_split(text, ' ')) - 1], ' ')
      FROM documents
    ),
    {{simhash}},
    bands AS (
      SELECT doc_id, b.b AS band, substr(simhash, 1 + 15 * b.b, 15) AS chunk
      FROM sigs, (SELECT unnest(range(0, 4)) AS b) b
    ),
    cand AS (
      SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
      FROM bands a JOIN bands b
        ON a.band = b.band AND a.chunk = b.chunk AND a.doc_id < b.doc_id
    )
    SELECT id_a, id_b,
           len(list_filter(range(1, 61),
               i -> substr(sa.simhash, i, 1) <> substr(sb.simhash, i, 1)))
             AS hamming
    FROM cand
    JOIN sigs sa ON sa.doc_id = id_a
    JOIN sigs sb ON sb.doc_id = id_b
    WHERE len(list_filter(range(1, 61),
              i -> substr(sa.simhash, i, 1) <> substr(sb.simhash, i, 1))) <= 3
    """.format(simhash=__import__("naqed_spark.queries.llm_ext", fromlist=["simhash_ctes"]).simhash_ctes("corpus")),
)
def llm_simhash_neardup(spark, sf_dir):
    from naqed_spark.queries.llm_ext import simhash_of

    d = load(spark, sf_dir, "documents").select("doc_id", "text")
    w = F.split("text", " ")
    trunc = F.array_join(F.slice(w, F.lit(1), F.size(w) - 1), " ")
    corpus = d.unionByName(
        d.select(
            (F.col("doc_id") + 1000000).alias("doc_id"), trunc.alias("text")
        )
    )
    sigs = scoped_persist(simhash_of(corpus))
    bands = sigs.select(
        "doc_id",
        "simhash",
        F.explode(F.array(*[F.lit(b) for b in range(4)])).alias("band"),
    ).select(
        "doc_id",
        "band",
        F.expr("substring(simhash, 1 + 15 * band, 15)").alias("chunk"),
    )
    cand = (
        bands.alias("a")
        .join(
            bands.alias("b"),
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.chunk") == F.col("b.chunk"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(
            F.col("a.doc_id").alias("id_a"), F.col("b.doc_id").alias("id_b")
        )
        .distinct()
    )
    # r16 opt (guide §4.1 "built-ins over per-element work"): the exact
    # Hamming verify was an interpreted 60-element HOF (two substrings per
    # position per pair, evaluated again for the emit). The 60-char
    # '0'/'1' signature IS a 60-bit integer: parse each side once
    # (conv base-2), then hamming = bit_count(a XOR b) — one codegen
    # expression per pair, bit-identical to the per-character count.
    sa = sigs.select(
        F.col("doc_id").alias("id_a"),
        F.conv("simhash", 2, 10).cast("long").alias("va"),
    )
    sb = sigs.select(
        F.col("doc_id").alias("id_b"),
        F.conv("simhash", 2, 10).cast("long").alias("vb"),
    )
    ham = F.bit_count(F.col("va").bitwiseXOR(F.col("vb")))
    return (
        cand.join(sa, "id_a")
        .join(sb, "id_b")
        .filter(ham <= 3)
        .select("id_a", "id_b", ham.alias("hamming"))
    )


@query(
    "llm_chunk_windows",
    # fixed-size token chunking with overlap (64-token windows, stride 48)
    # — the sequence-packing precursor every training pipeline runs. Pure
    # relational: per-doc start positions are a strided sequence, the chunk
    # is an array slice; chunks verified by md5 of the joined text.
    oracle="""
    WITH d AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents
               WHERE text IS NOT NULL)
    SELECT doc_id,
           (s - 1) // 48 AS chunk_idx,
           len(w[s:s + 63]) AS n_toks,
           md5(array_to_string(w[s:s + 63], ' ')) AS chunk_md5
    FROM d, unnest(range(1, len(w) + 1, 48)) AS u(s)
    """,
)
def llm_chunk_windows(spark, sf_dir):
    # null text must be excluded BEFORE sequence(): size(NULL) is -1 and
    # sequence(1, -1, 48) throws — the round-9 null-probe crash.
    # r17 opt (guide §2.5): the plan has NO exchange, so the whole
    # split/slice/md5-per-chunk pipeline ran on the single-split scan
    # task — spread to defaultParallelism above the per-row work.
    d = (
        spread(load(spark, sf_dir, "documents").select("doc_id", "text"))
        .filter(F.col("text").isNotNull())
        .select("doc_id", F.split("text", " ").alias("w"))
    )
    return (
        d.select(
            "doc_id",
            "w",
            F.explode(
                F.sequence(F.lit(1), F.size("w"), F.lit(48))
            ).alias("s"),
        )
        .select(
            "doc_id",
            ((F.col("s") - 1) / 48).cast("long").alias("chunk_idx"),
            F.slice("w", F.col("s"), F.lit(64)).alias("chunk"),
        )
        .select(
            "doc_id",
            "chunk_idx",
            F.size("chunk").alias("n_toks"),
            F.md5(F.array_join("chunk", " ")).alias("chunk_md5"),
        )
    )


@query(
    "llm_train_split",
    # deterministic hash split into train/val/test (80/10/10): the bucket is
    # the first two md5 hex digits of the doc id modulo 100 — stable across
    # engines, runs, and cluster sizes, and independent of row order (the
    # property random() splits lack).
    oracle="""
    SELECT doc_id,
           b AS bucket,
           CASE WHEN b < 80 THEN 'train'
                WHEN b < 90 THEN 'val'
                ELSE 'test' END AS split
    FROM (
      SELECT doc_id,
             ((instr('0123456789abcdef',
                     substr(md5(CAST(doc_id AS VARCHAR)), 1, 1)) - 1) * 16
              + instr('0123456789abcdef',
                      substr(md5(CAST(doc_id AS VARCHAR)), 2, 1)) - 1) % 100
               AS b
      FROM documents)
    """,
)
def llm_train_split(spark, sf_dir):
    d = load(spark, sf_dir, "documents")
    b = (
        F.expr(
            "((instr('0123456789abcdef',"
            " substring(md5(CAST(doc_id AS STRING)), 1, 1)) - 1) * 16"
            " + instr('0123456789abcdef',"
            " substring(md5(CAST(doc_id AS STRING)), 2, 1)) - 1) % 100"
        )
    ).alias("bucket")
    return d.select("doc_id", b).select(
        "doc_id",
        "bucket",
        F.when(F.col("bucket") < 80, "train")
        .when(F.col("bucket") < 90, "val")
        .otherwise("test")
        .alias("split"),
    )


@query(
    "llm_normalized_dedup",
    # Normalization-aware dedup: lowercase, strip punctuation, collapse
    # whitespace, THEN group — catches trivially-reformatted duplicates
    # exact dedup misses (the standard first rung of the dedup ladder,
    # below MinHash). The normalized form is md5'd so the shuffle moves
    # 16-byte keys; groups keep the min doc_id and per-variant count.
    # The corpus gains deterministic case/punct variants of every 5th
    # doc (the llm_exact_dedup replay discipline) so both branches are
    # exercised.
    oracle="""
    WITH corpus AS (
      SELECT doc_id, text FROM documents
      UNION ALL
      SELECT doc_id + 200000, upper(text) || ' !!' FROM documents
      WHERE doc_id % 5 = 0
    ),
    norm AS (
      SELECT doc_id,
             md5(trim(regexp_replace(
               regexp_replace(lower(text), '[^a-z0-9 ]', '', 'g'),
               ' +', ' ', 'g'))) AS nh
      FROM corpus
    )
    SELECT nh, min(doc_id) AS keep_id, count(*) AS n_variants
    FROM norm GROUP BY nh
    """,
)
def llm_normalized_dedup(spark, sf_dir):
    d = load(spark, sf_dir, "documents")
    variants = d.filter(F.col("doc_id") % 5 == 0).select(
        (F.col("doc_id") + 200000).alias("doc_id"),
        F.concat(F.upper("text"), F.lit(" !!")).alias("text"),
    )
    corpus = d.select("doc_id", "text").unionAll(variants)
    nh = F.md5(
        F.trim(
            F.regexp_replace(
                F.regexp_replace(F.lower(F.col("text")), "[^a-z0-9 ]", ""),
                " +",
                " ",
            )
        )
    )
    return (
        corpus.select("doc_id", nh.alias("nh"))
        .groupBy("nh")
        .agg(
            F.min("doc_id").alias("keep_id"),
            F.count(F.lit(1)).alias("n_variants"),
        )
    )


@query(
    "llm_dedup_keep_best",
    # Dedup with a QUALITY keep-policy: within each normalized-text
    # group, keep the variant with the most content (n_chars, doc_id
    # tiebreak) instead of llm_normalized_dedup's min-id rule — the
    # policy choice that decides what survives a 100 TB dedup (min-id
    # keeps whatever crawled first; keep-best keeps the fullest copy).
    # Spelled (r16) as ONE aggregate: min(struct(-n_chars, doc_id)) is
    # the same argmax under the same deterministic total order, and the
    # variant count rides the identical exchange — one partial+final
    # hash-agg pair, no window sort, no join (plan pinned in
    # tests/test_plans.py). Corpus replays case/punct variants (every
    # 5th doc) like llm_normalized_dedup — the variants are LONGER
    # (+ ' !!'), so keep-best provably picks differently than keep-min.
    oracle="""
    WITH corpus AS (
      SELECT doc_id, text FROM documents WHERE text IS NOT NULL
      UNION ALL
      SELECT doc_id + 200000, upper(text) || ' !!' FROM documents
      WHERE doc_id % 5 = 0 AND text IS NOT NULL
    ),
    norm AS (
      SELECT doc_id, length(text) AS n_chars,
             md5(trim(regexp_replace(
               regexp_replace(lower(text), '[^a-z0-9 ]', '', 'g'),
               ' +', ' ', 'g'))) AS nh
      FROM corpus
    )
    SELECT nh, doc_id AS keep_id, n_chars AS keep_chars, n_variants
    FROM (
      SELECT *, row_number() OVER (
               PARTITION BY nh
               ORDER BY n_chars DESC, doc_id ASC) AS rn,
             count(*) OVER (PARTITION BY nh) AS n_variants
      FROM norm
    ) WHERE rn = 1
    """,
)
def llm_dedup_keep_best(spark, sf_dir):
    # null text has no content hash — excluded identically in both engines
    d = load(spark, sf_dir, "documents").filter(F.col("text").isNotNull())
    variants = d.filter(F.col("doc_id") % 5 == 0).select(
        (F.col("doc_id") + 200000).alias("doc_id"),
        F.concat(F.upper("text"), F.lit(" !!")).alias("text"),
    )
    corpus = d.select("doc_id", "text").unionAll(variants)
    nh = F.md5(
        F.trim(
            F.regexp_replace(
                F.regexp_replace(F.lower(F.col("text")), "[^a-z0-9 ]", ""),
                " +",
                " ",
            )
        )
    )
    norm = corpus.select(
        "doc_id", F.length("text").alias("n_chars"), nh.alias("nh")
    )
    # r16 opt (guide §2.3/§2.4): the old spelling ran a rank-1 window
    # (one exchange) PLUS a separate count aggregate (second exchange)
    # PLUS a join to glue them. The argmax order (n_chars desc, doc_id
    # asc) is exactly lexicographic min of (-n_chars, doc_id) — doc_ids
    # are unique, so the selected row is identical — and min(struct)
    # rides the SAME aggregate as the count: one partial+final hash-agg
    # pair, ≤1 row per group per partition through the exchange, no
    # window sort, no join.
    best = norm.groupBy("nh").agg(
        F.count(F.lit(1)).alias("n_variants"),
        F.min(
            F.struct(
                (-F.col("n_chars")).alias("negc"),
                F.col("doc_id").alias("doc_id"),
            )
        ).alias("s"),
    )
    return best.select(
        "nh",
        F.col("s.doc_id").alias("keep_id"),
        (-F.col("s.negc")).alias("keep_chars"),
        "n_variants",
    )
