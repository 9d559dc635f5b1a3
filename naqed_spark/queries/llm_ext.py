"""§2-K extensions: the rest of the large-scale training-data toolkit.

Beyond the 11 contract keys in llm.py, these are the operators a 100 TB
pretraining-data pipeline runs daily (SimHash dedup, trained language-ID,
quality filtering, order-sensitive fingerprinting, IVF-style ANN, multimodal
binary decode plumbing). Each is registered like any contract key — full
DuckDB SQL twin unless noted.

Cross-engine determinism for hash-derived values: both engines share
lowercase-hex ``md5`` and 1-based ``instr``; a hex digit's value is
``instr('0123456789abcdef', ch) - 1``, so any quantity derived from md5
digits is bit-identical on both sides with pure integer arithmetic.
"""

from __future__ import annotations

from pyspark.sql import Window, functions as F

from naqed_spark.queries._util import (
    load,
    r6,
    scoped_persist,
    sorted_pairs_expr,
    spread,
)
from naqed_spark.queries.llm import _shingle_sets
from naqed_spark.registry import query

_HEX = "0123456789abcdef"

# value of the p-th hex digit (1-based) of md5(col) — identical SQL on both
# engines (instr + substr are 1-based in Spark SQL and DuckDB).
_MD5_DIGIT = f"(instr('{_HEX}', substr(md5({{col}}), {{p}}, 1)) - 1)"


def simhash_ctes(src: str) -> str:
    """DuckDB CTE chain ending in ``sigs(doc_id, simhash)`` over any
    (doc_id, text) relation ``src`` — shared with the simhash near-dup
    pairing in llm_dedup.py."""
    return f"""
    toks AS (
      SELECT DISTINCT doc_id, unnest(string_split(text, ' ')) AS tok
      FROM {src}
    ),
    bits AS (
      SELECT doc_id, tok, p.p, b.b,
             ({_MD5_DIGIT.format(col="tok", p="p.p")} >> b.b) & 1 AS bit
      FROM toks,
           (SELECT unnest(range(1, 16)) AS p) p,
           (SELECT unnest(range(0, 4)) AS b) b
    ),
    sums AS (
      SELECT doc_id, (p - 1) * 4 + b AS i,
             CASE WHEN sum(2 * bit - 1) >= 0 THEN '1' ELSE '0' END AS bit
      FROM bits GROUP BY doc_id, (p - 1) * 4 + b
    ),
    sigs AS (
      SELECT doc_id, string_agg(bit, '' ORDER BY i) AS simhash
      FROM sums GROUP BY doc_id
    )"""


def simhash_of(corpus):
    """(doc_id, simhash 60-bit string) for any (doc_id, text) DataFrame —
    the Spark twin of ``simhash_ctes``.

    r16 opt (guide §1.2/§2.3): the old spelling exploded every distinct
    (doc, token) row ×15 digit positions ×4 bit positions — 60 rows per
    token, with ``md5(tok)`` re-evaluated on EVERY one of them — then
    hash-aggregated the 60×-inflated stream twice (by (doc,i), then by
    doc). Now the md5 is computed once per token row and the 60 bit sums
    are 60 aggregate columns of ONE codegen hash aggregate on doc_id:
    identical arithmetic (sum(2·bit−1) ≥ 0 ⟺ 2·Σbit − n_toks ≥ 0, exact
    integers), 1/60th the aggregated rows, one exchange instead of two,
    zero interpreted HOFs. The DuckDB CTE keeps the explode spelling —
    cross-engine equality is exactly what the oracle hash checks."""
    toks = corpus.select(
        "doc_id", F.explode(F.split("text", " ")).alias("tok")
    ).distinct()
    # Expressions are built as SQL strings in three batched selectExpr/agg
    # calls: 60 individually-constructed Column objects cost ~10 py4j
    # round trips each (~1 s of pure driver chatter per build, measured —
    # Catalyst itself optimizes this plan in <0.1 s).
    hashed = toks.selectExpr("doc_id", "md5(tok) AS h")
    digits = hashed.selectExpr(
        "doc_id",
        *[
            f"(instr('{_HEX}', substr(h, {p}, 1)) - 1) AS d{p}"
            for p in range(1, 16)
        ],
    )
    agg = digits.groupBy("doc_id").agg(
        F.expr("count(1) AS n_toks"),
        *[
            F.expr(f"sum((d{p} >> {b}) & 1) AS s{(p - 1) * 4 + b}")
            for p in range(1, 16)
            for b in range(4)
        ],
    )
    bit_chars = ", ".join(
        f"(CASE WHEN 2 * s{i} - n_toks >= 0 THEN '1' ELSE '0' END)"
        for i in range(60)
    )
    return agg.selectExpr("doc_id", f"concat({bit_chars}) AS simhash")


@query(
    "llm_simhash",
    # 60-bit SimHash over distinct tokens: per bit i = (p-1)*4 + b of the
    # first 15 md5 hex digits, sum +-1 across a doc's tokens; sign -> bit.
    # Near-dup docs differ in few bits (paired in llm_simhash_neardup).
    oracle=f"""
    WITH {simhash_ctes("documents")}
    SELECT doc_id, simhash FROM sigs
    """,
)
def llm_simhash(spark, sf_dir):
    """Fully JVM-side (whole-stage codegen): the 60x bit expansion is
    linear in tokens and partially aggregated map-side before the single
    doc_id shuffle — at 100 TB this is a scan-shaped job, no skew."""
    return simhash_of(load(spark, sf_dir, "documents").select("doc_id", "text"))


@query(
    "llm_langid_ngram",
    # trained unigram-profile language ID: per-language token counts from
    # the labeled corpus are the model; score(doc, lang) = sum over the
    # doc's tokens of freq(tok) * profile_count(lang, tok); argmax wins
    # (ties -> lang asc). Real systems use char 3-gram profiles — same
    # plan: tiny profile broadcast against a scan-shaped token stream.
    oracle="""
    WITH toks AS (
      SELECT doc_id, unnest(string_split(text, ' ')) AS tok FROM documents
    ),
    doc_tok AS (
      SELECT doc_id, tok, count(*) AS c FROM toks GROUP BY doc_id, tok
    ),
    profile AS (
      SELECT d.lang AS plang, t.tok, count(*) AS n
      FROM toks t JOIN documents d USING (doc_id)
      GROUP BY d.lang, t.tok
    ),
    scores AS (
      SELECT dt.doc_id, p.plang, CAST(sum(dt.c * p.n) AS BIGINT) AS score
      FROM doc_tok dt JOIN profile p USING (tok)
      GROUP BY dt.doc_id, p.plang
    )
    SELECT doc_id, plang AS pred_lang, score FROM (
      SELECT doc_id, plang, score,
             row_number() OVER (PARTITION BY doc_id
                                ORDER BY score DESC, plang ASC) AS rn
      FROM scores
    ) WHERE rn = 1
    """,
)
def llm_langid_ngram(spark, sf_dir):
    d = load(spark, sf_dir, "documents")
    toks = d.select(
        "doc_id", "lang", F.explode(F.split("text", " ")).alias("tok")
    )
    doc_tok = toks.groupBy("doc_id", "tok").agg(F.count(F.lit(1)).alias("c"))
    profile = toks.groupBy(
        F.col("lang").alias("plang"), "tok"
    ).agg(F.count(F.lit(1)).alias("n"))
    # the model is dictionary-sized at any corpus scale — broadcast it so
    # scoring never shuffles the token stream on tok.
    scores = doc_tok.join(F.broadcast(profile), "tok").groupBy(
        "doc_id", "plang"
    ).agg(F.sum(F.col("c") * F.col("n")).alias("score"))
    w = Window.partitionBy("doc_id").orderBy(
        F.col("score").desc(), F.col("plang").asc()
    )
    return (
        scores.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select("doc_id", F.col("plang").alias("pred_lang"), "score")
    )


# composite score in exact integer micro-units (0..1e6): float weights on
# rounded ratios land on exact half-1e-6 boundaries (e.g. 0.5186875), which
# the two engines round in opposite directions — integer arithmetic is the
# _util.py discipline applied to scores. Integer division is `div` in Spark
# SQL and `//` in DuckDB; inputs are non-negative so both floor identically.
_QUALITY_PPM_SPARK = """
    CAST(4000 * least(n_words, 100)
    + (300000 - (n_stop * 300000) div n_words)
    + least(((n_chars_m - (n_words - 1)) * 300000) div (8 * n_words), 300000)
    AS BIGINT)
"""
_QUALITY_PPM_DUCK = """
    CAST(4000 * least(n_words, 100)
    + (300000 - (n_stop * 300000) // n_words)
    + least(((n_chars_m - (n_words - 1)) * 300000) // (8 * n_words), 300000)
    AS BIGINT)
"""


@query(
    "llm_quality_score",
    # length / stopword / word-shape heuristics -> composite score in
    # micro-units [0, 1e6] (see _QUALITY_PPM_* above); the float ratio
    # columns are r6-hedged, the score itself is exact integer.
    oracle=f"""
    WITH base AS (
      SELECT doc_id,
             length(string_split(text, ' ')) AS n_words,
             length(text) AS n_chars_m,
             length(list_filter(string_split(text, ' '),
                    t -> t IN ('the', 'a', 'of', 'and', 'to'))) AS n_stop
      FROM documents WHERE text IS NOT NULL
    )
    SELECT doc_id, n_words,
           round(CAST(n_stop AS DOUBLE) / n_words, 6) AS stop_ratio,
           round(CAST(n_chars_m - (n_words - 1) AS DOUBLE) / n_words, 6)
             AS avg_word_len,
           {_QUALITY_PPM_DUCK} AS quality_ppm
    FROM base
    """,
)
def llm_quality_score(spark, sf_dir):
    # null text scores nothing (and size(NULL) is -1 Spark-side) —
    # excluded identically in both engines
    d = load(spark, sf_dir, "documents").filter(F.col("text").isNotNull())
    base = d.select(
        "doc_id",
        F.size(F.split("text", " ")).alias("n_words"),
        F.length("text").alias("n_chars_m"),
        F.size(
            F.filter(
                F.split("text", " "),
                lambda t: t.isin("the", "a", "of", "and", "to"),
            )
        ).alias("n_stop"),
    )
    return base.select(
        "doc_id",
        "n_words",
        r6(F.col("n_stop").cast("double") / F.col("n_words")).alias(
            "stop_ratio"
        ),
        r6(
            (F.col("n_chars_m") - (F.col("n_words") - 1)).cast("double")
            / F.col("n_words")
        ).alias("avg_word_len"),
        F.expr(_QUALITY_PPM_SPARK).alias("quality_ppm"),
    )


@query(
    "llm_doc_fingerprint",
    # order-sensitive document fingerprint: token value = first 4 md5 hex
    # digits (16-bit int), position weight = (pos * Knuth) % large prime —
    # reordering words changes the fingerprint, pure-integer arithmetic so
    # both engines agree exactly. (A classic Rabin rolling hash needs
    # modpow, which has no portable SQL form — this keeps the oracle twin.)
    oracle=f"""
    WITH toks AS (
      SELECT doc_id,
             generate_subscripts(string_split(text, ' '), 1) AS pos,
             unnest(string_split(text, ' ')) AS tok
      FROM documents
    ),
    vals AS (
      SELECT doc_id, pos,
             {_MD5_DIGIT.format(col="tok", p="1")} * 4096
             + {_MD5_DIGIT.format(col="tok", p="2")} * 256
             + {_MD5_DIGIT.format(col="tok", p="3")} * 16
             + {_MD5_DIGIT.format(col="tok", p="4")} AS v
      FROM toks
    )
    SELECT doc_id,
           CAST(sum(CAST(v AS BIGINT) * ((pos * 2654435761) % 1000003))
                AS BIGINT) AS fingerprint
    FROM vals GROUP BY doc_id
    """,
)
def llm_doc_fingerprint(spark, sf_dir):
    d = load(spark, sf_dir, "documents")
    toks = d.select(
        "doc_id", F.posexplode(F.split("text", " ")).alias("pos0", "tok")
    ).select("doc_id", (F.col("pos0") + 1).alias("pos"), "tok")
    v = (
        F.expr(_MD5_DIGIT.format(col="tok", p="1")) * 4096
        + F.expr(_MD5_DIGIT.format(col="tok", p="2")) * 256
        + F.expr(_MD5_DIGIT.format(col="tok", p="3")) * 16
        + F.expr(_MD5_DIGIT.format(col="tok", p="4"))
    )
    vals = toks.select("doc_id", "pos", v.alias("v"))
    return vals.groupBy("doc_id").agg(
        F.sum(
            F.col("v").cast("bigint")
            * ((F.col("pos") * F.lit(2654435761)) % 1000003)
        ).alias("fingerprint")
    )


# Trained IVF quantizer (round 4 — no fixture labels anywhere): k = ceil(
# sqrt(n)) cells, seeds = the k vectors ranked first by md5(vec_id) (a
# deterministic pseudo-random draw both engines compute identically), one
# Lloyd iteration (assign to seed -> retrain centroid as member mean ->
# reassign). Every emitted float is rounded to 6 decimals at the same
# points on both engines so assignments are bit-identical.
_IVF_SQL = """
  kk AS (
    SELECT CAST(ceil(sqrt(count(*))) AS BIGINT) AS k FROM embeddings
  ),
  seeds AS (
    SELECT vec_id,
           row_number() OVER (ORDER BY h, vec_id) AS cell
    FROM (
      SELECT vec_id, md5(CAST(vec_id AS VARCHAR)) AS h
      FROM embeddings
      ORDER BY h, vec_id
      LIMIT (SELECT k FROM kk)
    )
  ),
  x AS (
    SELECT vec_id,
           generate_subscripts(embedding, 1) AS pos,
           CAST(unnest(embedding) AS DOUBLE) AS val
    FROM embeddings
  ),
  c0 AS (
    SELECT s.cell, x.pos, x.val AS c
    FROM seeds s JOIN x ON x.vec_id = s.vec_id
  ),
  d0 AS (
    SELECT x.vec_id, c0.cell,
           round(sum((x.val - c0.c) * (x.val - c0.c)), 6) AS d2
    FROM x JOIN c0 USING (pos)
    GROUP BY x.vec_id, c0.cell
  ),
  a0 AS (
    SELECT vec_id, cell FROM (
      SELECT vec_id, cell,
             row_number() OVER (PARTITION BY vec_id
                                ORDER BY d2 ASC, cell ASC) AS rn
      FROM d0
    ) WHERE rn = 1
  ),
  cent AS (
    SELECT a0.cell, x.pos, round(avg(x.val), 6) AS c
    FROM a0 JOIN x USING (vec_id)
    GROUP BY a0.cell, x.pos
  ),
  dist AS (
    SELECT x.vec_id, cent.cell,
           round(sum((x.val - cent.c) * (x.val - cent.c)), 6) AS d2
    FROM x JOIN cent USING (pos)
    GROUP BY x.vec_id, cent.cell
  ),
  ranked AS (
    SELECT vec_id, cell, d2,
           row_number() OVER (PARTITION BY vec_id
                              ORDER BY d2 ASC, cell ASC) AS rn
    FROM dist
  )
"""


def _ivf_candidates(spark, sf_dir):
    """Trained-IVF candidate pairs ``(src, nbr)`` — the sub-quadratic pair
    generator behind ``llm_knn_ivf``, mirroring ``_IVF_SQL`` op-for-op.

    k = ceil(sqrt(n)) cells; seeds are the k vectors ranked first by
    md5(vec_id) — a deterministic draw, selected via orderBy+limit (Spark
    plans TakeOrdered: distributed top-k, never a global sort; the
    row_number that names the cells runs over the k seed rows only). One
    Lloyd iteration retrains the centroids from the seed assignment.

    r16 opt (guide §1.2 / §2.3): each distance pass used to posexplode
    every vector into dim rows and equi-join the exploded stream against
    the (cell, pos, c) centroid table — an n·k·dim-row join feeding an
    n·k-group hash aggregate, and the whole thing ran TWICE (seed pass +
    retrained pass) with `ranked` additionally instantiated for both the
    assigned and probes legs. Now centroids stay ARRAYS: distances are a
    k-row broadcast against the intact vector table with a zip_with fold
    (n·k rows total, dim-fold each — no 64× row inflation), only the
    one-pass retrain still explodes (it must average per dimension), and
    `ranked` is persisted for its two consumers. d² values are the same
    sum of per-dimension squares; the fold adds them in ascending-dim
    order while the old hash aggregate added join rows in arbitrary
    order — both land inside the r6 rounding hedge the key (and its
    DuckDB twin, which keeps the exploded spelling) already relies on.
    At cluster scale k outgrows a broadcast; you shard the cell table
    and the same per-(vector, cell-shard) fold applies."""
    import math

    e = load(spark, sf_dir, "embeddings")
    n = e.count()
    k = int(math.ceil(math.sqrt(n))) if n else 1
    hashed = e.select(
        "vec_id", F.md5(F.col("vec_id").cast("string")).alias("h")
    )
    top = hashed.orderBy("h", "vec_id").limit(k)
    seeds = top.select(
        "vec_id", F.row_number().over(Window.orderBy("h", "vec_id")).alias("cell")
    )
    v = e.select(
        "vec_id",
        F.expr("transform(embedding, x -> cast(x as double))").alias("e"),
        # r16 opt (guide §2.5 input parallelism): the embeddings file
        # scans as one split, so every n·k distance fold ran on a single
        # core. Round-robin to the scheduler's parallelism before the
        # k-way fan-out — the knob follows cluster size, and at 100 TB a
        # well-split input makes the repartition a near-no-op pass
        # compared to the k× fold work it parallelizes.
    ).repartition(spark.sparkContext.defaultParallelism)
    c0 = v.join(F.broadcast(seeds), "vec_id").select(
        "cell", F.col("e").alias("carr")
    )

    _D2 = (
        "aggregate(zip_with(e, carr, (a, b) -> (a - b) * (a - b)),"
        " 0D, (acc, x) -> acc + x)"
    )

    def assign(cent):
        d = v.crossJoin(F.broadcast(cent)).select(
            "vec_id", "cell", r6(F.expr(_D2)).alias("d2")
        )
        wr = Window.partitionBy("vec_id").orderBy(
            F.col("d2").asc(), F.col("cell").asc()
        )
        return d.withColumn("rn", F.row_number().over(wr))

    a0 = assign(c0).filter(F.col("rn") == 1).select("vec_id", "cell")
    cent = (
        v.select("vec_id", F.posexplode("e").alias("pos0", "val"))
        .join(a0, "vec_id")
        .groupBy("cell", "pos0")
        .agg(r6(F.avg("val")).alias("c"))
        .groupBy("cell")
        .agg(
            F.expr(
                "transform(array_sort(collect_list(struct(pos0, c))),"
                " s -> s.c)"
            ).alias("carr")
        )
    )
    ranked = scoped_persist(assign(cent))
    assigned = ranked.filter(F.col("rn") == 1).select(
        F.col("vec_id").alias("nbr"), "cell"
    )
    probes = ranked.filter(F.col("rn") <= 2).select(
        F.col("vec_id").alias("src"), "cell"
    )
    return (
        probes.join(assigned, "cell")
        .filter(F.col("src") != F.col("nbr"))
        .select("src", "nbr")
    )


@query(
    "llm_knn_ivf",
    # IVF-style ANN, the 100 TB similarity-search path: TRAINED centroid
    # cells (k = ceil(sqrt(n)), hash-seeded + one Lloyd iteration — no
    # corpus labels) are the coarse quantizer; each vector is ASSIGNED to
    # its nearest centroid (rn=1); a query PROBES its 2 nearest cells
    # (nprobe=2) and computes exact cosine only against vectors assigned
    # there — candidate count drops from n to ~n*(nprobe/k) while the
    # kernel stays identical to llm_knn_bruteforce. Top-3 per query by
    # (rounded sim desc, id asc).
    oracle=f"""
    WITH {_IVF_SQL},
    assigned AS (SELECT vec_id, cell FROM ranked WHERE rn = 1),
    probes AS (SELECT vec_id, cell FROM ranked WHERE rn <= 2),
    v AS (
      SELECT vec_id,
             list_transform(embedding, x -> CAST(x AS DOUBLE)) AS e,
             sqrt(list_dot_product(
                  list_transform(embedding, x -> CAST(x AS DOUBLE)),
                  list_transform(embedding, x -> CAST(x AS DOUBLE)))) AS nrm
      FROM embeddings
    ),
    cand AS (
      SELECT p.vec_id AS src, a.vec_id AS nbr
      FROM probes p JOIN assigned a ON p.cell = a.cell
      WHERE p.vec_id <> a.vec_id
    ),
    sims AS (
      SELECT c.src, c.nbr,
             round(list_dot_product(va.e, vb.e) / (va.nrm * vb.nrm), 6) AS sim
      FROM cand c
      JOIN v va ON va.vec_id = c.src
      JOIN v vb ON vb.vec_id = c.nbr
    )
    SELECT src, nbr, sim, rnk FROM (
      SELECT src, nbr, sim,
             row_number() OVER (PARTITION BY src
                                ORDER BY sim DESC, nbr ASC) AS rnk
      FROM sims
    ) WHERE rnk <= 3
    """,
)
def llm_knn_ivf(spark, sf_dir):
    cand = _ivf_candidates(spark, sf_dir)
    e = load(spark, sf_dir, "embeddings")

    v = e.select(
        "vec_id",
        F.expr("transform(embedding, x -> cast(x as double))").alias("e"),
    ).withColumn(
        "nrm",
        F.sqrt(
            F.expr(
                "aggregate(zip_with(e, e, (x, y) -> x * y),"
                " cast(0 as double), (acc, v) -> acc + v)"
            )
        ),
    )
    va = v.select(
        F.col("vec_id").alias("src"), F.col("e").alias("ea"),
        F.col("nrm").alias("na"),
    )
    vb = v.select(
        F.col("vec_id").alias("nbr"), F.col("e").alias("eb"),
        F.col("nrm").alias("nb"),
    )
    sims = (
        cand.join(va, "src")
        .join(vb, "nbr")
        .select(
            "src",
            "nbr",
            r6(
                F.expr(
                    "aggregate(zip_with(ea, eb, (x, y) -> x * y),"
                    " cast(0 as double), (acc, v) -> acc + v)"
                )
                / (F.col("na") * F.col("nb"))
            ).alias("sim"),
        )
    )
    wk = Window.partitionBy("src").orderBy(
        F.col("sim").desc(), F.col("nbr").asc()
    )
    return (
        sims.withColumn("rnk", F.row_number().over(wk))
        .filter(F.col("rnk") <= 3)
        .select("src", "nbr", "sim", "rnk")
    )


@query(
    "llm_multimodal_binary",
    # binary payload column + Arrow-batched feature extraction. The payload
    # here is the utf-8 bytes of `text` (no media codecs in the container);
    # the extractor (functions/multimodal.py) is the real mapInPandas
    # plumbing a decoder plugs into. Oracle recomputes the deterministic
    # features from the text the payload was derived from. first_byte is the
    # first UTF-8 OCTET (Spark side reads payload[0]), derived here from the
    # leading code point via the UTF-8 leading-byte formula, with the empty
    # string mapped to -1 exactly as fake_features does — equivalent for any
    # corpus, not just ASCII (ADVICE r2).
    oracle="""
    SELECT doc_id,
           CAST(octet_length(encode(text)) AS BIGINT) AS n_bytes,
           CAST(CASE WHEN length(text) = 0 THEN -1
                     WHEN ascii(substr(text, 1, 1)) < 128
                       THEN ascii(substr(text, 1, 1))
                     WHEN ascii(substr(text, 1, 1)) < 2048
                       THEN 192 + ascii(substr(text, 1, 1)) // 64
                     WHEN ascii(substr(text, 1, 1)) < 65536
                       THEN 224 + ascii(substr(text, 1, 1)) // 4096
                     ELSE 240 + ascii(substr(text, 1, 1)) // 262144
                END AS INTEGER) AS first_byte,
           CAST(1 + octet_length(encode(text)) // 256 AS BIGINT) AS n_frames,
           CAST((octet_length(encode(text)) * 2654435761) % 1000003 AS BIGINT)
             AS feat_hash
    FROM documents
    """,
)
def llm_multimodal_binary(spark, sf_dir):
    from naqed_spark.functions.multimodal import (
        FEATURE_SCHEMA,
        extract_features,
    )

    d = load(spark, sf_dir, "documents").select(
        "doc_id", F.encode("text", "utf-8").alias("payload")
    )
    return d.mapInPandas(extract_features, schema=FEATURE_SCHEMA)


_BPE_PAT = "[A-Za-z]+|[0-9]+|[^A-Za-z0-9 ]"


@query(
    "llm_tokenize_bpe_regex",
    # BPE-style pre-tokenization (the regex-piece pass every BPE tokenizer
    # runs before merges): letter runs, digit runs, single punctuation.
    # The pattern uses only constructs with identical semantics in Java
    # regex (Spark) and DuckDB's regex engine — verified cross-engine.
    oracle=f"""
    SELECT doc_id,
           len(regexp_extract_all(text, '{_BPE_PAT}')) AS n_pieces,
           length(text) AS n_chars_m
    FROM documents WHERE text IS NOT NULL
    """,
)
def llm_tokenize_bpe_regex(spark, sf_dir):
    # size(regexp_extract_all(NULL)) is -1 Spark-side vs NULL in DuckDB —
    # null text excluded identically in both engines
    d = load(spark, sf_dir, "documents").filter(F.col("text").isNotNull())
    return d.select(
        "doc_id",
        F.size(F.expr(f"regexp_extract_all(text, '{_BPE_PAT}', 0)")).alias(
            "n_pieces"
        ),
        F.length("text").alias("n_chars_m"),
    )


# shingles with document frequency above this never enter the candidate
# join (they are the skew keys — a corpus-frequent stopword run makes the
# self-join quadratic in its posting list); exact Jaccard still sees them
# because it recomputes over the FULL shingle sets of each candidate pair.
# ~1000 is the production setting; 64 keeps the fixture corpus honest.
_NGRAM_DF_CAP = 64


def _ngram_candidates(sh, df_cap: int):
    """Distinct (id_a, id_b) pairs sharing >= 1 shingle whose document
    frequency is <= ``df_cap`` — the bounded-fan-out candidate generator.

    r16 opt (guide §2.3/§2.4): the old spelling shuffled the exploded
    (doc_id, shingle) table ~4× — a count aggregate for the df filter, a
    join back against it, then BOTH sides of a shingle self-join, then the
    pair distinct. Now the posting rows are exchanged on the shingle ONCE:
    a window count over that partitioning computes df (WindowExec spills,
    so a 100 TB stopword shingle streams through it), the df filter keeps
    only postings with <= df_cap entries, and a groupBy on the SAME key
    reuses the exchange to build the (now provably <= df_cap-sized)
    sorted posting list, from which the i<j pairs are generated by array
    arithmetic — identical pair set, 2 exchanges instead of ~5, and no
    join whose fan-out needs a second skew defence (the collect is
    bounded by the cap the filter just enforced)."""
    ex = sh.select("doc_id", F.explode("sset").alias("s"))
    dfw = F.count(F.lit(1)).over(Window.partitionBy("s"))
    posting = (
        ex.withColumn("df", dfw)
        .filter(F.col("df") <= df_cap)
        .groupBy("s")
        .agg(F.array_sort(F.collect_list("doc_id")).alias("ids"))
        .filter(F.size("ids") >= 2)
    )
    pairs = F.expr(sorted_pairs_expr("ids", "id_a", "id_b"))
    return (
        posting.select(F.explode(pairs).alias("p"))
        .select(F.col("p.id_a").alias("id_a"), F.col("p.id_b").alias("id_b"))
        .distinct()
    )


@query(
    "llm_ngram_jaccard",
    # exact n-gram (5-word shingle) Jaccard near-dup over a corpus with
    # constructed near-duplicates: every document is replayed with its last
    # word dropped (doc_id + 1000000), so each original/truncation pair
    # shares all but the trailing shingles. Candidates come from an
    # EQUALITY join on the shingle itself (pairs sharing >= 1 shingle
    # whose document frequency is <= the cap) — the n-gram sibling of the
    # LSH band join, O(candidate pairs) not O(n^2). The df cap (round 4,
    # VERDICT item 6) bounds the join fan-out on the skew keys
    # (stopword-run shingles, quadratic posting lists at 100 TB); the
    # Jaccard itself is computed EXACTLY over the full shingle sets of the
    # surviving candidate pairs, so the cap only prunes the generator.
    oracle=f"""
    WITH base AS (
      SELECT doc_id, text FROM documents
      UNION ALL
      SELECT doc_id + 1000000,
             array_to_string(string_split(text, ' ')[1:len(string_split(text, ' ')) - 1], ' ')
      FROM documents
    ),
    sh AS (
      SELECT doc_id,
             list_distinct(list_transform(range(1, len(string_split(text, ' ')) - 3),
               i -> array_to_string(string_split(text, ' ')[i:i+4], ' '))) AS sset
      FROM base WHERE len(string_split(text, ' ')) >= 5
    ),
    ex AS (SELECT doc_id, unnest(sset) AS s FROM sh),
    dfreq AS (
      SELECT s FROM ex GROUP BY s HAVING count(*) <= {_NGRAM_DF_CAP}
    ),
    cand AS (
      SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
      FROM ex a JOIN dfreq USING (s)
      JOIN ex b ON a.s = b.s AND a.doc_id < b.doc_id
    )
    SELECT id_a, id_b,
           round(CAST(len(list_intersect(sa.sset, sb.sset)) AS DOUBLE)
                 / (len(sa.sset) + len(sb.sset)
                    - len(list_intersect(sa.sset, sb.sset))), 6) AS jac
    FROM cand
    JOIN sh sa ON sa.doc_id = id_a
    JOIN sh sb ON sb.doc_id = id_b
    WHERE CAST(len(list_intersect(sa.sset, sb.sset)) AS DOUBLE)
          / (len(sa.sset) + len(sb.sset)
             - len(list_intersect(sa.sset, sb.sset))) >= 0.5
    """,
)
def llm_ngram_jaccard(spark, sf_dir):
    """Candidates from the df-capped shingle equi-join (no set objects
    cross that shuffle — only (doc_id, shingle) rows for shingles with
    df <= cap); exact |A∩B| / |A∪B| via array_intersect over the shingle
    SETS of candidate pairs only. Integer counts make the division
    bit-identical on both engines."""
    d = load(spark, sf_dir, "documents").select("doc_id", "text")
    w = F.split("text", " ")
    trunc = F.array_join(F.slice(w, F.lit(1), F.size(w) - 1), " ")
    corpus = d.unionByName(
        d.select(
            (F.col("doc_id") + 1000000).alias("doc_id"), trunc.alias("text")
        )
    )
    # r16 opt (guide §1.2 "don't compute things twice"): the shingle-set
    # frame feeds FIVE subtrees (both sides of the candidate self-join,
    # the df-cap aggregate, and both verify legs) — without a persist the
    # O(words)-per-doc shingle transform re-runs for every subtree.
    # Persisted, it is computed once per pass like neardup_lsh's sigs.
    # r17 opt (guide §2.5): ``spread`` round-robins the corpus before the
    # shingle transform — the documents scan is single-split, so the
    # O(words)-per-doc shingle fold ran on 1-2 cores.
    words = spread(corpus).select("doc_id", F.split("text", " ").alias("w"))
    sh = scoped_persist(_shingle_sets(words))
    cand = _ngram_candidates(sh, _NGRAM_DF_CAP)
    sa = sh.select(F.col("doc_id").alias("id_a"), F.col("sset").alias("seta"))
    sb = sh.select(F.col("doc_id").alias("id_b"), F.col("sset").alias("setb"))
    # Intersection/set sizes are projected ONCE per candidate pair before
    # the threshold filter — spelling the filter over the raw arrays made
    # interpreted array_intersect run up to 3× per pair (filter + two
    # emit references). jac from 3 ints is codegen-cheap.
    sized = (
        cand.join(sa, "id_a")
        .join(sb, "id_b")
        .select(
            "id_a",
            "id_b",
            F.size(F.array_intersect("seta", "setb")).alias("n_common"),
            F.size("seta").alias("n_a"),
            F.size("setb").alias("n_b"),
        )
    )
    jac = F.col("n_common").cast("double") / (
        F.col("n_a") + F.col("n_b") - F.col("n_common")
    )
    return (
        sized.filter(jac >= 0.5)
        .select("id_a", "id_b", r6(jac).alias("jac"))
    )


@query(
    "llm_bm25_score",
    # BM25 retrieval scoring (k1=1.2, b=0.75) of every document against a
    # fixed query-term set — the ranking function behind lexical search
    # over a training corpus. idf uses the classic
    # ln((N - df + 0.5)/(df + 0.5) + 1) form; dl = word count, avgdl a
    # corpus scalar. Only docs matching >= 1 term emit.
    oracle="""
    WITH toks AS (
      SELECT doc_id, unnest(string_split(text, ' ')) AS tok FROM documents
      WHERE text IS NOT NULL
    ),
    dl AS (
      SELECT doc_id, count(*) AS dl FROM toks GROUP BY doc_id
    ),
    stats AS (
      SELECT (SELECT count(*) FROM documents WHERE text IS NOT NULL) AS n,
             (SELECT avg(dl) FROM dl) AS avgdl
    ),
    tf AS (
      SELECT doc_id, tok, count(*) AS tf FROM toks
      WHERE tok IN ('scan', 'agg', 'fast') GROUP BY doc_id, tok
    ),
    idf AS (
      SELECT tok, ln((s.n - count(DISTINCT doc_id) + 0.5)
                     / (count(DISTINCT doc_id) + 0.5) + 1.0) AS idf
      FROM tf, stats s GROUP BY tok, s.n
    )
    SELECT tf.doc_id,
           round(SUM(idf.idf * tf.tf * 2.2
                     / (tf.tf + 1.2 * (0.25 + 0.75 * dl.dl / s.avgdl))), 6)
             AS bm25
    FROM tf
    JOIN idf ON idf.tok = tf.tok
    JOIN dl ON dl.doc_id = tf.doc_id
    CROSS JOIN stats s
    GROUP BY tf.doc_id
    """,
)
def llm_bm25_score(spark, sf_dir):
    """Scale shape: the query-term list is FIXED and tiny, so per-term tf
    pivots into conditional counts inside ONE explode → ONE groupBy(doc_id)
    pass — the base frame (doc_id, dl, tf_t...) is the only corpus-sized
    shuffle. Corpus stats (N, avgdl, per-term df) are one tiny aggregate
    of that same frame, broadcast back as a 1-row crossJoin; the identical
    base subtrees share one Exchange via ReuseExchange (asserted in
    tests/test_plans.py). The score is then pure row-local arithmetic —
    no per-term join at all."""
    # corpus N counts scorable (non-null-text) documents in both engines
    d = (
        load(spark, sf_dir, "documents")
        .filter(F.col("text").isNotNull())
        .select("doc_id", "text")
    )
    terms = ["scan", "agg", "fast"]
    toks = d.select(
        "doc_id", F.explode(F.split("text", " ")).alias("tok")
    )
    base = toks.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("dl"),
        *[
            F.count(F.when(F.col("tok") == t, 1)).alias(f"tf_{t}")
            for t in terms
        ],
    )
    stats = F.broadcast(
        base.agg(
            F.count(F.lit(1)).cast("double").alias("n"),
            F.avg("dl").alias("avgdl"),
            *[
                F.sum((F.col(f"tf_{t}") > 0).cast("long"))
                .cast("double")
                .alias(f"df_{t}")
                for t in terms
            ],
        )
    )
    def term_score(t: str):
        idf = F.log(
            (F.col("n") - F.col(f"df_{t}") + 0.5)
            / (F.col(f"df_{t}") + 0.5)
            + 1.0
        )
        tf = F.col(f"tf_{t}")
        return idf * tf * 2.2 / (
            tf + 1.2 * (0.25 + 0.75 * F.col("dl") / F.col("avgdl"))
        )

    total = sum((term_score(t) for t in terms[1:]), term_score(terms[0]))
    return (
        base.crossJoin(stats)
        .filter(sum(F.col(f"tf_{t}") for t in terms) > 0)
        .select("doc_id", F.round(total, 6).alias("bm25"))
    )


@query(
    "llm_unigram_logprob",
    # Unigram language-model scoring — the cheap LM-based quality filter:
    # token probabilities estimated over the whole corpus (add-one
    # smoothed), each document scored by its mean negative log-prob
    # (high = unusual token mix). The corpus IS the model: one token
    # pass builds it, one scores against it.
    oracle="""
    WITH toks AS (
      SELECT doc_id, unnest(string_split(text, ' ')) AS tok FROM documents
    ),
    vocab AS (
      SELECT tok, count(*) AS c FROM toks GROUP BY tok
    ),
    totals AS (
      SELECT CAST(sum(c) AS DOUBLE) AS total,
             CAST(count(*) AS DOUBLE) AS v
      FROM vocab
    )
    SELECT t.doc_id,
           CAST(count(*) AS BIGINT) AS n_toks,
           round(avg(-ln((v.c + 1.0) / (tt.total + tt.v))), 6)
             AS mean_nll
    FROM toks t
    JOIN vocab v ON v.tok = t.tok
    CROSS JOIN totals tt
    GROUP BY t.doc_id
    """,
)
def llm_unigram_logprob(spark, sf_dir):
    """Scale shape: vocab build is a map-side-combined groupBy(token) —
    vocabulary-sized state, not corpus-sized; the scoring join broadcasts
    the vocab (bounded: natural-language vocabularies plateau while
    corpora don't). Two corpus passes total (build + score), both
    codegen; the totals frame is one broadcast row. avg's
    summation-order ulps are hedged by round(6)."""
    d = load(spark, sf_dir, "documents").select("doc_id", "text")
    toks = d.select(
        "doc_id", F.explode(F.split("text", " ")).alias("tok")
    )
    vocab = toks.groupBy("tok").agg(F.count(F.lit(1)).alias("c"))
    totals = F.broadcast(
        vocab.agg(
            F.sum("c").cast("double").alias("total"),
            F.count(F.lit(1)).cast("double").alias("v"),
        )
    )
    nll = -F.log((F.col("c") + 1.0) / (F.col("total") + F.col("v")))
    return (
        toks.join(F.broadcast(vocab), "tok")
        .crossJoin(totals)
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_toks"),
            F.round(F.avg(nll), 6).alias("mean_nll"),
        )
    )
