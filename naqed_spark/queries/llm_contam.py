"""Training-corpus hygiene operators, round 6: benchmark-contamination
detection, within-document repetition scoring, and sequence packing
(SURVEY.md §2-K).

All are everyday ops in a pretraining data pipeline:

- ``llm_contamination_ngram`` — the decontamination join: which training
  documents share word-3-grams with a held-out eval set? The eval set is
  tiny by construction (benchmarks are), so the plan is explode →
  broadcast semi-ish inner join → map-side-combined groupBy; the 100 TB
  cost is one scan of the training corpus, no shuffle of it beyond the
  per-doc aggregation.
- ``llm_repetition_score`` — the classic "repetitious junk" quality
  signal (max bigram frequency / total bigrams, distinct ratio): explode
  → two-level groupBy, all codegen, scan-shaped at any scale.
- ``llm_pack_sequences`` — contiguous fixed-budget sequence packing per
  source shard: one running-sum window partitioned by the shard key.
- ``llm_corpus_prep_pipeline`` — the whole prep flow (quality filter →
  exact dedup → split → shard stats) as one declarative query.
- ``llm_multimodal_frame_sample`` — strided byte-window frame sampling
  over the binary payload column via Arrow-batched ``mapInPandas``.

No reference file:line possible — ``/root/reference`` is empty (SURVEY.md
§0); keys extend the §2-K training-data toolkit the same way rounds 2-3
did.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from naqed_spark.queries._util import load, scoped_persist
from naqed_spark.queries.llm import _word_ngrams
from naqed_spark.registry import query

# Deterministic held-out "benchmark" slice: ~1% of doc ids. A real
# pipeline would read the eval corpus from its own table; the modulus
# keeps the fixture self-contained and identical across engines.
_EVAL_MOD = 97

_TOKS_SQL = """
    SELECT doc_id, string_split(text, ' ') AS w
    FROM documents
"""


@query(
    "llm_contamination_ngram",
    # Contaminated train docs: any distinct word-trigram also present in
    # the eval slice (doc_id % 97 == 0). Emits only hit docs (the
    # decontamination worklist): hit count, trigram count, contamination
    # ratio. Counts are exact ints; the ratio divides the same two ints
    # on both engines, rounded to 6.
    oracle=f"""
    WITH toks AS ({_TOKS_SQL}),
    tri AS (
      SELECT doc_id,
             list_distinct(
               list_transform(generate_series(1, len(w) - 2),
                              i -> array_to_string(w[i:i+2], ' '))
             ) AS tset
      FROM toks WHERE len(w) >= 3
    ),
    ev AS (
      SELECT DISTINCT unnest(tset) AS s FROM tri
      WHERE doc_id % {_EVAL_MOD} = 0
    ),
    tr AS (
      SELECT doc_id, CAST(len(tset) AS INT) AS n_tri, unnest(tset) AS s
      FROM tri WHERE doc_id % {_EVAL_MOD} <> 0
    )
    SELECT tr.doc_id, n_tri,
           CAST(count(*) AS INT) AS n_hit,
           round(CAST(count(*) AS DOUBLE) / n_tri, 6) AS contamination
    FROM tr JOIN ev ON tr.s = ev.s
    GROUP BY tr.doc_id, n_tri
    """,
)
def llm_contamination_ngram(spark, sf_dir):
    """Benchmark-contamination check via distinct word-trigram overlap.

    Scale shape: the eval trigram set is benchmark-sized → explicit
    ``broadcast()`` (the training corpus NEVER shuffles for the match);
    the only wide op is the per-doc groupBy, which map-side combines.
    Distinctness per doc comes from ``array_distinct`` BEFORE the explode,
    so the join fan-out is bounded by distinct trigrams per doc.
    """
    d = load(spark, sf_dir, "documents").select(
        "doc_id", F.split("text", " ").alias("w")
    )
    # r16 opt (guide §5): the plan inlined the trigram-set expression
    # FOUR times — once per branch (eval slice / train slice) and again
    # wherever tset is referenced twice in one projection (size +
    # explode) — so every doc re-tokenized and re-built its distinct
    # trigram array up to 4×. Persisting (doc_id, tset) materializes
    # the arrays once; both branches and both references read the cache.
    tri = scoped_persist(
        d.filter(F.size("w") >= 3).select(
            "doc_id", F.array_distinct(_word_ngrams("w", 3)).alias("tset")
        )
    )
    ev = (
        tri.filter(F.col("doc_id") % _EVAL_MOD == 0)
        .select(F.explode("tset").alias("s"))
        .distinct()
    )
    tr = tri.filter(F.col("doc_id") % _EVAL_MOD != 0).select(
        "doc_id",
        F.size("tset").alias("n_tri"),
        F.explode("tset").alias("s"),
    )
    return (
        tr.join(F.broadcast(ev), "s")
        .groupBy("doc_id", "n_tri")
        .agg(F.count(F.lit(1)).cast("int").alias("n_hit"))
        .select(
            "doc_id",
            "n_tri",
            "n_hit",
            F.round(F.col("n_hit").cast("double") / F.col("n_tri"), 6).alias(
                "contamination"
            ),
        )
    )


@query(
    "llm_repetition_score",
    # Within-doc repetition: most-frequent bigram share + distinct-bigram
    # ratio per document. All-integer counts; the two ratios divide the
    # same ints on both engines, rounded to 6.
    oracle=f"""
    WITH toks AS ({_TOKS_SQL}),
    b AS (
      SELECT doc_id,
             unnest(list_transform(generate_series(1, len(w) - 1),
                                   i -> array_to_string(w[i:i+1], ' '))) AS bg
      FROM toks WHERE len(w) >= 2
    ),
    c AS (SELECT doc_id, bg, count(*) AS cnt FROM b GROUP BY doc_id, bg)
    SELECT doc_id,
           CAST(max(cnt) AS INT) AS top_cnt,
           CAST(sum(cnt) AS BIGINT) AS n_bigrams,
           CAST(count(*) AS INT) AS n_distinct,
           round(CAST(max(cnt) AS DOUBLE) / sum(cnt), 6) AS rep_ratio,
           round(CAST(count(*) AS DOUBLE) / sum(cnt), 6) AS distinct_ratio
    FROM c GROUP BY doc_id
    """,
)
def llm_repetition_score(spark, sf_dir):
    """Repetition quality signal: share of the most frequent bigram and
    distinct-bigram ratio per doc.

    Scale shape: explode → (doc, bigram) groupBy → (doc) groupBy. Two
    exchanges, but BOTH carry partially-aggregated rows (map-side combine
    collapses repeated bigrams before the first shuffle and per-doc
    triples before the second) — cheaper at corpus scale than forcing a
    single doc_id shuffle of the raw exploded bigrams. Nothing quadratic,
    no Python.
    """
    d = load(spark, sf_dir, "documents").select(
        "doc_id", F.split("text", " ").alias("w")
    )
    bg = d.filter(F.size("w") >= 2).select(
        "doc_id", F.explode(_word_ngrams("w", 2)).alias("bg")
    )
    per_bg = bg.groupBy("doc_id", "bg").agg(F.count(F.lit(1)).alias("cnt"))
    return (
        per_bg.groupBy("doc_id")
        .agg(
            F.max("cnt").cast("int").alias("top_cnt"),
            F.sum("cnt").alias("n_bigrams"),
            F.count(F.lit(1)).cast("int").alias("n_distinct"),
        )
        .select(
            "doc_id",
            "top_cnt",
            "n_bigrams",
            "n_distinct",
            F.round(
                F.col("top_cnt").cast("double") / F.col("n_bigrams"), 6
            ).alias("rep_ratio"),
            F.round(
                F.col("n_distinct").cast("double") / F.col("n_bigrams"), 6
            ).alias("distinct_ratio"),
        )
    )


_PACK_BUDGET = 512  # tokens per packed sequence


@query(
    "llm_pack_sequences",
    # Contiguous sequence packing: within each source shard, docs in
    # doc_id order are laid end-to-end and cut into _PACK_BUDGET-token
    # packs; each doc reports its pack and offset (a doc may span packs —
    # real packers split the tail into the next sequence). All-integer
    # window arithmetic — bit-identical across engines.
    oracle=f"""
    WITH t AS (
      SELECT doc_id, source, len(string_split(text, ' ')) AS n_tok
      FROM documents WHERE text IS NOT NULL
    ),
    c AS (
      SELECT doc_id, source, n_tok,
             CAST(sum(n_tok) OVER (PARTITION BY source ORDER BY doc_id
                  ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                  AS BIGINT) - n_tok AS start_tok
      FROM t
    )
    SELECT doc_id, source, CAST(n_tok AS INT) AS n_tok,
           CAST(start_tok // {_PACK_BUDGET} AS INT) AS pack_id,
           CAST(start_tok % {_PACK_BUDGET} AS INT) AS pack_offset
    FROM c
    """,
)
def llm_pack_sequences(spark, sf_dir):
    """Sequence packing (fixed token budget, contiguous fill) — the
    precursor step to writing packed training examples.

    Scale shape (round 9): the per-source running token count is a
    TWO-PHASE prefix sum — sources are few while the corpus is not, so
    a window partitioned on the bare source key alone would put a whole
    shard through one task. Docs range-bucket by doc_id within each
    source (broadcast min/max); per-(source, bucket) token totals are
    exclusive-prefix-summed over the bounded bucket frame and broadcast
    back as offsets for (source, bucket)-partitioned local cumsums.
    Integer token sums are associative, so offset + local_cum equals the
    single-window running count bit-for-bit (oracle unchanged).
    """
    from pyspark.sql import Window

    from naqed_spark.queries.aggs import _grouped_range_bucketed

    # null text has no tokens to pack (size(NULL) = -1 would corrupt the
    # running count) — excluded identically in both engines; a NULL
    # source is still a shard (null-safe joins below keep it)
    t = (
        load(spark, sf_dir, "documents")
        .filter(F.col("text").isNotNull())
        .select(
            "doc_id", "source", F.size(F.split("text", " ")).alias("n_tok")
        )
    )
    b = _grouped_range_bucketed(t, "source", "doc_id")
    wb = Window.partitionBy("source").orderBy("bkt").rowsBetween(
        Window.unboundedPreceding, -1
    )
    offsets = (
        b.groupBy("source", "bkt")
        .agg(F.sum("n_tok").alias("ttok"))
        .select(
            "source", "bkt",
            F.coalesce(F.sum("ttok").over(wb), F.lit(0)).alias("off"),
        )
    )
    wl = (
        Window.partitionBy("source", "bkt")
        .orderBy("doc_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    from naqed_spark.queries.aggs import _ns_bjoin

    c = _ns_bjoin(b, offsets, ["source", "bkt"]).withColumn(
        "start_tok",
        F.col("off") + F.sum("n_tok").over(wl) - F.col("n_tok"),
    )
    return c.select(
        "doc_id",
        "source",
        F.col("n_tok").cast("int").alias("n_tok"),
        F.floor(F.col("start_tok") / _PACK_BUDGET).cast("int").alias("pack_id"),
        (F.col("start_tok") % _PACK_BUDGET).cast("int").alias("pack_offset"),
    )


_PIPE_MIN_PPM = 550000  # keeps ~85% of the fixture corpus (p10 is ~532k)


@query(
    "llm_corpus_prep_pipeline",
    # The whole corpus-prep flow as ONE declarative query: quality filter
    # (integer-ppm score >= threshold) -> exact dedup (keep min doc_id per
    # text) -> deterministic md5 train/val/test split -> per-(split, lang)
    # shard stats. Composes the exact formulas of llm_quality_score,
    # llm_exact_dedup, and llm_train_split, so every stage is already
    # individually driver-verified; this key verifies the composition.
    oracle=f"""
    WITH base AS (
      SELECT doc_id, lang, text,
             length(string_split(text, ' ')) AS n_words,
             length(text) AS n_chars_m,
             length(list_filter(string_split(text, ' '),
                    t -> t IN ('the', 'a', 'of', 'and', 'to'))) AS n_stop
      FROM documents
    ),
    kept AS (
      SELECT doc_id, lang, text, n_words FROM base
      WHERE {{ppm}} >= {_PIPE_MIN_PPM}
    ),
    uniq AS (
      SELECT doc_id, lang, n_words FROM (
        SELECT doc_id, lang, n_words,
               row_number() OVER (PARTITION BY text ORDER BY doc_id) AS rn
        FROM kept
      ) WHERE rn = 1
    ),
    tagged AS (
      SELECT lang, n_words,
             CASE WHEN b < 80 THEN 'train'
                  WHEN b < 90 THEN 'val'
                  ELSE 'test' END AS split
      FROM (
        SELECT lang, n_words,
               ((instr('0123456789abcdef',
                       substr(md5(CAST(doc_id AS VARCHAR)), 1, 1)) - 1) * 16
                + instr('0123456789abcdef',
                        substr(md5(CAST(doc_id AS VARCHAR)), 2, 1)) - 1) % 100
                 AS b
        FROM uniq)
    )
    SELECT split, lang,
           CAST(count(*) AS BIGINT) AS n_docs,
           CAST(sum(n_words) AS BIGINT) AS n_tokens
    FROM tagged GROUP BY split, lang
    """.replace("{ppm}", """
      CAST(4000 * least(n_words, 100)
      + (300000 - (n_stop * 300000) // n_words)
      + least(((n_chars_m - (n_words - 1)) * 300000) // (8 * n_words), 300000)
      AS BIGINT)"""),
)
def llm_corpus_prep_pipeline(spark, sf_dir):
    """Quality-filter -> exact-dedup -> split -> shard stats, end to end.

    Scale shape: quality scoring is a codegen scan; dedup is one shuffle
    partitioned by text with Spark's WindowGroupLimit cutting each group
    to its min-id row before the exchange on the map side; the split tag
    is a pure expression; the final rollup is a map-side-combined groupBy
    on a 3x|langs| key space. No Python, no collect, nothing quadratic —
    the whole pipeline is three shuffles at any corpus size.
    """
    from pyspark.sql import Window

    d = load(spark, sf_dir, "documents")
    base = d.select(
        "doc_id",
        "lang",
        "text",
        F.size(F.split("text", " ")).alias("n_words"),
        F.length("text").alias("n_chars_m"),
        F.size(
            F.filter(
                F.split("text", " "),
                lambda t: t.isin("the", "a", "of", "and", "to"),
            )
        ).alias("n_stop"),
    )
    ppm = F.expr(
        "CAST(4000 * least(n_words, 100)"
        " + (300000 - (n_stop * 300000) div n_words)"
        " + least(((n_chars_m - (n_words - 1)) * 300000) div (8 * n_words),"
        " 300000) AS BIGINT)"
    )
    kept = base.filter(ppm >= _PIPE_MIN_PPM)
    w = Window.partitionBy("text").orderBy("doc_id")
    uniq = (
        kept.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select("doc_id", "lang", "n_words")
    )
    bucket = F.expr(
        "((instr('0123456789abcdef',"
        " substring(md5(CAST(doc_id AS STRING)), 1, 1)) - 1) * 16"
        " + instr('0123456789abcdef',"
        " substring(md5(CAST(doc_id AS STRING)), 2, 1)) - 1) % 100"
    )
    tagged = uniq.select(
        "lang",
        "n_words",
        F.when(bucket < 80, "train")
        .when(bucket < 90, "val")
        .otherwise("test")
        .alias("split"),
    )
    return tagged.groupBy("split", "lang").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_words").alias("n_tokens"),
    )


@query(
    "llm_multimodal_frame_sample",
    # Frame sampling over the binary payload column: strided 32-byte
    # windows (stride 64, max 4), one row per frame, md5-fingerprinted in
    # Arrow-batched Python (functions/multimodal.py — where a real
    # decoder would run). BOTH sides restrict to single-byte payloads
    # (octet_length == char_length) so the oracle's char-slice md5 is
    # byte-exact for ANY corpus, not just the ASCII fixture; real media
    # corpora have no SQL twin and would register rows-only.
    oracle="""
    WITH f AS (
      SELECT doc_id, text FROM documents
      WHERE octet_length(encode(text)) = length(text)
    )
    SELECT doc_id,
           CAST(frame_idx AS INT) AS frame_idx,
           CAST(frame_idx * 64 AS INT) AS frame_off,
           md5(substr(text, frame_idx * 64 + 1, 32)) AS frame_md5
    FROM f CROSS JOIN (SELECT unnest(range(0, 4)) AS frame_idx) k
    WHERE frame_idx * 64 + 32 <= length(text)
    """,
)
def llm_multimodal_frame_sample(spark, sf_dir):
    """Scale shape: payload bytes cross into Python ONLY via Arrow
    batches (`mapInPandas`), partition-local, nothing collects; output is
    fingerprint rows, ~4 per doc. Real codecs slot into sample_frames
    without touching the Spark plan."""
    from naqed_spark.functions.multimodal import FRAME_SCHEMA, sample_frames

    d = (
        load(spark, sf_dir, "documents")
        .filter(F.octet_length(F.encode("text", "utf-8")) == F.length("text"))
        .select("doc_id", F.encode("text", "utf-8").alias("payload"))
    )
    return d.mapInPandas(sample_frames, schema=FRAME_SCHEMA)


@query(
    "llm_sft_format",
    # SFT/chat-template assembly — the last step before tokenization in a
    # fine-tuning pipeline: each document becomes a chat-formatted
    # training string (system + user prompt + the document as the
    # assistant turn), with a deterministic character budget: the
    # assistant text is truncated at the LAST SPACE at-or-before the
    # budget (never mid-word — truncation must be tokenizer-friendly),
    # and a drop flag marks docs that lost content. Pure codegen string
    # ops, one scan, no shuffle; the template literals are engine-
    # neutral constants.
    oracle="""
    SELECT doc_id,
           '<|system|>summarize<|user|>' || lang || ':' || source
             || '<|assistant|>' || body || '<|end|>' AS sample,
           length(body) AS body_chars,
           (length(text) > 240) AS truncated
    FROM (
      SELECT doc_id, lang, source, text,
             CASE WHEN length(text) <= 240 THEN text
                  ELSE substr(text, 1,
                         240 - position(' ' IN reverse(substr(text, 1, 240))))
             END AS body
      FROM documents
    )
    """,
)
def llm_sft_format(spark, sf_dir):
    d = load(spark, sf_dir, "documents")
    # last space at-or-before the budget, via the reversed-prefix trick
    # (position of the FIRST space in the reversed prefix = distance of
    # the LAST space from the cut) — identical arithmetic in both engines
    body = F.when(F.length("text") <= 240, F.col("text")).otherwise(
        F.expr(
            "substring(text, 1,"
            " 240 - position(' ' IN reverse(substring(text, 1, 240))))"
        )
    )
    return d.select(
        "doc_id",
        F.concat(
            F.lit("<|system|>summarize<|user|>"),
            F.col("lang"),
            F.lit(":"),
            F.col("source"),
            F.lit("<|assistant|>"),
            body,
            F.lit("<|end|>"),
        ).alias("sample"),
        F.length(body).alias("body_chars"),
        (F.length("text") > 240).alias("truncated"),
    )
