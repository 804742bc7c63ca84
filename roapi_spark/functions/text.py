"""Text-analysis operators for LLM-data pipelines (beyond the reference
surface, per BASELINE.json north star): token counting, quality scoring,
language scoring, document fingerprinting.

All hot-path logic is JVM-side (built-in functions + higher-order array
functions) — no Python UDFs — so it whole-stage-codegens and scales
linearly over document shards. Each query has a DuckDB oracle computing the
identical deterministic result.
"""

from __future__ import annotations

import math
import os

from pyspark.sql import Column, DataFrame, SparkSession, Window
from pyspark.sql import functions as F
from pyspark.sql import types as T

from roapi_spark.plans.registry import register
from roapi_spark.plans.util import maybe_broadcast
from roapi_spark.util import WS_CLASS, pround, pround_sql


STOPWORDS_EN = ["the", "a", "and", "of", "to", "in", "is", "it"]
# shared token pipeline: lowercase, split on non-letters, drop empties
_TOKENS_SQL_DUCK = "list_filter(string_split_regex(lower(text), '[^a-z]+'), x -> length(x) > 0)"


def docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    return spark.read.parquet(os.path.join(sf_dir, "documents.parquet"))


def tokens_col() -> Column:
    """Non-empty lowercase word tokens, computed JVM-side."""
    return F.filter(
        F.split(F.lower(F.col("text")), "[^a-z]+"), lambda x: F.length(x) > 0
    )


def stopword_hits(toks: Column, words: list[str]) -> Column:
    arr = F.array(*[F.lit(w) for w in words])
    return F.size(F.filter(toks, lambda x: F.array_contains(arr, x)))


@register(
    "text_stats",
    oracle=f"""
    WITH toks AS (
      SELECT doc_id, n_chars, text, {_TOKENS_SQL_DUCK} AS w FROM documents
    )
    SELECT doc_id,
           CAST(LENGTH(text) AS BIGINT)                      AS len_chars,
           CAST(LEN(w) AS BIGINT)                            AS n_tokens,
           CASE WHEN LENGTH(text) = 0 THEN 0.0
                ELSE FLOOR(CAST(LENGTH(REGEXP_REPLACE(text, '[^.!?,;:]', '', 'g')) AS DOUBLE)
                      / LENGTH(text) * 10000 + 0.5) / 10000.0 END AS punct_ratio,
           FLOOR(CAST(LEN(LIST_FILTER(w, x -> LIST_CONTAINS({STOPWORDS_EN!r}, x))) AS DOUBLE)
                 / GREATEST(LEN(w), 1) * 10000 + 0.5) / 10000.0 AS stopword_ratio,
           CAST(LEN(LIST_DISTINCT(w)) AS BIGINT)             AS n_distinct_tokens
    FROM toks
    """.replace("'the'", "'the'"),
    doc="Per-document token count, punctuation ratio, stopword ratio, "
    "distinct-token count. Pure map-side — no shuffle at any scale.",
    tags=("text",),
)
def text_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = docs(spark, sf_dir)
    toks = tokens_col()
    return d.select(
        "doc_id",
        F.length("text").cast("bigint").alias("len_chars"),
        F.size(toks).cast("bigint").alias("n_tokens"),
        F.when(F.length("text") == 0, F.lit(0.0))
        .otherwise(
            pround(
                F.length(F.regexp_replace("text", r"[^.!?,;:]", "")).cast("double")
                / F.length("text")
            )
        )
        .alias("punct_ratio"),
        pround(
            stopword_hits(toks, STOPWORDS_EN).cast("double")
            / F.greatest(F.size(toks), F.lit(1))
        ).alias("stopword_ratio"),
        F.size(F.array_distinct(toks)).cast("bigint").alias("n_distinct_tokens"),
    )


@register(
    "text_quality",
    oracle=f"""
    WITH toks AS (
      SELECT doc_id, text, {_TOKENS_SQL_DUCK} AS w FROM documents
    ), feats AS (
      SELECT doc_id,
             LEN(w) AS n_tokens,
             CAST(LEN(LIST_DISTINCT(w)) AS DOUBLE) / GREATEST(LEN(w), 1) AS uniq_ratio,
             CASE WHEN LENGTH(text) = 0 THEN 0.0
                  ELSE CAST(LENGTH(REGEXP_REPLACE(text, '[a-zA-Z ]', '', 'g')) AS DOUBLE)
                       / LENGTH(text) END AS nonalpha_ratio
      FROM toks
    )
    SELECT doc_id,
           FLOOR((0.5 * LEAST(n_tokens / 100.0, 1.0)
                 + 0.3 * uniq_ratio
                 + 0.2 * (1.0 - LEAST(nonalpha_ratio * 5, 1.0))) * 10000 + 0.5) / 10000.0
             AS quality_score,
           CASE WHEN n_tokens >= 50 AND uniq_ratio >= 0.3 THEN 'keep'
                WHEN n_tokens >= 10 THEN 'review'
                ELSE 'drop' END AS quality_bucket
    FROM feats
    """,
    doc="Deterministic quality score (length/diversity/alpha-ratio blend) "
    "+ keep/review/drop bucketing — the standard pre-training filter shape.",
    tags=("text",),
)
def text_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = docs(spark, sf_dir)
    toks = tokens_col()
    n_tokens = F.size(toks)
    uniq_ratio = F.size(F.array_distinct(toks)).cast("double") / F.greatest(
        n_tokens, F.lit(1)
    )
    nonalpha_ratio = F.when(F.length("text") == 0, F.lit(0.0)).otherwise(
        F.length(F.regexp_replace("text", r"[a-zA-Z ]", "")).cast("double")
        / F.length("text")
    )
    score = pround(
        0.5 * F.least(n_tokens / F.lit(100.0), F.lit(1.0))
        + 0.3 * uniq_ratio
        + 0.2 * (1.0 - F.least(nonalpha_ratio * 5, F.lit(1.0)))
    )
    bucket = (
        F.when((n_tokens >= 50) & (uniq_ratio >= 0.3), "keep")
        .when(n_tokens >= 10, "review")
        .otherwise("drop")
    )
    return d.select(
        "doc_id", score.alias("quality_score"), bucket.alias("quality_bucket")
    )


@register(
    "text_langid",
    oracle="""
    WITH toks AS (
      SELECT doc_id, lang,
             list_filter(string_split_regex(lower(text), '[^a-z]+'), x -> length(x) > 0) AS w
      FROM documents
    ), scores AS (
      SELECT doc_id, lang,
        CAST(LEN(LIST_FILTER(w, x -> LIST_CONTAINS(['the','a','and','of','is'], x))) AS DOUBLE)
          / GREATEST(LEN(w), 1) AS score_en,
        CAST(LEN(LIST_FILTER(w, x -> LIST_CONTAINS(['der','die','das','und','ist'], x))) AS DOUBLE)
          / GREATEST(LEN(w), 1) AS score_de,
        CAST(LEN(LIST_FILTER(w, x -> LIST_CONTAINS(['el','la','de','que','es'], x))) AS DOUBLE)
          / GREATEST(LEN(w), 1) AS score_es
      FROM toks
    )
    SELECT doc_id, lang,
           FLOOR(score_en * 10000 + 0.5) / 10000.0 AS score_en,
           FLOOR(score_de * 10000 + 0.5) / 10000.0 AS score_de,
           FLOOR(score_es * 10000 + 0.5) / 10000.0 AS score_es,
           CASE WHEN score_en >= score_de AND score_en >= score_es THEN 'en'
                WHEN score_de >= score_es THEN 'de'
                ELSE 'es' END AS predicted_lang
    FROM scores
    """,
    doc="Stopword-frequency language scoring with deterministic argmax "
    "(n-gram-heuristic language ID; map-side only).",
    tags=("text",),
)
def text_langid(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = docs(spark, sf_dir)
    toks = tokens_col()
    n = F.greatest(F.size(toks), F.lit(1))
    s_en = stopword_hits(toks, ["the", "a", "and", "of", "is"]).cast("double") / n
    s_de = stopword_hits(toks, ["der", "die", "das", "und", "ist"]).cast("double") / n
    s_es = stopword_hits(toks, ["el", "la", "de", "que", "es"]).cast("double") / n
    pred = (
        F.when((s_en >= s_de) & (s_en >= s_es), "en")
        .when(s_de >= s_es, "de")
        .otherwise("es")
    )
    return d.select(
        "doc_id",
        "lang",
        pround(s_en).alias("score_en"),
        pround(s_de).alias("score_de"),
        pround(s_es).alias("score_es"),
        pred.alias("predicted_lang"),
    )


@register(
    "text_fingerprint",
    oracle="""
    SELECT doc_id,
           MD5(LOWER(REGEXP_REPLACE(text, '[ \\t\\n\\x0B\\f\\r]+', ' ', 'g'))) AS fp_full,
           MD5(SUBSTR(LOWER(REGEXP_REPLACE(text, '[ \\t\\n\\x0B\\f\\r]+', ' ', 'g')), 1, 64)) AS fp_prefix64
    FROM documents
    """,
    doc="Document fingerprinting: md5 over whitespace-normalized text "
    "(full + 64-char prefix), the join key for exact/near dedup.",
    tags=("text", "dedup"),
)
def text_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = docs(spark, sf_dir)
    norm = F.lower(F.regexp_replace("text", WS_CLASS + "+", " "))
    return d.select(
        "doc_id",
        F.md5(norm).alias("fp_full"),
        F.md5(F.substring(norm, 1, 64)).alias("fp_prefix64"),
    )


@register(
    "text_rolling_fingerprint",
    oracle="""
    WITH norm AS (
      SELECT doc_id, LOWER(REGEXP_REPLACE(text, '[ \\t\\n\\x0B\\f\\r]+', ' ', 'g')) AS s FROM documents
    ),
    grams AS (  -- polynomial rolling hash of every 8-char gram, base 131 mod 2^31-1
      SELECT doc_id,
             LIST_TRANSFORM(
               GENERATE_SERIES(1, GREATEST(LENGTH(s) - 7, 0)),
               i -> LIST_REDUCE(
                      LIST_TRANSFORM(GENERATE_SERIES(0, 7),
                                     j -> CAST(ASCII(SUBSTR(s, i + j, 1)) AS BIGINT)),
                      (acc, c) -> (acc * 131 + c) % 2147483647)
             ) AS hs
      FROM norm
    ),
    sel AS (  -- 0-mod-p winnowing: keep grams whose hash % 16 == 0
      SELECT doc_id, hs, LIST_FILTER(hs, h -> h % 16 = 0) AS fp FROM grams
    )
    SELECT doc_id,
           CAST(LEN(hs) AS BIGINT) AS n_grams,
           CAST(LEN(fp) AS BIGINT) AS n_fingerprints,
           CAST(COALESCE(LIST_MIN(fp), -1) AS BIGINT) AS min_fp,
           CAST(COALESCE(LIST_MAX(fp), -1) AS BIGINT) AS max_fp
    FROM sel
    """,
    doc="Rolling-hash fingerprinting (Karp-Rabin over 8-char grams, 0-mod-p "
    "winnowing): the classic plagiarism/near-dup fingerprint set. All "
    "map-side higher-order expressions; fingerprints are the join key for "
    "partial-overlap detection at scale.",
    tags=("text", "dedup"),
)
def text_rolling_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = docs(spark, sf_dir)
    norm = d.select(
        "doc_id", F.lower(F.regexp_replace("text", WS_CLASS + "+", " ")).alias("s")
    )
    # Hoist the char extraction: ONE pass per character into an integer
    # array. Round 7 used ascii(substr(s, i, 1)) per position — but
    # UTF8String.substring seeks from the string start, so building the
    # array was O(L^2) in chars; split(s, '') materializes the per-char
    # array in one O(L) pass and ascii() of a 1-char string is the same
    # codepoint (verified incl. non-ASCII). Round 14, second fix: the
    # per-gram hash folded an 8-int slice() — an 8-element array copy
    # plus 8 interpreted lambda steps per position. The fold
    # ((acc*131 + c) mod p) equals (sum c_j * 131^(7-j)) mod p, so each
    # gram is now 8 O(1) element_at reads combined with precomputed
    # (131^k mod p) factors — no per-gram allocation. Each term
    # (c * pow_k mod p) < p and codepoints are < 2^21, so the widest
    # intermediate is c * pow_k < 2^21 * 2^31 — no int64 overflow for
    # ANY code point. Measured 3.2 s -> (see OPTIMIZATION_r14.md) at
    # sf0.1, identical output.
    cs = F.transform(
        F.split(F.col("s"), ""),
        lambda c: F.ascii(c).cast("bigint"),
    )
    _P = 2147483647
    _POW = [pow(131, 7 - j, _P) for j in range(8)]

    def gram_hash(i):
        terms = [
            (F.element_at(F.col("cs"), i + j) * F.lit(_POW[j])) % _P
            for j in range(8)
        ]
        acc = terms[0]
        for t in terms[1:]:
            acc = acc + t
        return acc % _P
    # Guard the gram positions: Spark's sequence(1, 0) yields the DESCENDING
    # array [1, 0] (implicit -1 step), i.e. 2 bogus grams for any doc whose
    # normalized text is shorter than 8 chars, while DuckDB's
    # GENERATE_SERIES(1, 0) is empty.  Emit an explicitly empty gram array
    # for short docs so both engines agree.
    hs = F.when(
        F.col("sl") >= 8,
        F.transform(F.sequence(F.lit(1), F.col("sl") - 7), gram_hash),
    ).otherwise(F.array().cast("array<bigint>"))
    fp = F.filter(F.col("hs"), lambda h: h % 16 == 0)
    grams = (
        norm.select("doc_id", F.length("s").alias("sl"), cs.alias("cs"))
        .select("doc_id", hs.alias("hs"))
        .select("doc_id", "hs", fp.alias("fp"))
    )
    return grams.select(
        "doc_id",
        F.size("hs").cast("bigint").alias("n_grams"),
        F.size("fp").cast("bigint").alias("n_fingerprints"),
        F.coalesce(F.array_min("fp"), F.lit(-1)).cast("bigint").alias("min_fp"),
        F.coalesce(F.array_max("fp"), F.lit(-1)).cast("bigint").alias("max_fp"),
    )


# ==== Gopher quality, repetition, PII, vocabulary, packing ==================
# Gopher-style quality signals, intra-document repetition, PII
# redaction, vocabulary building and sequence packing; each cites the
# public method it implements (Gopher/C4 filtering rules, GPT-style
# sequence packing).
#
# Scale notes (100 TB):
# - quality/repetition/PII are pure map-side or shuffle-on-doc_id only —
#   embarrassingly parallel over document shards.
# - vocab build is explode -> partial agg -> global top-k (the classic
#   two-stage word count; the post-agg vocab is tiny).
# - sequence packing uses a per-`source` window, not a global sort, so
#   packs are built independently per shard.


# whitespace word tokens (documents are lowercase word-soup; keep raw case
# handling anyway so the op is corpus-agnostic)
_WORDS_DUCK = "list_filter(string_split_regex(text, '[ \\t\\n\\x0B\\f\\r]+'), x -> length(x) > 0)"

GOPHER_STOPWORDS = ["the", "be", "to", "of", "and", "that", "have", "with"]


def words_col() -> Column:
    return F.filter(F.split(F.col("text"), WS_CLASS + "+"), lambda x: F.length(x) > 0)


@register(
    "text_quality_gopher",
    oracle=f"""
    WITH toks AS (
      SELECT doc_id, {_WORDS_DUCK} AS w FROM documents
    ), feats AS (
      SELECT doc_id,
             CAST(LEN(w) AS BIGINT) AS n_words,
             FLOOR(CAST(LIST_SUM(LIST_TRANSFORM(w, x -> LENGTH(x))) AS DOUBLE)
                   / GREATEST(LEN(w), 1) * 10000 + 0.5) / 10000.0 AS mean_word_len,
             FLOOR(CAST(LEN(LIST_DISTINCT(w)) AS DOUBLE)
                   / GREATEST(LEN(w), 1) * 10000 + 0.5) / 10000.0 AS frac_distinct_words,
             FLOOR(CAST(LEN(LIST_FILTER(w, x -> REGEXP_MATCHES(x, '[a-zA-Z]'))) AS DOUBLE)
                   / GREATEST(LEN(w), 1) * 10000 + 0.5) / 10000.0 AS frac_alpha_words,
             CAST(LEN(LIST_FILTER({GOPHER_STOPWORDS!r}, s -> LIST_CONTAINS(w, s)))
                  AS BIGINT) AS n_stopwords_present
      FROM toks
    )
    SELECT *,
           (n_words BETWEEN 50 AND 100000
            AND mean_word_len BETWEEN 3 AND 10
            AND frac_distinct_words >= 0.3
            AND frac_alpha_words >= 0.8
            AND n_stopwords_present >= 2) AS gopher_keep
    FROM feats
    """,
    doc="Gopher-rule quality signals (Rae et al. 2021 §A1.1): word count, "
    "mean word length, distinct-word fraction, alpha-word fraction, "
    "stopword presence, and the combined keep flag. Pure map-side; no "
    "shuffle at any scale.",
    tags=("text", "quality"),
)
def text_quality_gopher(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = docs(spark, sf_dir).select("doc_id", words_col().alias("w"))
    n = F.size("w")
    g = F.greatest(n, F.lit(1))
    n_words = n.cast("bigint")
    mean_word_len = pround(
        F.aggregate("w", F.lit(0), lambda acc, x: acc + F.length(x)).cast("double") / g
    )
    frac_distinct = pround(F.size(F.array_distinct("w")).cast("double") / g)
    frac_alpha = pround(
        F.size(F.filter("w", lambda x: x.rlike("[a-zA-Z]"))).cast("double") / g
    )
    n_stop = F.size(
        F.filter(
            F.array(*[F.lit(s) for s in GOPHER_STOPWORDS]),
            lambda s: F.array_contains("w", s),
        )
    ).cast("bigint")
    out = d.select(
        "doc_id",
        n_words.alias("n_words"),
        mean_word_len.alias("mean_word_len"),
        frac_distinct.alias("frac_distinct_words"),
        frac_alpha.alias("frac_alpha_words"),
        n_stop.alias("n_stopwords_present"),
    )
    keep = (
        F.col("n_words").between(50, 100000)
        & F.col("mean_word_len").between(3, 10)
        & (F.col("frac_distinct_words") >= 0.3)
        & (F.col("frac_alpha_words") >= 0.8)
        & (F.col("n_stopwords_present") >= 2)
    )
    return out.select("*", keep.alias("gopher_keep"))


@register(
    "text_repetition",
    oracle="""
    WITH toks AS (
      SELECT doc_id,
             list_filter(string_split_regex(lower(text), '[^a-z]+'),
                         x -> length(x) > 0) AS w
      FROM documents
    ), bg AS (
      SELECT doc_id,
             unnest(list_transform(generate_series(1, len(w) - 1),
                                   i -> w[i] || '_' || w[i + 1])) AS gram
      FROM toks
    ), counted AS (
      SELECT doc_id, gram, COUNT(*) AS cnt FROM bg GROUP BY doc_id, gram
    ), ranked AS (
      SELECT doc_id, gram, cnt,
             SUM(cnt) OVER (PARTITION BY doc_id) AS n_bigrams,
             ROW_NUMBER() OVER (PARTITION BY doc_id
                                ORDER BY cnt DESC, gram ASC) AS rn
      FROM counted
    )
    SELECT doc_id,
           CAST(n_bigrams AS BIGINT) AS n_bigrams,
           gram AS top_bigram,
           CAST(cnt AS BIGINT) AS top_bigram_count,
           FLOOR(CAST(cnt AS DOUBLE) / n_bigrams * 10000 + 0.5) / 10000.0
             AS top_bigram_frac
    FROM ranked WHERE rn = 1
    """,
    doc="Intra-document repetition (Gopher §A1.1 'duplicate n-gram "
    "fraction'): most frequent word bigram per document and its share of "
    "all bigrams. Explode + partial-agg keyed by doc_id — shuffles only "
    "(doc_id, gram, count), never text; per-doc window after the agg.",
    tags=("text", "quality"),
)
def text_repetition(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = docs(spark, sf_dir).select(
        "doc_id",
        F.filter(
            F.split(F.lower(F.col("text")), "[^a-z]+"), lambda x: F.length(x) > 0
        ).alias("w"),
    )
    # `w` is a plain column reference below — safe inside lambdas (see
    # docs/SCALE.md pitfall #2: only computed expressions re-evaluate).
    grams = F.when(
        F.size("w") >= 2,
        F.transform(
            F.sequence(F.lit(1), F.size("w") - 1),
            lambda i: F.concat_ws(
                "_", F.element_at("w", i), F.element_at("w", i + 1)
            ),
        ),
    ).otherwise(F.array().cast("array<string>"))
    bg = d.select("doc_id", F.explode(grams).alias("gram"))
    counted = bg.groupBy("doc_id", "gram").count().withColumnRenamed("count", "cnt")
    w_doc = Window.partitionBy("doc_id")
    w_rank = Window.partitionBy("doc_id").orderBy(F.desc("cnt"), F.asc("gram"))
    ranked = counted.select(
        "doc_id",
        "gram",
        "cnt",
        F.sum("cnt").over(w_doc).alias("n_bigrams"),
        F.row_number().over(w_rank).alias("rn"),
    )
    return ranked.filter(F.col("rn") == 1).select(
        "doc_id",
        F.col("n_bigrams").cast("bigint").alias("n_bigrams"),
        F.col("gram").alias("top_bigram"),
        F.col("cnt").cast("bigint").alias("top_bigram_count"),
        pround(F.col("cnt").cast("double") / F.col("n_bigrams")).alias(
            "top_bigram_frac"
        ),
    )


_EMAIL_RE = r"[a-zA-Z0-9._%+-]+@[a-zA-Z0-9.-]+\.[a-zA-Z]{2,}"
_PHONE_RE = r"\+?[0-9][0-9() -]{6,}[0-9]"

# literal PII rows unioned onto the (PII-free, synthetic) corpus so the
# redaction path is actually exercised; ids sit far above real doc_ids
_PII_ROWS = [
    (9000001, "contact john.doe@example.com or call +1 555-123-4567 today"),
    (9000002, "mail a@b.io and c@d.org, phone 0044 20 7946 0958, done"),
    (9000003, "no personal data in this one at all"),
]


@register(
    "text_pii_redact",
    oracle=f"""
    WITH corpus AS (
      SELECT doc_id, text FROM documents
      UNION ALL
      SELECT * FROM (VALUES
        (9000001, 'contact john.doe@example.com or call +1 555-123-4567 today'),
        (9000002, 'mail a@b.io and c@d.org, phone 0044 20 7946 0958, done'),
        (9000003, 'no personal data in this one at all')
      ) v(doc_id, text)
    ), step1 AS (
      SELECT doc_id,
             CAST(LEN(REGEXP_EXTRACT_ALL(text, '{_EMAIL_RE}')) AS BIGINT) AS n_emails,
             REGEXP_REPLACE(text, '{_EMAIL_RE}', '<EMAIL>', 'g') AS t1
      FROM corpus
    )
    SELECT doc_id, n_emails,
           CAST(LEN(REGEXP_EXTRACT_ALL(t1, '{_PHONE_RE}')) AS BIGINT) AS n_phones,
           MD5(REGEXP_REPLACE(t1, '{_PHONE_RE}', '<PHONE>', 'g')) AS redacted_fp,
           CAST(LENGTH(REGEXP_REPLACE(t1, '{_PHONE_RE}', '<PHONE>', 'g')) AS BIGINT)
             AS redacted_len
    FROM step1
    """,
    doc="PII scrubbing: email then phone redaction via regexp_replace, with "
    "per-doc match counts and a fingerprint of the redacted text. Patterns "
    "restricted to the Java/RE2-common subset so Spark and the oracle "
    "agree. Map-side only; at 100 TB this composes with any downstream "
    "op without adding a shuffle.",
    tags=("text", "quality"),
)
def text_pii_redact(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = docs(spark, sf_dir).select("doc_id", "text")
    lit = spark.createDataFrame(_PII_ROWS, "doc_id bigint, text string")
    corpus = d.unionByName(lit)
    t1 = F.regexp_replace("text", _EMAIL_RE, "<EMAIL>")
    step1 = corpus.select(
        "doc_id",
        F.regexp_count("text", F.lit(_EMAIL_RE)).cast("bigint").alias("n_emails"),
        t1.alias("t1"),
    )
    t2 = F.regexp_replace("t1", _PHONE_RE, "<PHONE>")
    return step1.select(
        "doc_id",
        "n_emails",
        F.regexp_count("t1", F.lit(_PHONE_RE)).cast("bigint").alias("n_phones"),
        F.md5(t2).alias("redacted_fp"),
        F.length(t2).cast("bigint").alias("redacted_len"),
    )


VOCAB_SIZE = 200


@register(
    "text_vocab_topk",
    oracle=f"""
    WITH toks AS (
      SELECT unnest(list_filter(string_split_regex(lower(text), '[^a-z]+'),
                                x -> length(x) > 0)) AS token
      FROM documents
    ), counted AS (
      SELECT token, COUNT(*) AS cnt FROM toks GROUP BY token
    ), ranked AS (
      SELECT token, cnt,
             ROW_NUMBER() OVER (ORDER BY cnt DESC, token ASC) AS vocab_id
      FROM counted
    )
    SELECT CAST(vocab_id AS INT) AS vocab_id, token, CAST(cnt AS BIGINT) AS cnt
    FROM ranked WHERE vocab_id <= {VOCAB_SIZE}
    """,
    doc=f"Vocabulary building: corpus-wide word counts, top-{VOCAB_SIZE} by "
    "(count desc, token asc), dense ids via row_number. Explode -> "
    "map-side partial agg -> orderBy+limit, which Spark plans as "
    "TakeOrderedAndProject (per-partition top-k, then a merge of K-row "
    "heaps on the driver) — the full Zipf-tailed distinct-token set "
    "never funnels through one partition. The row_number window runs "
    f"only over the already-limited {VOCAB_SIZE}-row result, which is "
    "single-partition by construction (no extra Exchange).",
    tags=("text",),
)
def text_vocab_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = docs(spark, sf_dir)
    toks = d.select(
        F.explode(
            F.filter(
                F.split(F.lower(F.col("text")), "[^a-z]+"),
                lambda x: F.length(x) > 0,
            )
        ).alias("token")
    )
    counted = toks.groupBy("token").agg(F.count("*").alias("cnt"))
    top = counted.orderBy(F.desc("cnt"), F.asc("token")).limit(VOCAB_SIZE)
    # frame is <= VOCAB_SIZE rows by the limit; pmod(cnt, 1) is a
    # constant-0 non-foldable partition key that makes the bound explicit
    # (TakeOrderedAndProject's single partition satisfies the clustering —
    # no extra Exchange, no unpartitioned-WindowExec warning)
    return top.select(
        F.row_number()
        .over(
            Window.partitionBy(F.pmod(F.col("cnt"), F.lit(1))).orderBy(
                F.desc("cnt"), F.asc("token")
            )
        )
        .alias("vocab_id"),
        "token",
        F.col("cnt").cast("bigint").alias("cnt"),
    )


PACK_TOKENS = 2048


@register(
    "text_seq_pack",
    oracle=f"""
    WITH toks AS (
      SELECT doc_id, source,
             CAST(LEN({_WORDS_DUCK}) AS BIGINT) AS n_tokens
      FROM documents
    ), packed AS (
      SELECT doc_id, source, n_tokens,
             COALESCE(SUM(n_tokens) OVER (PARTITION BY source ORDER BY doc_id
                      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
               AS cum_before
      FROM toks
    )
    SELECT doc_id, source, n_tokens,
           CAST(FLOOR(cum_before / {PACK_TOKENS}) AS BIGINT) AS pack_id,
           CAST(cum_before % {PACK_TOKENS} AS BIGINT) AS pack_offset
    FROM packed
    """,
    doc=f"Sequence packing: assign each document a (pack_id, offset) slot "
    f"in {PACK_TOKENS}-token training sequences via a running token count "
    "per `source` shard — GPT-style concat-and-chunk packing. The window "
    "partitions by source, so packs build independently per shard (no "
    "global sort) and the op scales linearly with shard count.",
    tags=("text",),
)
def text_seq_pack(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = docs(spark, sf_dir)
    toks = d.select(
        "doc_id", "source", F.size(words_col()).cast("bigint").alias("n_tokens")
    )
    w = (
        Window.partitionBy("source")
        .orderBy("doc_id")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    packed = toks.select(
        "doc_id",
        "source",
        "n_tokens",
        F.coalesce(F.sum("n_tokens").over(w), F.lit(0)).alias("cum_before"),
    )
    return packed.select(
        "doc_id",
        "source",
        "n_tokens",
        F.floor(F.col("cum_before") / PACK_TOKENS).cast("bigint").alias("pack_id"),
        (F.col("cum_before") % PACK_TOKENS).cast("bigint").alias("pack_offset"),
    )


# ==== decontamination and TF-IDF ============================================
# Scale notes (100 TB):
# - decontamination: the benchmark gram set is bounded by the *benchmark*
#   suite size (MBs, fixed), never the corpus, so it is the one join side
#   that is always legitimately broadcastable; the corpus side is a
#   map-side gram explode + broadcast semi-join + one shuffle keyed by
#   doc_id. This is exactly how frontier-lab decontamination runs: corpus
#   sharded, benchmark grams shipped to every worker.
# - TF-IDF: two classic shuffles (doc_id+term for TF, term for DF); the
#   DF (vocabulary) table is zipf-bounded, far smaller than the corpus,
#   and re-joins to TF on the term key. The corpus count is a 1-row
#   aggregate cross-joined in (BroadcastNestedLoopJoin of one row).


GRAM_N = 3  # contamination gram width (word 3-grams; corpus docs are short)
CONTAM_MIN_OVERLAP = 2  # >= 2 shared grams => contaminated
BENCH_MOD = 97  # doc_id % 97 == 0 plays the role of the benchmark suite


_GRAMS_DUCK = (
    "list_distinct(list_transform(generate_series(1, len(w) - 2), "
    "i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2]))"
)


@register(
    "text_contamination",
    oracle=f"""
    WITH toks AS (
      SELECT doc_id, {_TOKENS_SQL_DUCK} AS w FROM documents
    ), gram_arrays AS (
      SELECT doc_id,
             CASE WHEN len(w) >= {GRAM_N} THEN {_GRAMS_DUCK}
                  ELSE [] END AS gs
      FROM toks
    ), grams AS (
      SELECT doc_id, unnest(gs) AS g FROM gram_arrays
    ), bench AS (
      SELECT DISTINCT g FROM grams WHERE doc_id % {BENCH_MOD} = 0
    ), overlap AS (
      SELECT gr.doc_id, COUNT(*) AS n_overlap
      FROM grams gr JOIN bench b USING (g)
      WHERE gr.doc_id % {BENCH_MOD} <> 0
      GROUP BY gr.doc_id
    )
    SELECT ga.doc_id,
           CAST(len(ga.gs) AS BIGINT) AS n_grams,
           CAST(COALESCE(o.n_overlap, 0) AS BIGINT) AS n_overlap,
           COALESCE(o.n_overlap, 0) >= {CONTAM_MIN_OVERLAP} AS contaminated
    FROM gram_arrays ga LEFT JOIN overlap o ON ga.doc_id = o.doc_id
    WHERE ga.doc_id % {BENCH_MOD} <> 0
    """,
    doc="Benchmark decontamination (GPT-3 appendix C / PaLM-style): flag "
    "corpus documents sharing >= 2 distinct word 3-grams with a held-out "
    "benchmark set (here: doc_id % 97 == 0). The benchmark gram set is "
    "bounded by the benchmark suite, so it broadcasts; the corpus side "
    "is map-side gram explode + broadcast join + one doc_id shuffle.",
    tags=("text", "dedup", "pipeline"),
)
def text_contamination(spark: SparkSession, sf_dir: str) -> DataFrame:
    from roapi_spark.functions.dedup import shingle_array_of

    # coalesce NULL text's gram array to [] so n_grams=0 matches the
    # oracle's CASE ... ELSE [] branch (ADVICE r2 #2; NULL would propagate)
    base = docs(spark, sf_dir).select(
        "doc_id",
        F.coalesce(
            shingle_array_of(tokens_col(), GRAM_N), F.array().cast("array<string>")
        ).alias("gs"),
    )
    # One tokenize pass over the corpus side (round 14; was three: grams,
    # bench and the n_grams re-join each re-ran tokenize+shingle over the
    # full scan). explode_outer keeps gram-less docs as a NULL-gram row,
    # so a single left broadcast join + one aggregate yields BOTH counts:
    # count(g) is len(gs) (NULL for empty docs counts 0) and count(hit)
    # is the distinct-gram overlap (bench grams are distinct, so each
    # corpus gram matches at most once — identical to the inner-join
    # count). The bench side still tokenizes only its 1/97 slice (the
    # doc_id residue filter pushes below the shingle projection).
    bench = (
        base.filter(F.col("doc_id") % BENCH_MOD == 0)
        .select(F.explode("gs").alias("g"))
        .distinct()
        .withColumn("hit", F.lit(1))
    )
    marked = (
        base.filter(F.col("doc_id") % BENCH_MOD != 0)
        .select("doc_id", F.explode_outer("gs").alias("g"))
        .join(maybe_broadcast(bench), "g", "left")
    )
    agg = marked.groupBy("doc_id").agg(
        F.count("g").alias("n_grams"),
        F.count("hit").alias("n_overlap"),
    )
    return agg.select(
        "doc_id",
        F.col("n_grams").cast("bigint").alias("n_grams"),
        F.col("n_overlap").cast("bigint").alias("n_overlap"),
        (F.col("n_overlap") >= CONTAM_MIN_OVERLAP).alias("contaminated"),
    )


@register(
    "text_tfidf_topk",
    oracle=f"""
    WITH toks AS (
      SELECT doc_id, unnest({_TOKENS_SQL_DUCK}) AS term FROM documents
    ), tf AS (
      SELECT doc_id, term, COUNT(*) AS tf FROM toks GROUP BY doc_id, term
    ), dfreq AS (
      SELECT term, COUNT(*) AS df FROM tf GROUP BY term
    ), n AS (
      SELECT COUNT(*) AS n_docs FROM documents
    ), scored AS (
      SELECT tf.doc_id, tf.term,
             CAST(tf.tf AS BIGINT) AS tf,
             CAST(dfreq.df AS BIGINT) AS df,
             FLOOR(tf.tf * LN((n.n_docs + 1.0) / (dfreq.df + 1.0)) * 10000
                   + 0.5) / 10000.0 AS score
      FROM tf JOIN dfreq USING (term) CROSS JOIN n
    ), ranked AS (
      SELECT *, ROW_NUMBER() OVER (PARTITION BY doc_id
                                   ORDER BY score DESC, term ASC) AS rank
      FROM scored
    )
    SELECT doc_id, term, tf, df, score, CAST(rank AS BIGINT) AS rank
    FROM ranked WHERE rank <= 3
    """,
    doc="Per-document top-3 TF-IDF keyterms: TF shuffle on (doc_id, term), "
    "DF shuffle on term (vocabulary-sized output), corpus count as a "
    "1-row cross join, per-doc ranking window. The canonical two-stage "
    "term-weighting plan; DF output is zipf-bounded so the re-join is "
    "cheap at any corpus size.",
    tags=("text", "pipeline"),
)
def text_tfidf_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    toks = docs(spark, sf_dir).select(
        "doc_id", F.explode(tokens_col()).alias("term")
    )
    tf = toks.groupBy("doc_id", "term").agg(F.count("*").alias("tf"))
    dfreq = tf.groupBy("term").agg(F.count("*").alias("df"))
    n = docs(spark, sf_dir).agg(F.count("*").alias("n_docs"))
    scored = (
        tf.join(maybe_broadcast(dfreq), "term")
        .crossJoin(F.broadcast(n))  # 1 row — always broadcastable
        .select(
            "doc_id",
            "term",
            F.col("tf").cast("bigint").alias("tf"),
            F.col("df").cast("bigint").alias("df"),
            pround(
                F.col("tf")
                * F.log((F.col("n_docs") + F.lit(1.0)) / (F.col("df") + F.lit(1.0)))
            ).alias("score"),
        )
    )
    w = Window.partitionBy("doc_id").orderBy(F.desc("score"), F.asc("term"))
    return (
        scored.withColumn("rank", F.row_number().over(w).cast("bigint"))
        .filter(F.col("rank") <= 3)
    )


# ==== stratified quality cut and language-ID audit ==========================
# Rank-based per-shard quality cuts (Gopher/C4 practice filters a
# quantile per source, not a global threshold) and declared-vs-predicted
# language confusion (mislabeled-corpus audit).
#
# Scale notes (100 TB):
# - the quality cut ranks within `source` shards (same per-shard window
#   pattern as text_seq_pack) — integer ranks, no global sort, and the
#   rank threshold avoids float-percentile interpolation divergence.
# - the confusion matrix is a map-side score + one tiny (lang x lang) agg.


DROP_FRAC = 0.2


@register(
    "text_quality_stratified",
    oracle=f"""
    WITH toks AS (
      SELECT doc_id, source, COALESCE({_TOKENS_SQL_DUCK}, []) AS w FROM documents
    ), scored AS (
      SELECT doc_id, source,
             FLOOR(CAST(LEN(LIST_DISTINCT(w)) AS DOUBLE)
                   / GREATEST(LEN(w), 1) * 10000 + 0.5) / 10000.0 AS score
      FROM toks
    ), ranked AS (
      SELECT doc_id, source, score,
             ROW_NUMBER() OVER (PARTITION BY source
                                ORDER BY score ASC, doc_id ASC) AS rnk,
             COUNT(*) OVER (PARTITION BY source) AS n
      FROM scored
    )
    SELECT doc_id, source, score, CAST(rnk AS BIGINT) AS rnk,
           rnk > FLOOR({DROP_FRAC} * n) AS kept
    FROM ranked
    """,
    doc=f"Stratified quality cut: rank documents per `source` shard by a "
    "distinct-word-fraction quality score (asc, doc_id tie-break) and "
    f"drop the bottom {int(DROP_FRAC * 100)}%. Quantile cuts per shard are "
    "the Gopher/C4 practice; the integer rank threshold (rnk > floor(q*n)) "
    "sidesteps cross-engine float-percentile interpolation entirely. "
    "Per-shard windows only — no global sort at any scale.",
    tags=("text", "quality", "pipeline"),
)
def text_quality_stratified(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = docs(spark, sf_dir)
    # NULL text scores 0.0 (not NULL): NULL would rank nulls-first in
    # Spark but nulls-last in DuckDB — same class of divergence as
    # text_contamination's ADVICE r2 fix
    w = F.coalesce(tokens_col(), F.array().cast("array<string>"))
    score = pround(
        F.size(F.array_distinct(w)).cast("double") / F.greatest(F.size(w), F.lit(1))
    )
    scored = d.select("doc_id", "source", score.alias("score"))
    win = Window.partitionBy("source").orderBy(F.asc("score"), F.asc("doc_id"))
    cnt = Window.partitionBy("source")
    return scored.select(
        "doc_id",
        "source",
        "score",
        F.row_number().over(win).cast("bigint").alias("rnk"),
        (
            F.row_number().over(win)
            > F.floor(F.lit(DROP_FRAC) * F.count("*").over(cnt))
        ).alias("kept"),
    )


@register(
    "q_langid_confusion",
    oracle="""
    WITH toks AS (
      SELECT doc_id, lang,
             list_filter(string_split_regex(lower(text), '[^a-z]+'), x -> length(x) > 0) AS w
      FROM documents
    ), scores AS (
      SELECT doc_id, lang,
        CAST(LEN(LIST_FILTER(w, x -> LIST_CONTAINS(['the','a','and','of','is'], x))) AS DOUBLE)
          / GREATEST(LEN(w), 1) AS score_en,
        CAST(LEN(LIST_FILTER(w, x -> LIST_CONTAINS(['der','die','das','und','ist'], x))) AS DOUBLE)
          / GREATEST(LEN(w), 1) AS score_de,
        CAST(LEN(LIST_FILTER(w, x -> LIST_CONTAINS(['el','la','de','que','es'], x))) AS DOUBLE)
          / GREATEST(LEN(w), 1) AS score_es
      FROM toks
    ), pred AS (
      SELECT lang,
             CASE WHEN score_en >= score_de AND score_en >= score_es THEN 'en'
                  WHEN score_de >= score_es THEN 'de'
                  ELSE 'es' END AS predicted_lang
      FROM scores
    ), conf AS (
      SELECT lang, predicted_lang, COUNT(*) AS n FROM pred GROUP BY 1, 2
    )
    SELECT lang, predicted_lang, CAST(n AS BIGINT) AS n,
           FLOOR(CAST(n AS DOUBLE) / SUM(n) OVER (PARTITION BY lang)
                 * 10000 + 0.5) / 10000.0 AS rate
    FROM conf
    """,
    doc="Language-ID confusion matrix: declared `lang` vs the stopword-"
    "argmax prediction (same scoring as text_langid), with per-declared-"
    "lang rates — the mislabeled-corpus audit a multilingual pipeline "
    "runs before per-language filtering. Map-side scoring, then a "
    "(n_langs x n_langs)-row aggregate.",
    tags=("text", "quality"),
)
def q_langid_confusion(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = docs(spark, sf_dir)
    toks = tokens_col()
    n = F.greatest(F.size(toks), F.lit(1))
    s_en = stopword_hits(toks, ["the", "a", "and", "of", "is"]).cast("double") / n
    s_de = stopword_hits(toks, ["der", "die", "das", "und", "ist"]).cast("double") / n
    s_es = stopword_hits(toks, ["el", "la", "de", "que", "es"]).cast("double") / n
    pred = (
        F.when((s_en >= s_de) & (s_en >= s_es), "en")
        .when(s_de >= s_es, "de")
        .otherwise("es")
    )
    conf = (
        d.select("lang", pred.alias("predicted_lang"))
        .groupBy("lang", "predicted_lang")
        .agg(F.count("*").cast("bigint").alias("n"))
    )
    return conf.select(
        "lang",
        "predicted_lang",
        "n",
        pround(
            F.col("n").cast("double") / F.sum("n").over(Window.partitionBy("lang"))
        ).alias("rate"),
    )


# ==== token-length census, Zipf fit, unigram log-perplexity =================
# q_token_len_histogram buckets by the bit-length of the token count
# (integer-exact in both engines — no float log2 at bucket boundaries).


@register(
    "q_token_len_histogram",
    oracle="""
    WITH toks AS (
      SELECT source,
             LEN(COALESCE(list_filter(string_split_regex(lower(text),
                 '[^a-z]+'), x -> length(x) > 0), [])) AS n_tok
      FROM documents
    )
    SELECT source,
           CAST(LENGTH(BIN(n_tok + 1)) - 1 AS BIGINT) AS bucket,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(n_tok) AS BIGINT) AS total_tokens
    FROM toks GROUP BY 1, 2
    """,
    doc="Token-length census per source: documents bucketed by "
    "floor(log2(n_tokens+1)) computed as bit-length (LENGTH(BIN(n+1))-1) "
    "— integer-exact in both engines, immune to float-log2 boundary "
    "rounding. Map-side tokenize + tiny (source x bucket) agg; the "
    "length histogram drives sequence-packing and truncation budgets.",
    tags=("text", "pipeline"),
)
def q_token_len_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = docs(spark, sf_dir).select(
        "source", F.size(F.coalesce(tokens_col(), F.array())).alias("n_tok")
    )
    return (
        d.withColumn(
            "bucket", (F.length(F.bin(F.col("n_tok") + 1)) - 1).cast("bigint")
        )
        .groupBy("source", "bucket")
        .agg(
            F.count("*").alias("n_docs"),
            F.sum("n_tok").cast("bigint").alias("total_tokens"),
        )
    )


ZIPF_TOP = 200


@register(
    "q_zipf_slope",
    oracle=f"""
    WITH toks AS (
      SELECT unnest(list_filter(string_split_regex(lower(text), '[^a-z]+'),
                                x -> length(x) > 0)) AS token
      FROM documents
    ), counted AS (
      SELECT token, COUNT(*) AS cnt FROM toks GROUP BY token
    ), ranked AS (
      SELECT cnt, ROW_NUMBER() OVER (ORDER BY cnt DESC, token ASC) AS rnk
      FROM counted
    ), top AS (
      SELECT LN(rnk) AS lx, LN(cnt) AS ly FROM ranked WHERE rnk <= {ZIPF_TOP}
    )
    SELECT CAST(COUNT(*) AS BIGINT) AS n_tokens,
           FLOOR(REGR_SLOPE(ly, lx) * 10000 + 0.5) / 10000.0 AS zipf_slope,
           FLOOR(REGR_R2(ly, lx) * 10000 + 0.5) / 10000.0 AS r2
    FROM top
    """,
    doc=f"Zipf's-law audit: least-squares slope of ln(freq) vs ln(rank) "
    f"over the top-{ZIPF_TOP} vocabulary (natural text sits near -1; a "
    "corpus of boilerplate or synthetic spam drifts off) plus the fit's "
    "R². The rank table is the same TakeOrderedAndProject top-k as "
    "text_vocab_topk — the Zipf tail never funnels through one "
    "partition; the regression is a single tiny agg.",
    tags=("text", "audit"),
)
def q_zipf_slope(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = docs(spark, sf_dir)
    toks = d.select(
        F.explode(
            F.filter(
                F.split(F.lower(F.col("text")), "[^a-z]+"),
                lambda x: F.length(x) > 0,
            )
        ).alias("token")
    )
    counted = toks.groupBy("token").agg(F.count("*").alias("cnt"))
    top = counted.orderBy(F.desc("cnt"), F.asc("token")).limit(ZIPF_TOP)
    # the ranking frame is <= ZIPF_TOP rows by the limit above; the
    # pmod(cnt, 1) partition key (constant 0, non-foldable) makes that
    # bound explicit in the plan — TakeOrderedAndProject's single
    # partition already satisfies the clustering, so no extra Exchange
    # and no unpartitioned-WindowExec warning
    ranked = top.select(
        F.row_number()
        .over(
            Window.partitionBy(F.pmod(F.col("cnt"), F.lit(1))).orderBy(
                F.desc("cnt"), F.asc("token")
            )
        )
        .alias("rnk"),
        "cnt",
    )
    pts = ranked.select(F.log("rnk").alias("lx"), F.log("cnt").alias("ly"))
    return pts.agg(
        F.count("*").alias("n_tokens"),
        pround(F.regr_slope("ly", "lx")).alias("zipf_slope"),
        pround(F.regr_r2("ly", "lx")).alias("r2"),
    )


@register(
    "text_unigram_logppl",
    oracle="""
    WITH toks AS (
      SELECT doc_id,
             unnest(list_filter(string_split_regex(lower(text), '[^a-z]+'),
                                x -> length(x) > 0)) AS token
      FROM documents
    ), vocab AS (
      SELECT token, COUNT(*) AS cnt FROM toks GROUP BY token
    ), total AS (SELECT SUM(cnt) AS n FROM vocab),
    scored AS (
      SELECT t.doc_id, -LN(CAST(v.cnt AS DOUBLE) / total.n) AS nlp
      FROM toks t JOIN vocab v ON t.token = v.token CROSS JOIN total
    )
    SELECT doc_id,
           CAST(COUNT(*) AS BIGINT) AS n_tok,
           FLOOR(AVG(nlp) * 10000 + 0.5) / 10000.0 AS mean_neg_logp
    FROM scored GROUP BY doc_id
    """,
    doc="Unigram log-perplexity quality filter (the KenLM-style "
    "model-based filter, self-scored): corpus unigram MLE "
    "p(tok)=cnt/total, per-document mean of -ln p — boilerplate built "
    "from ultra-common tokens scores LOW, rare-token noise scores HIGH; "
    "curation cuts both tails. Plan shape: one token-keyed shuffle "
    "builds the model table, the scoring join reuses that key (AQE skew "
    "handles stop-words), then a doc-keyed agg. At 100 TB the model "
    "table is the artifact you persist; the scoring pass is a single "
    "join + agg with no all-pairs anywhere.",
    tags=("text", "quality", "pipeline"),
)
def text_unigram_logppl(spark: SparkSession, sf_dir: str) -> DataFrame:
    toks = (
        docs(spark, sf_dir)
        .select("doc_id", F.explode(tokens_col()).alias("token"))
    )
    vocab = toks.groupBy("token").agg(F.count("*").alias("cnt"))
    total = vocab.agg(F.sum("cnt").alias("n"))
    scored = (
        toks.join(vocab, "token")
        .crossJoin(F.broadcast(total))
        .select(
            "doc_id",
            (-F.log(F.col("cnt").cast("double") / F.col("n"))).alias("nlp"),
        )
    )
    return scored.groupBy("doc_id").agg(
        F.count("*").alias("n_tok"),
        pround(F.avg("nlp")).alias("mean_neg_logp"),
    )


# ==== fertility, fixed-weight quality head, Heaps fit, packing audit ========


# -- tokenizer fertility by language ----------------------------------------


@register(
    "q_token_fertility",
    oracle=f"""
    WITH t AS (
      SELECT lang, LENGTH(text) AS n_bytes, len({_TOKENS_SQL_DUCK}) AS n_toks
      FROM documents
    )
    SELECT lang, CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(n_toks) AS BIGINT) AS n_tokens,
           CASE WHEN SUM(n_toks) > 0
                THEN FLOOR(SUM(n_bytes) / CAST(SUM(n_toks) AS DOUBLE)
                           * 10000 + 0.5) / 10000.0
                ELSE 0.0 END AS bytes_per_token,
           FLOOR(SUM(n_toks) / CAST(COUNT(*) AS DOUBLE) * 10000 + 0.5)
             / 10000.0 AS tokens_per_doc
    FROM t GROUP BY lang
    """,
    doc="Tokenizer-fertility audit: bytes/token and tokens/doc per "
    "language tag — the compression-rate table that decides vocabulary "
    "allocation and flags languages a tokenizer serves badly. Integer "
    "sums with map-side combine; ratios pround-ed once at the end (exact "
    "cross-engine).",
    tags=("text", "audit"),
)
def q_token_fertility(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = docs(spark, sf_dir).select(
        "lang",
        F.length("text").alias("n_bytes"),
        F.size(tokens_col()).alias("n_toks"),
    )
    return t.groupBy("lang").agg(
        F.count("*").cast("bigint").alias("n_docs"),
        F.sum("n_toks").cast("bigint").alias("n_tokens"),
        F.when(
            F.sum("n_toks") > 0,
            pround(F.sum("n_bytes") / F.sum("n_toks").cast("double")),
        )
        .otherwise(0.0)
        .alias("bytes_per_token"),
        pround(F.sum("n_toks") / F.count("*").cast("double")).alias(
            "tokens_per_doc"
        ),
    )


# -- linear quality-classifier head -----------------------------------------

# Hand-set weights standing in for a trained fastText/CCNet-style quality
# classifier (no training libs in this container); the plumbing — map-side
# feature extraction, linear scoring, threshold filter — is the production
# shape. The score stays in logit space (no exp(): libm exp is not
# bit-specified across engines; every feature below is exact IEEE
# division of integers, so the oracle matches bit-for-bit).
QL_W_BIAS = -2.0
QL_W_STOP = 6.0      # stopword ratio: natural prose has plenty
QL_W_ALPHA = 1.5     # alphabetic-character ratio
QL_W_TOKLEN = 0.12   # mean token length
QL_W_NTOK = -0.002   # very long docs get a mild penalty

_STOPWORDS = ("the", "a", "an", "and", "or", "of", "to", "in", "is", "it")


@register(
    "text_quality_logit",
    oracle=f"""
    WITH f AS (
      SELECT doc_id,
             LENGTH(text) AS n_chars,
             LENGTH(REGEXP_REPLACE(LOWER(text), '[^a-z]', '', 'g')) AS n_alpha,
             {_TOKENS_SQL_DUCK} AS w
      FROM documents
    ),
    feat AS (
      SELECT doc_id,
             CAST(LEN(w) AS BIGINT) AS n_tokens,
             CASE WHEN LEN(w) > 0
                  THEN LEN(LIST_FILTER(w, x -> LIST_CONTAINS(
                       {list(_STOPWORDS)}, x))) / CAST(LEN(w) AS DOUBLE)
                  ELSE 0.0 END AS stop_ratio,
             CASE WHEN n_chars > 0
                  THEN n_alpha / CAST(n_chars AS DOUBLE) ELSE 0.0 END
               AS alpha_ratio,
             CASE WHEN LEN(w) > 0
                  THEN LEN(ARRAY_TO_STRING(w, '')) / CAST(LEN(w) AS DOUBLE)
                  ELSE 0.0 END AS mean_tok_len
      FROM f
    )
    SELECT doc_id, n_tokens,
           FLOOR(stop_ratio * 10000 + 0.5) / 10000.0 AS stop_ratio,
           FLOOR(alpha_ratio * 10000 + 0.5) / 10000.0 AS alpha_ratio,
           FLOOR(({QL_W_BIAS} + {QL_W_STOP} * stop_ratio
                  + {QL_W_ALPHA} * alpha_ratio
                  + {QL_W_TOKLEN} * mean_tok_len
                  + {QL_W_NTOK} * n_tokens) * 10000 + 0.5) / 10000.0
             AS quality_logit,
           ({QL_W_BIAS} + {QL_W_STOP} * stop_ratio
            + {QL_W_ALPHA} * alpha_ratio
            + {QL_W_TOKLEN} * mean_tok_len
            + {QL_W_NTOK} * n_tokens) >= 0.0 AS keep
    FROM feat
    """,
    doc="Classifier-based quality filtering (the CCNet/fastText stage of "
    "a pretraining pipeline, with a hand-set linear head): map-side "
    "feature extraction (stopword ratio, alphabetic ratio, mean token "
    "length, token count) -> linear logit -> keep threshold. Zero "
    "shuffle — pure scan-stage expressions; swapping in trained weights "
    "is a literal change. Logit-space score keeps the oracle exact "
    "(libm exp is not bit-specified cross-engine).",
    tags=("text", "quality", "pipeline"),
)
def text_quality_logit(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = docs(spark, sf_dir).select(
        "doc_id",
        F.length("text").alias("n_chars"),
        F.length(F.regexp_replace(F.lower("text"), "[^a-z]", "")).alias("n_alpha"),
        tokens_col().alias("w"),
    )
    stop_lit = F.lit(list(_STOPWORDS)).cast("array<string>")
    feat = d.select(
        "doc_id",
        F.size("w").cast("bigint").alias("n_tokens"),
        F.when(
            F.size("w") > 0,
            F.size(F.filter("w", lambda x: F.array_contains(stop_lit, x)))
            / F.size("w").cast("double"),
        )
        .otherwise(0.0)
        .alias("stop_ratio"),
        F.when(
            F.col("n_chars") > 0,
            F.col("n_alpha") / F.col("n_chars").cast("double"),
        )
        .otherwise(0.0)
        .alias("alpha_ratio"),
        F.when(
            F.size("w") > 0,
            F.length(F.concat_ws("", F.col("w"))) / F.size("w").cast("double"),
        )
        .otherwise(0.0)
        .alias("mean_tok_len"),
    )
    logit = (
        F.lit(QL_W_BIAS)
        + F.lit(QL_W_STOP) * F.col("stop_ratio")
        + F.lit(QL_W_ALPHA) * F.col("alpha_ratio")
        + F.lit(QL_W_TOKLEN) * F.col("mean_tok_len")
        + F.lit(QL_W_NTOK) * F.col("n_tokens")
    )
    return feat.select(
        "doc_id",
        "n_tokens",
        pround(F.col("stop_ratio")).alias("stop_ratio"),
        pround(F.col("alpha_ratio")).alias("alpha_ratio"),
        pround(logit).alias("quality_logit"),
        (logit >= 0.0).alias("keep"),
    )


# -- Heaps'-law vocabulary growth -------------------------------------------


@register(
    "q_heaps_law",
    oracle=f"""
    WITH toks AS (
      SELECT doc_id, unnest({_TOKENS_SQL_DUCK}) AS token FROM documents
    ),
    per_doc AS (
      SELECT doc_id, COUNT(*) AS n_toks FROM toks GROUP BY doc_id
    ),
    firsts AS (  -- each distinct token charged to its first document
      SELECT MIN(doc_id) AS doc_id, 1 AS one FROM toks GROUP BY token
    ),
    new_vocab AS (
      SELECT doc_id, COUNT(*) AS n_new FROM firsts GROUP BY doc_id
    ),
    curve AS (
      SELECT p.doc_id,
             SUM(p.n_toks) OVER w AS cum_tokens,
             SUM(COALESCE(v.n_new, 0)) OVER w AS cum_vocab
      FROM per_doc p LEFT JOIN new_vocab v USING (doc_id)
      WINDOW w AS (ORDER BY p.doc_id
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
    ),
    pts AS (SELECT LN(cum_tokens) AS lx, LN(cum_vocab) AS ly FROM curve)
    SELECT CAST(COUNT(*) AS BIGINT) AS n_points,
           FLOOR(REGR_SLOPE(ly, lx) * 10000 + 0.5) / 10000.0 AS heaps_beta,
           FLOOR(REGR_R2(ly, lx) * 10000 + 0.5) / 10000.0 AS r2
    FROM pts
    """,
    doc="Heaps'-law audit (companion to q_zipf_slope): vocabulary size vs "
    "cumulative token count in doc_id order, slope of the log-log curve "
    "(natural text sits near beta ~ 0.4-0.6; a templated or synthetic "
    "corpus flattens early). The heavy work is two combiner-friendly "
    "aggregations over the token explosion (per-doc totals + first-seen "
    "ownership — the same no-window shape as q_ngram_novelty). The "
    "running sums use NO single-partition global window: doc_id is "
    "bucketed into 256 order-preserving equal-width ranges, the "
    "cumulative sums run per-bucket (Window.partitionBy), and a "
    "driver-side exclusive scan over the <=256 bucket totals is "
    "broadcast back as offsets — the q_token_budget_shards pattern "
    "(pipeline10.shard_assign), exact integer math end to end.",
    tags=("text", "audit"),
)
def q_heaps_law(spark: SparkSession, sf_dir: str) -> DataFrame:
    toks = docs(spark, sf_dir).select(
        "doc_id", F.explode(tokens_col()).alias("token")
    )
    per_doc = toks.groupBy("doc_id").agg(F.count("*").alias("n_toks"))
    new_vocab = (
        toks.groupBy("token")
        .agg(F.min("doc_id").alias("doc_id"))
        .groupBy("doc_id")
        .agg(F.count("*").alias("n_new"))
    )
    joined = per_doc.join(new_vocab, "doc_id", "left").select(
        "doc_id",
        "n_toks",
        F.coalesce("n_new", F.lit(0)).alias("n_new"),
    )
    # barrier FIRST: three consumers follow (doc_id bounds, bucket
    # totals, the final windowed plan) — without it the token explosion
    # + two aggregations would run once PER consumer. One row per doc,
    # so the checkpoint is corpus-doc sized, not token sized (the
    # dedup.py:minhash pattern); bounds + totals then read the
    # materialized blocks.
    joined = joined.localCheckpoint(eager=False)
    # Distributed prefix sum: equal-width integer ranges over the doc_id
    # domain are order-preserving (doc_id asc == (bkt, doc_id) asc), so
    # per-bucket cumulative windows plus exclusive bucket offsets
    # reproduce the global running sums without a single-partition sort.
    bounds = joined.agg(
        F.min("doc_id").alias("lo"), F.max("doc_id").alias("hi")
    ).first()
    lo = bounds["lo"] if bounds["lo"] is not None else 0
    hi = bounds["hi"] if bounds["hi"] is not None else 0
    n_bkt = 256
    span = max(hi - lo + 1, 1)
    joined = joined.withColumn(
        "bkt",
        F.least(
            F.lit(n_bkt - 1),
            F.floor((F.col("doc_id") - F.lit(lo)) * n_bkt / F.lit(span)),
        ).cast("int"),
    )
    totals = sorted(
        (r["bkt"], r["bt"], r["bv"])
        for r in joined.groupBy("bkt")
        .agg(F.sum("n_toks").alias("bt"), F.sum("n_new").alias("bv"))
        .collect()
    )  # <=256 rows of driver state — exact integer exclusive scan
    offsets, acc_t, acc_v = [], 0, 0
    for bkt, bt, bv in totals:
        offsets.append((bkt, acc_t, acc_v))
        acc_t += bt
        acc_v += bv
    off = spark.createDataFrame(offsets, "bkt int, t_off long, v_off long")
    w = (
        Window.partitionBy("bkt")
        .orderBy("doc_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    curve = joined.join(F.broadcast(off), "bkt").select(
        (F.col("t_off") + F.sum("n_toks").over(w)).alias("cum_tokens"),
        (F.col("v_off") + F.sum("n_new").over(w)).alias("cum_vocab"),
    )
    pts = curve.select(
        F.log("cum_tokens").alias("lx"), F.log("cum_vocab").alias("ly")
    )
    return pts.agg(
        F.count("*").cast("bigint").alias("n_points"),
        pround(F.regr_slope("ly", "lx")).alias("heaps_beta"),
        pround(F.regr_r2("ly", "lx")).alias("r2"),
    )


# -- packing efficiency audit -----------------------------------------------


def _packing_oracle() -> str:
    p = PACK_TOKENS
    return f"""
    WITH toks AS (
      SELECT doc_id, source,
             CAST(LEN({_WORDS_DUCK}) AS BIGINT) AS n_tokens
      FROM documents
    ), packed AS (
      SELECT doc_id, source, n_tokens,
             COALESCE(SUM(n_tokens) OVER (PARTITION BY source ORDER BY doc_id
                      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
               AS cum_before
      FROM toks
    ), agg AS (
      SELECT source,
             CAST(COUNT(*) AS BIGINT) AS n_docs,
             CAST(SUM(n_tokens) AS BIGINT) AS n_tokens,
             CAST(FLOOR((SUM(n_tokens) + {p} - 1) / {p}) AS BIGINT) AS n_packs,
             CAST(SUM(CASE WHEN (cum_before % {p}) + n_tokens > {p}
                      THEN 1 ELSE 0 END) AS BIGINT) AS n_straddlers
      FROM packed GROUP BY source
    )
    SELECT source, n_docs, n_tokens, n_packs, n_straddlers,
           FLOOR(n_straddlers / CAST(n_docs AS DOUBLE) * 10000 + 0.5)
             / 10000.0 AS straddle_frac,
           CASE WHEN n_packs > 0
                THEN FLOOR((n_tokens - (n_packs - 1) * {p})
                           / CAST({p} AS DOUBLE) * 10000 + 0.5) / 10000.0
                ELSE 0.0 END AS last_pack_fill
    FROM agg
    """


@register(
    "q_packing_efficiency",
    oracle=_packing_oracle(),
    doc="Packing-efficiency audit over text_seq_pack's concat-and-chunk "
    "layout: per source shard — pack count, document-straddle fraction "
    "(docs split across a pack boundary, the cost GPT-style packing "
    "pays vs doc-aware bin packing), and the final pack's fill rate "
    "(every other pack is exactly full by construction). Same per-shard "
    "running-sum window as the pack op; the audit itself is one tiny "
    "per-source aggregate, all integer-exact.",
    tags=("text", "pipeline", "audit"),
)
def q_packing_efficiency(spark: SparkSession, sf_dir: str) -> DataFrame:
    p = PACK_TOKENS
    toks = docs(spark, sf_dir).select(
        "doc_id", "source", F.size(words_col()).cast("bigint").alias("n_tokens")
    )
    w = (
        Window.partitionBy("source")
        .orderBy("doc_id")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    packed = toks.withColumn(
        "cum_before", F.coalesce(F.sum("n_tokens").over(w), F.lit(0))
    )
    agg = packed.groupBy("source").agg(
        F.count("*").cast("bigint").alias("n_docs"),
        F.sum("n_tokens").cast("bigint").alias("n_tokens"),
        F.floor((F.sum("n_tokens") + p - 1) / p).cast("bigint").alias("n_packs"),
        F.sum(
            F.when((F.col("cum_before") % p) + F.col("n_tokens") > p, 1).otherwise(0)
        )
        .cast("bigint")
        .alias("n_straddlers"),
    )
    return agg.select(
        "source",
        "n_docs",
        "n_tokens",
        "n_packs",
        "n_straddlers",
        pround(F.col("n_straddlers") / F.col("n_docs").cast("double")).alias(
            "straddle_frac"
        ),
        F.when(
            F.col("n_packs") > 0,
            pround(
                (F.col("n_tokens") - (F.col("n_packs") - 1) * p)
                / F.lit(float(p))
            ),
        )
        .otherwise(0.0)
        .alias("last_pack_fill"),
    )


# ==== bigram-LM perplexity and source KL ====================================
# Two standard corpus-curation scorers that need only the corpus itself:
#
# - ``q_ngram_perplexity`` — a bigram LM with Laplace smoothing fit on the
#   whole corpus, scoring every document by cross-entropy (bits/bigram).
#   This is the KenLM-perplexity filter of CCNet/Gopher-style pipelines
#   reduced to its n-gram essence: fluent in-distribution text scores low,
#   boilerplate/garbled text scores high. No external model artifact — the
#   LM "training" is two count aggregations over the same exploded bigram
#   set the scoring pass uses.
# - ``q_source_kl`` — KL divergence of each source's unigram distribution
#   against the corpus mixture: the drift/mixture diagnostic run before
#   reweighting sources (a source with high KL is lexically unlike the
#   blend the model will see).
#
# Scale shape at 100 TB: everything is (term)- or (bigram)-keyed aggregation
# — the same shuffle family as tf-idf/BM25. The LM count tables are
# vocabulary-bounded dimensions joined back on their own grouping key (no
# second shuffle of the exploded side under AQE: the bigram explode is
# aggregated per (doc, bigram) FIRST, so the join input is the compacted
# per-doc postings, not raw token streams). Outputs are per-doc/per-source
# rows — no all-pairs, no unbounded collect.


LAPLACE_K = 1.0  # add-one smoothing: exact, engine-agnostic


def _bigrams_over(w: str):
    """array<struct<prev,cur>> of adjacent token pairs over a
    MATERIALIZED token-array column named ``w`` — a plain column
    reference, safe inside lambdas (docs/SCALE.md pitfall #2: a computed
    expression here would re-evaluate the tokenizer split per element)."""
    return F.when(
        F.size(w) >= 2,
        F.transform(
            F.sequence(F.lit(1), F.size(w) - 1),
            lambda i: F.struct(
                F.element_at(w, i).alias("prev"),
                F.element_at(w, i + 1).alias("cur"),
            ),
        ),
    ).otherwise(F.array().cast("array<struct<prev:string,cur:string>>"))


# The ONE Laplace-smoothed bigram scoring contract, shared by the batch
# recompute, the artifact serve (same oracle) and the streaming scorer:
# bits(prev->cur) = -log2((c2 + K) / (c1 + K*V)). The oracle multiplies
# n * (bits) with the SAME association as lm_bits_expr so both engines
# evaluate the identical float expression tree.
_PPL_ORACLE = f"""
    WITH toks AS (
      SELECT doc_id, unnest({_TOKENS_SQL_DUCK}) AS term,
             generate_subscripts({_TOKENS_SQL_DUCK}, 1) AS pos
      FROM documents
    ), big AS (
      SELECT a.doc_id, a.term AS prev, b.term AS cur
      FROM toks a JOIN toks b
        ON b.doc_id = a.doc_id AND b.pos = a.pos + 1
    ), dbig AS (
      SELECT doc_id, prev, cur, COUNT(*) AS n
      FROM big GROUP BY doc_id, prev, cur
    ), bc AS (
      SELECT prev, cur, SUM(n) AS c2 FROM dbig GROUP BY prev, cur
    ), uc AS (
      SELECT prev, SUM(c2) AS c1 FROM bc GROUP BY prev
    ), vocab AS (
      SELECT COUNT(DISTINCT term) AS v FROM toks
    ), scored AS (
      SELECT d.doc_id,
             SUM(d.n) AS n_bigrams,
             SUM(d.n * (-LN((bc.c2 + {LAPLACE_K}) / (uc.c1 + {LAPLACE_K} * vocab.v))
                 / LN(2.0))) / SUM(d.n) AS h
      FROM dbig d
      JOIN bc ON bc.prev = d.prev AND bc.cur = d.cur
      JOIN uc ON uc.prev = d.prev
      CROSS JOIN vocab
      GROUP BY d.doc_id
    )
    SELECT doc_id, CAST(n_bigrams AS BIGINT) AS n_bigrams,
           FLOOR(h * 10000 + 0.5) / 10000.0 AS bits_per_bigram
    FROM scored
    ORDER BY bits_per_bigram DESC, doc_id LIMIT 50
    """


def lm_bits_expr(c2, c1, v):
    """-log2 of the Laplace-smoothed bigram probability — the Spark twin
    of _PPL_ORACLE's inner expression. ``c2``/``c1``/``v`` are Columns
    (or literals) so the batch, served and streaming callers share one
    formula; a smoothing change edits exactly here + _PPL_ORACLE."""
    return -F.log(
        (c2 + F.lit(LAPLACE_K)) / (c1 + F.lit(LAPLACE_K) * v)
    ) / F.lit(math.log(2.0))


@register(
    "q_ngram_perplexity",
    oracle=_PPL_ORACLE,
    doc="Bigram-LM cross-entropy per document (bits/bigram, Laplace "
    "smoothing, LM fit on the corpus itself) — the n-gram core of the "
    "CCNet/KenLM perplexity quality filter. Top-50 most-surprising docs. "
    "Plan: one (doc,bigram) explode+agg shuffle; the bigram/unigram count "
    "tables derive from THAT aggregate (vocabulary-bounded) and join back "
    "on their own grouping key; vocab size broadcasts as a 1-row stat.",
    tags=("text", "quality", "pipeline"),
)
def q_ngram_perplexity(spark: SparkSession, sf_dir: str) -> DataFrame:
    dbig = (
        docs(spark, sf_dir)
        .select("doc_id", tokens_col().alias("w"))
        .select("doc_id", F.explode(_bigrams_over("w")).alias("bg"))
        .groupBy("doc_id", "bg.prev", "bg.cur")
        .agg(F.count("*").alias("n"))
        # three consumers (bc/uc derivation and the scored join) would
        # each replay the corpus tokenize+shingle pass — persist the
        # bigram-count rows (vocabulary-bounded per doc) for the
        # query's duration instead (guide §5; lifecycle:
        # util.serve_persist)
        .persist()
    )
    bc = dbig.groupBy("prev", "cur").agg(F.sum("n").alias("c2"))
    uc = bc.groupBy("prev").agg(F.sum("c2").alias("c1"))
    vocab = (
        docs(spark, sf_dir)
        .select(F.explode(tokens_col()).alias("term"))
        .agg(F.count_distinct("term").alias("v"))
    )
    scored = (
        dbig.join(maybe_broadcast(bc), ["prev", "cur"])
        .join(maybe_broadcast(uc), "prev")
        .crossJoin(F.broadcast(vocab))
        .groupBy("doc_id")
        .agg(
            F.sum("n").cast("bigint").alias("n_bigrams"),
            (
                F.sum(
                    F.col("n")
                    * lm_bits_expr(F.col("c2"), F.col("c1"), F.col("v"))
                )
                / F.sum("n")
            ).alias("h"),
        )
    )
    out = scored.select(
        "doc_id", "n_bigrams", pround(F.col("h")).alias("bits_per_bigram")
    )
    # orderBy+limit compiles to TakeOrderedAndProject — per-partition
    # partial top-k then a 50-row merge, never a single-partition sort of
    # every doc (a global row_number window would be exactly that)
    return out.orderBy(F.desc("bits_per_bigram"), F.asc("doc_id")).limit(50)


@register(
    "q_source_kl",
    oracle=f"""
    WITH toks AS (
      SELECT source, unnest({_TOKENS_SQL_DUCK}) AS term FROM documents
    ), st AS (
      SELECT source, term, COUNT(*) AS c FROM toks GROUP BY source, term
    ), ct AS (
      SELECT term, SUM(c) AS cc FROM st GROUP BY term
    ), totals AS (
      SELECT SUM(c) AS n FROM st
    ), stot AS (
      SELECT source, SUM(c) AS ns FROM st GROUP BY source
    )
    SELECT st.source,
           CAST(MAX(stot.ns) AS BIGINT) AS n_tokens,
           FLOOR(SUM((st.c * 1.0 / stot.ns)
                     * LN((st.c * 1.0 / stot.ns) / (ct.cc * 1.0 / totals.n)))
                 * 10000 + 0.5) / 10000.0 AS kl_vs_corpus
    FROM st
    JOIN ct USING (term)
    JOIN stot USING (source)
    CROSS JOIN totals
    GROUP BY st.source
    ORDER BY kl_vs_corpus DESC, source
    """,
    doc="Per-source unigram KL divergence against the corpus mixture "
    "(nats) — the drift diagnostic run before source reweighting. Plan: "
    "one (source,term) agg shuffle; corpus term counts derive from that "
    "aggregate and join back term-keyed (vocabulary-bounded); totals "
    "broadcast as 1-row/source-count stats. Output is one row per source.",
    tags=("text", "mixture", "pipeline"),
)
def q_source_kl(spark: SparkSession, sf_dir: str) -> DataFrame:
    st = (
        docs(spark, sf_dir)
        .select("source", F.explode(tokens_col()).alias("term"))
        .groupBy("source", "term")
        .agg(F.count("*").alias("c"))
    )
    ct = st.groupBy("term").agg(F.sum("c").alias("cc"))
    totals = st.agg(F.sum("c").alias("n"))
    stot = st.groupBy("source").agg(F.sum("c").alias("ns"))
    ps = F.col("c") * F.lit(1.0) / F.col("ns")
    q = F.col("cc") * F.lit(1.0) / F.col("n")
    return (
        st.join(maybe_broadcast(ct), "term")
        .join(maybe_broadcast(stot), "source")
        .crossJoin(F.broadcast(totals))
        .groupBy("source")
        .agg(
            F.max("ns").cast("bigint").alias("n_tokens"),
            pround(F.sum(ps * F.log(ps / q))).alias("kl_vs_corpus"),
        )
        .orderBy(F.desc("kl_vs_corpus"), F.asc("source"))
    )


# -- served bigram LM (tokenize-once artifact) ------------------------------


def bigram_lm_index(spark: SparkSession, sf_dir: str) -> tuple[str, int]:
    """Build-once bigram-LM artifact for ``sf_dir``: the per-doc bigram
    count table (``dbig``) plus the LM count tables derived from it
    (``bc`` bigram totals, ``uc`` context totals) and the vocabulary
    size, snapshot-keyed like the BM25 index.

    At 100 TB "tokenize once, persist the postings" is the pipeline
    norm: the corpus explode+agg (the dominant cost of every LM-scoring
    pass) runs once per snapshot; re-scores — after a smoothing change,
    against a different threshold, in the streaming twin — read the
    compacted (doc, bigram) table, which is orders of magnitude smaller
    than raw text. bc/uc derive from the dbig parquet JUST written, not
    from its lazy lineage (same no-recompute rule as bm25_index).
    Returns (layout dir, vocab size)."""
    import json

    from roapi_spark.functions.snapshot import build_once, snapshot_cache_dir

    src = os.path.join(sf_dir, "documents.parquet")
    out = snapshot_cache_dir(src, "bigramlm-v1")

    def _ready(d: str) -> bool:
        return os.path.exists(os.path.join(d, "_LM_READY"))

    def _build(tmp: str) -> None:
        # ONE tokenize pass: the regex split (the dominant per-doc cost)
        # runs once into a materialized token-array table; both the
        # bigram aggregation and the vocab count (distinct UNIGRAMS —
        # single-token docs count, so bigram members alone are not
        # enough) derive from it. The checkpoint holds token ARRAYS
        # (≈ corpus text size) only for the duration of the build.
        wdocs = (
            docs(spark, sf_dir)
            .select("doc_id", tokens_col().alias("w"))
            .localCheckpoint(eager=False)
        )
        dbig = (
            wdocs.select("doc_id", F.explode(_bigrams_over("w")).alias("bg"))
            .groupBy("doc_id", "bg.prev", "bg.cur")
            .agg(F.count("*").alias("n"))
        )
        dbig.write.mode("overwrite").parquet(os.path.join(tmp, "dbig"))
        d2 = spark.read.parquet(os.path.join(tmp, "dbig"))
        bc = d2.groupBy("prev", "cur").agg(F.sum("n").alias("c2"))
        bc.write.mode("overwrite").parquet(os.path.join(tmp, "bc"))
        spark.read.parquet(os.path.join(tmp, "bc")).groupBy("prev").agg(
            F.sum("c2").alias("c1")
        ).write.mode("overwrite").parquet(os.path.join(tmp, "uc"))
        v = (
            wdocs.select(F.explode("w").alias("term"))
            .agg(F.count_distinct("term").alias("v"))
            .collect()[0][0]
        )
        with open(os.path.join(tmp, "_stats.json"), "w") as f:
            json.dump({"v": int(v)}, f)
        with open(os.path.join(tmp, "_LM_READY"), "w") as f:
            f.write("ok")

    build_once(out, _ready, _build)
    with open(os.path.join(out, "_stats.json")) as f:
        v = int(json.load(f)["v"])
    return out, v


@register(
    "q_ngram_perplexity_served",
    oracle=_PPL_ORACLE,
    doc="q_ngram_perplexity answered from the build-once bigramlm-v1 "
    "artifact instead of re-exploding raw text: the scoring pass reads "
    "the persisted per-doc bigram counts and joins the persisted LM "
    "count tables back on their own grouping keys (vocabulary-bounded, "
    "size-capped broadcast); the vocab size is a literal from the "
    "artifact stats. Same oracle, identical results — the pair "
    "(recompute vs served) mirrors q_bm25_topk / q_bm25_topk_served.",
    tags=("text", "quality", "pipeline"),
)
def q_ngram_perplexity_served(spark: SparkSession, sf_dir: str) -> DataFrame:
    out, v = bigram_lm_index(spark, sf_dir)
    dbig = spark.read.parquet(os.path.join(out, "dbig"))
    bc = spark.read.parquet(os.path.join(out, "bc"))
    uc = spark.read.parquet(os.path.join(out, "uc"))
    scored = (
        dbig.join(maybe_broadcast(bc), ["prev", "cur"])
        .join(maybe_broadcast(uc), "prev")
        .groupBy("doc_id")
        .agg(
            F.sum("n").cast("bigint").alias("n_bigrams"),
            (
                F.sum(
                    F.col("n")
                    * lm_bits_expr(F.col("c2"), F.col("c1"), F.lit(v))
                )
                / F.sum("n")
            ).alias("h"),
        )
    )
    out_df = scored.select(
        "doc_id", "n_bigrams", pround(F.col("h")).alias("bits_per_bigram")
    )
    return out_df.orderBy(F.desc("bits_per_bigram"), F.asc("doc_id")).limit(50)


# ==== trained logistic-regression quality head ==============================
# A distributed fixed-point logistic-regression quality-classifier
# trainer (``q_quality_lr_train`` / ``q_quality_lr_eval``); the streaming
# quality screen (streaming/docs.py) reuses its feature and score
# expressions.


# process-local memo: training is iterative (one tiny driver collect per
# step), so queries sharing a corpus reuse the learned weight trajectory
_LR_MEMO: dict[tuple, list[tuple]] = {}


# --- fixed-point logistic-regression quality classifier --------------------
#
# Distributed full-batch gradient descent, bit-exact across engines: the
# sigmoid is the "hard sigmoid" (clamped line — pure arithmetic, no
# exp()), weights live on an integer grid (scale LR_S), every per-row
# quantity is integer, and every gradient is an exact BIGINT sum. The
# only floats are x/const divisions of exact integers below 2^53, which
# IEEE754 defines identically everywhere — the same trick the k-means /
# PQ family uses for bit-for-bit oracles. Fixed-point training itself is
# standard practice (quantized/embedded ML); here it buys a DuckDB
# oracle that replays the ENTIRE training trajectory exactly.
#
# The task is CCNet-style quality-classifier distillation: cheap surface
# features (length, mean word length, stopword hits, alpha ratio — all
# centered at fixed constants) against a held rule label. At 100 TB each
# GD iteration is ONE scan of the cached feature projection (map-side
# partial sums, D+1=5 BIGINTs to the driver), T iterations total —
# the treeAggregate shape of MLlib's own linear trainers, made
# deterministic.

LR_S = 1024       # weight / probability fixed-point scale
LR_HALF = LR_S // 2
LR_T = 8          # GD iterations (unrolled in the oracle)
LR_DIV = 8.0      # learning-rate divisor: step = floor(g / (n * LR_DIV))
LR_SIG = 4.0      # hard-sigmoid slope divisor
LR_CLAMP = 16384  # weight clamp (16 * LR_S)
LR_D = 5          # features: bias + 4 surface stats

_LR_STOP_DUCK = "'the','a','and','of','to','in','is','it'"

_LR_FEAT_DUCK = f"""lrf AS MATERIALIZED (
      SELECT source,
             CASE WHEN 2 * sh + ml >= 12 THEN 1 ELSE 0 END AS y,
             CAST(1 AS BIGINT) AS x0,
             LEAST(CAST(FLOOR(nt / 16.0) AS BIGINT), 15) - 4 AS x1,
             LEAST(ml, 15) - 5 AS x2,
             LEAST(sh, 15) - 2 AS x3,
             LEAST(ar, 10) - 7 AS x4
      FROM (
        SELECT LEN(t) AS nt,
               CAST(FLOOR(LIST_SUM(LIST_TRANSFORM(t, w -> LENGTH(w))) * 1.0
                          / GREATEST(LEN(t), 1)) AS BIGINT) AS ml,
               CAST(LEN(LIST_FILTER(t, w -> w IN ({_LR_STOP_DUCK}))) AS BIGINT) AS sh,
               CAST(FLOOR(LENGTH(REGEXP_REPLACE(LOWER(text), '[^a-z]', '', 'g'))
                          * 10.0 / GREATEST(LENGTH(text), 1)) AS BIGINT) AS ar,
               source
        FROM (SELECT text, source, {_TOKENS_SQL_DUCK} AS t FROM documents)
      )
    )"""


def _lr_chain(n_iters: int = LR_T) -> str:
    """Shared oracle CTE chain: lrf features, w0..w{n} weight states,
    s0..s{n} per-iteration gradient/accuracy aggregates."""
    zeros = ", ".join(f"CAST(0 AS BIGINT) AS w{j}" for j in range(LR_D))
    parts = [_LR_FEAT_DUCK, f"w0 AS MATERIALIZED (SELECT {zeros})"]
    for i in range(n_iters + 1):
        u = " + ".join(f"(SELECT w{j} FROM w{i}) * x{j}" for j in range(LR_D))
        yhat = (
            f"LEAST({LR_S}, GREATEST(0, {LR_HALF} + "
            f"CAST(FLOOR(({u}) / {LR_SIG}) AS BIGINT)))"
        )
        gsums = ", ".join(
            f"CAST(SUM(({yhat} - y * {LR_S}) * x{j}) AS BIGINT) AS g{j}"
            for j in range(LR_D)
        )
        parts.append(
            f"""s{i} AS MATERIALIZED (
      SELECT COUNT(*) AS n, {gsums},
             SUM(CASE WHEN (CASE WHEN {yhat} >= {LR_HALF} THEN 1 ELSE 0 END) = y
                      THEN 1 ELSE 0 END) AS ok
      FROM lrf)"""
        )
        if i < n_iters:
            upd = ", ".join(
                f"GREATEST(-{LR_CLAMP}, LEAST({LR_CLAMP}, "
                f"(SELECT w{j} FROM w{i}) - CAST(FLOOR(g{j} / (n * {LR_DIV})) AS BIGINT)))"
                f" AS w{j}"
                for j in range(LR_D)
            )
            parts.append(f"w{i + 1} AS MATERIALIZED (SELECT {upd} FROM s{i})")
    return ",\n    ".join(parts)


def lr_feature_frame(base: DataFrame, extra_cols: list[str]) -> DataFrame:
    """The lrf feature projection over any frame carrying a ``text``
    column: (extra_cols..., y, x0..x4), all integer. Shared verbatim by
    the batch trainer and the streaming quality screen so the two paths
    can never drift."""

    t = tokens_col()
    nt = F.size(t)
    ml = F.floor(
        F.aggregate(
            F.transform(t, lambda w: F.length(w)), F.lit(0), lambda a, x: a + x
        )
        * 1.0
        / F.greatest(nt, F.lit(1))
    ).cast("bigint")
    sh = stopword_hits(t, STOPWORDS_EN).cast("bigint")
    ar = F.floor(
        F.length(F.regexp_replace(F.lower(F.col("text")), "[^a-z]", ""))
        * 10.0
        / F.greatest(F.length(F.col("text")), F.lit(1))
    ).cast("bigint")
    mid = base.select(
        *extra_cols,
        nt.cast("bigint").alias("nt"),
        ml.alias("ml"),
        sh.alias("sh"),
        ar.alias("ar"),
    )
    return mid.select(
        *extra_cols,
        F.when(2 * F.col("sh") + F.col("ml") >= 12, 1).otherwise(0).alias("y"),
        F.lit(1).cast("bigint").alias("x0"),
        (F.least(F.floor(F.col("nt") / 16.0).cast("bigint"), F.lit(15)) - 4).alias("x1"),
        (F.least(F.col("ml"), F.lit(15)) - 5).alias("x2"),
        (F.least(F.col("sh"), F.lit(15)) - 2).alias("x3"),
        (F.least(F.col("ar"), F.lit(10)) - 7).alias("x4"),
    )


def lr_score_cols(weights: list[int]) -> tuple[F.Column, F.Column]:
    """(yh, keep) columns for a feature frame under fixed-point weights
    — the serve-side scoring expression, shared by q_quality_lr_eval
    and the streaming screen."""
    u = sum((F.col(f"x{j}") * F.lit(int(weights[j]))) for j in range(LR_D))
    yh = F.least(
        F.lit(LR_S),
        F.greatest(F.lit(0), LR_HALF + F.floor(u / LR_SIG).cast("bigint")),
    )
    return yh, yh >= LR_HALF


def _lr_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Spark twin of the lrf CTE: (source, y, x0..x4), all integer."""
    return lr_feature_frame(docs(spark, sf_dir), ["source"])


def lr_train_state(
    spark: SparkSession, sf_dir: str, n_iters: int = LR_T
) -> list[tuple]:
    """Run the fixed-point GD; returns one row per weight state:
    (it, w0..w4, acc_num, n) with acc measured under that state's
    weights. Driver holds LR_D ints per iteration; each iteration is
    one aggregate over the cached feature projection."""

    path = os.path.join(sf_dir, "documents.parquet")
    key = (
        spark.sparkContext.applicationId,
        os.path.realpath(path),
        os.path.getmtime(path),
        "lr",
        n_iters,
    )
    hit = _LR_MEMO.get(key)
    if hit is not None:
        return hit

    f = _lr_features(spark, sf_dir).cache()
    w = [0] * LR_D
    rows: list[tuple] = []
    for it in range(n_iters + 1):
        u = sum((F.col(f"x{j}") * F.lit(int(w[j]))) for j in range(LR_D))
        yhat = F.least(
            F.lit(LR_S),
            F.greatest(F.lit(0), LR_HALF + F.floor(u / LR_SIG).cast("bigint")),
        )
        aggs = [F.count("*").alias("n")] + [
            F.sum((yhat - F.col("y") * LR_S) * F.col(f"x{j}"))
            .cast("bigint")
            .alias(f"g{j}")
            for j in range(LR_D)
        ] + [
            F.sum(
                F.when(
                    (F.when(yhat >= LR_HALF, 1).otherwise(0)) == F.col("y"), 1
                ).otherwise(0)
            ).alias("ok")
        ]
        s = f.agg(*aggs).collect()[0]
        rows.append((it, *[int(x) for x in w], int(s["ok"]), int(s["n"])))
        if it < n_iters:
            w = [
                max(
                    -LR_CLAMP,
                    min(
                        LR_CLAMP,
                        w[j] - math.floor(int(s[f"g{j}"]) / (int(s["n"]) * LR_DIV)),
                    ),
                )
                for j in range(LR_D)
            ]
    _LR_MEMO[key] = rows
    return rows


_LR_SCHEMA = T.StructType(
    [T.StructField("it", T.IntegerType())]
    + [T.StructField(f"w{j}", T.LongType()) for j in range(LR_D)]
    + [T.StructField("ok", T.LongType()), T.StructField("n", T.LongType())]
)


def _lr_train_oracle() -> str:
    rows = "\n      UNION ALL ".join(
        f"SELECT {i} AS it, "
        + ", ".join(f"(SELECT w{j} FROM w{i}) AS w{j}" for j in range(LR_D))
        + f", (SELECT CAST(ok AS BIGINT) FROM s{i}) AS ok"
        + f", (SELECT CAST(n AS BIGINT) FROM s{i}) AS n"
        + f", (SELECT {pround_sql('ok * 1.0 / n')} FROM s{i}) AS acc"
        for i in range(LR_T + 1)
    )
    return f"""
    WITH {_lr_chain()}
    SELECT * FROM ({rows}) ORDER BY it
    """


@register(
    "q_quality_lr_train",
    oracle=_lr_train_oracle(),
    doc="Distributed quality-classifier training (CCNet-style "
    "distillation of a rule label into a linear head): full-batch "
    "gradient descent on fixed-point integer weights with a hard-"
    f"sigmoid link, {LR_T} iterations, one row per weight state with "
    "its training accuracy — the whole trajectory is bit-exact across "
    "engines (integer gradients, IEEE-defined float division of exact "
    "ints), so the oracle replays training, not just the final state. "
    "Plan: per iteration ONE aggregate over the cached integer feature "
    "projection (map-side partials, 5 BIGINT sums to the driver) — "
    "MLlib's treeAggregate shape, deterministic.",
    tags=("text", "pipeline", "ml"),
)
def q_quality_lr_train(spark: SparkSession, sf_dir: str) -> DataFrame:
    rows = lr_train_state(spark, sf_dir)
    out = spark.createDataFrame(
        [(it, *ws_ok_n) for (it, *ws_ok_n) in rows], _LR_SCHEMA
    )
    return out.select(
        "it",
        *[F.col(f"w{j}") for j in range(LR_D)],
        "ok",
        "n",
        pround(F.col("ok") * 1.0 / F.col("n")).alias("acc"),
    ).orderBy("it")


@register(
    "q_quality_lr_eval",
    oracle=f"""
    WITH {_lr_chain()}
    SELECT source,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           {pround_sql('AVG(CASE WHEN yh >= ' + str(LR_HALF) + ' THEN 1.0 ELSE 0.0 END)')}
             AS pred_pos_rate,
           {pround_sql('AVG(CASE WHEN (CASE WHEN yh >= ' + str(LR_HALF) + ' THEN 1 ELSE 0 END) = y THEN 1.0 ELSE 0.0 END)')}
             AS agreement
    FROM (
      SELECT source, y,
             LEAST({LR_S}, GREATEST(0, {LR_HALF} + CAST(FLOOR((
               {' + '.join(f'(SELECT w{j} FROM w{LR_T}) * x{j}' for j in range(LR_D))}
             ) / {LR_SIG}) AS BIGINT))) AS yh
      FROM lrf
    )
    GROUP BY source ORDER BY source
    """,
    doc="Serve side of the trained quality head: per source, the "
    "predicted-positive rate and agreement with the rule label under "
    "the FINAL trained weights — the shard-level quality report a "
    "curation run reads before setting sampling rates. Plan: one scan "
    "of the feature projection with the weight vector inlined as "
    "literals (broadcast-free: 5 ints), one source-keyed agg.",
    tags=("text", "pipeline", "ml"),
)
def q_quality_lr_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    rows = lr_train_state(spark, sf_dir)
    w = list(rows[-1][1 : 1 + LR_D])
    f = _lr_features(spark, sf_dir)
    _yh, keep = lr_score_cols(w)
    pred = F.when(keep, 1).otherwise(0)
    return (
        f.select("source", "y", pred.alias("p"))
        .groupBy("source")
        .agg(
            F.count("*").cast("bigint").alias("n_docs"),
            pround(F.avg(F.when(F.col("p") == 1, 1.0).otherwise(0.0))).alias(
                "pred_pos_rate"
            ),
            pround(
                F.avg(F.when(F.col("p") == F.col("y"), 1.0).otherwise(0.0))
            ).alias("agreement"),
        )
        .orderBy("source")
    )
