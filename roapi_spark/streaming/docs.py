"""Streaming incremental dedup: new documents LSH-checked against the
existing corpus — the dedup-on-ingest shape a training-data landing zone
runs (batch `dedup_minhash_lsh` answers "which pairs in the corpus";
this answers "is this NEW doc a near-dup of anything we already have"
without rescanning the corpus per arrival).

Structured-Streaming design:
- The corpus side is a STATIC band table (banded MinHash signatures)
  built once per corpus snapshot and pinned with an eager checkpoint —
  the stream-static join re-reads only this compact table (~4 rows/doc),
  never the corpus text. At 100 TB the band table is the artifact the
  batch pipeline already materializes.
- The stream side computes signatures with the same map-side integer
  expressions as the batch operator (dedup.py:204-233), inline per
  micro-batch. No localCheckpoint barrier is available on a streaming
  plan, so the base-hash transform is re-inlined into the 12 signature
  lambdas — acceptable at ingest rates; the batch path keeps the
  barrier.
- Band matches collapse to one row per (new doc, matched doc) via
  ``dropDuplicatesWithinWatermark`` keyed on the pair — state is bounded
  by the watermark horizon, exactly like ``dedup_stream``.
"""

from __future__ import annotations

import pyspark.sql.types as T
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from roapi_spark.functions.dedup import (
    N_MINHASH,
    band_col as _band_col,
    minhash_signatures,
    shingle_array_of,
)
from roapi_spark.functions.text import docs as corpus_docs, tokens_col

DOCS_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.LongType()),
        T.StructField("text", T.StringType()),
        T.StructField("ts", T.TimestampType()),
    ]
)

# >= 6 of 12 matching minhashes ~ est Jaccard >= 0.5
MIN_SIG_MATCHES = 6


def stream_docs(spark: SparkSession, path: str, fmt: str = "json") -> DataFrame:
    return spark.readStream.schema(DOCS_SCHEMA).format(fmt).load(path)


def corpus_band_table(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(match_id, band_id, band_sig, match_sig) for the existing corpus,
    hot-band-capped and PERSISTED per corpus snapshot (build_once +
    content-addressed key, like every other serving artifact): the
    static side of every stream-static lookup is a parquet read — the
    corpus is hashed once per snapshot, never per stream start."""
    import os

    from roapi_spark.functions.dedup import BAND_CAP
    from roapi_spark.functions.snapshot import (
        build_once,
        parquet_ready,
        snapshot_cache_dir,
    )
    from pyspark.sql import Window as W

    src = os.path.join(sf_dir, "documents.parquet")
    out = snapshot_cache_dir(src, "streambands-v1")

    def _build(tmp: str) -> None:
        sigs = minhash_signatures(corpus_docs(spark, sf_dir))
        bands = (
            sigs.select(
                F.col("doc_id").alias("match_id"),
                F.col("sig").alias("match_sig"),
                F.explode(_band_col(F.col("sig"))).alias("band"),
            )
            .select("match_id", "match_sig", "band.band_id", "band.band_sig")
        )
        wcap = W.partitionBy("band_id", "band_sig")
        (
            bands.withColumn("bn", F.count("*").over(wcap))
            .filter(F.col("bn") <= BAND_CAP)
            .drop("bn")
            .write.mode("overwrite")
            .parquet(tmp)
        )

    build_once(out, parquet_ready, _build)
    return spark.read.parquet(out)


def lsh_match_stream(
    stream: DataFrame,
    corpus_bands: DataFrame,
    watermark: str = "10 seconds",
    min_matches: int = MIN_SIG_MATCHES,
) -> DataFrame:
    """(doc_id, ts, match_id, n_matches): each arriving document joined
    to corpus docs sharing an LSH band, verified by the full-signature
    match count, one row per pair within the watermark horizon."""
    s = stream.withWatermark("ts", watermark)
    sh = s.select(
        "doc_id", "ts", shingle_array_of(tokens_col()).alias("sh")
    ).filter(F.size("sh") >= 1)
    base = F.transform(
        F.col("sh"),
        lambda x: F.conv(F.substring(F.md5(x), 1, 8), 16, 10).cast("bigint"),
    )
    from roapi_spark.functions.dedup import MH_P

    sig = F.transform(
        F.sequence(F.lit(0), F.lit(N_MINHASH - 1)),
        lambda k: F.array_min(
            F.transform(F.col("hs"), lambda h: (k * 2 + 3) * h % MH_P)
        ),
    )
    sigs = sh.select("doc_id", "ts", base.alias("hs")).select(
        "doc_id", "ts", sig.alias("sig")
    )
    banded = sigs.select(
        "doc_id", "ts", "sig", F.explode(_band_col(F.col("sig"))).alias("band")
    ).select("doc_id", "ts", "sig", "band.band_id", "band.band_sig")
    n_matches = F.size(
        F.filter(
            F.zip_with(F.col("sig"), F.col("match_sig"), lambda a, b: a == b),
            lambda e: e,
        )
    )
    joined = (
        banded.join(corpus_bands, ["band_id", "band_sig"])
        .select("doc_id", "ts", "match_id", n_matches.alias("n_matches"))
        .filter(F.col("n_matches") >= min_matches)
    )
    return joined.dropDuplicatesWithinWatermark(["doc_id", "match_id"])


def corpus_gram_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distinct md5 digests of every positional K-gram in the corpus
    (``spanidx-k{K}-v1``; the tag encodes the gram width), persisted per snapshot: the static side of the
    streaming span screen. This is the relational form of what Lee et
    al.'s suffix array materializes — linear in corpus tokens (16 B per
    distinct gram), built once, never rebuilt per stream start."""
    import os

    from roapi_spark.functions.curation import REWRITE_K, _positional_grams, _toks
    from roapi_spark.functions.snapshot import (
        build_once,
        parquet_ready,
        snapshot_cache_dir,
    )

    src = os.path.join(sf_dir, "documents.parquet")
    out = snapshot_cache_dir(src, f"spanidx-k{REWRITE_K}-v1")

    def _build(tmp: str) -> None:
        (
            _toks(spark, sf_dir)
            .filter(F.size("w") >= REWRITE_K)
            .select(F.explode(_positional_grams(F.col("w"))).alias("gram"))
            .select(F.md5("gram").alias("g"))
            .distinct()
            .write.mode("overwrite")
            .parquet(tmp)
        )

    build_once(out, parquet_ready, _build)
    return spark.read.parquet(out)


def span_clean_stream(
    stream: DataFrame,
    gram_idx: DataFrame,
    watermark: str = "10 seconds",
) -> DataFrame:
    """(doc_id, ts, n_tokens, n_kept, clean_text): arriving documents
    with every K-token span that already appears ANYWHERE in the corpus
    cut out — the ingest-time twin of ``dedup_span_rewrite``. Semantics
    differ deliberately: the batch op cuts spans duplicated WITHIN the
    corpus (count > 1); the stream screens NEW text against the corpus,
    where one prior occurrence already makes the arriving span a
    duplicate.

    Shape: positional grams per arriving doc, one stream-static left
    join against the gram-digest artifact (at real scale: a bucketed or
    bloom-pruned lookup), covered starts re-aggregated per (doc_id, ts)
    under the watermark, then the same map-side cut-and-reassemble as
    the batch rebuild. Docs shorter than K bypass the join entirely."""
    from roapi_spark.functions.curation import REWRITE_K, _positional_grams

    s = stream.withWatermark("ts", watermark)
    toks = s.select("doc_id", "ts", tokens_col().alias("w"))
    long_docs = toks.filter(F.size("w") >= REWRITE_K)
    # carry the token array on ONLY the i=0 gram row (every long doc has
    # one): shipping `w` on every exploded row would make per-doc shuffle
    # volume O(n_tokens^2) through the stream-static join — the module
    # rule is "shuffle digests, never token text", and one array copy per
    # doc is the floor the rebuild needs
    g = long_docs.select(
        "doc_id",
        "ts",
        "w",
        F.posexplode(_positional_grams(F.col("w"))).alias("i", "gram"),
    ).select(
        "doc_id",
        "ts",
        F.when(F.col("i") == 0, F.col("w")).alias("w"),
        "i",
        F.md5("gram").alias("g"),
    )
    marked = g.join(
        gram_idx.select(F.col("g"), F.lit(True).alias("hit")), "g", "left"
    )
    agg = marked.groupBy("doc_id", "ts").agg(
        F.first("w", ignorenulls=True).alias("w"),
        F.collect_set(F.when(F.col("hit"), F.col("i"))).alias("starts"),
    )
    covered = F.array_distinct(
        F.flatten(
            F.transform(
                F.col("starts"), lambda s_: F.sequence(s_, s_ + (REWRITE_K - 1))
            )
        )
    )
    kept = F.filter(F.col("w"), lambda x, i: ~F.array_contains(F.col("cov"), i))
    cleaned_long = (
        agg.withColumn("cov", covered)
        .select(
            "doc_id",
            "ts",
            F.size("w").cast("bigint").alias("n_tokens"),
            kept.alias("kw"),
        )
        .select(
            "doc_id",
            "ts",
            "n_tokens",
            F.size("kw").cast("bigint").alias("n_kept"),
            F.concat_ws(" ", F.col("kw")).alias("clean_text"),
        )
    )
    short_docs = toks.filter(F.size("w") < REWRITE_K).select(
        "doc_id",
        "ts",
        F.size("w").cast("bigint").alias("n_tokens"),
        F.size("w").cast("bigint").alias("n_kept"),
        F.concat_ws(" ", F.col("w")).alias("clean_text"),
    )
    return cleaned_long.unionByName(short_docs)


def quality_screen_stream(stream: DataFrame, weights: list[int]) -> DataFrame:
    """Quality-gate arriving documents with the trained fixed-point LR
    head (functions.text): per doc the rule label, the scaled
    score, and the keep decision.

    This is the landing-zone screen in front of the corpus: the batch
    trainer distills the expensive rule once per snapshot, and ingest
    applies the 5-int weight vector as a STATELESS map-side projection —
    zero state, zero shuffle, throughput bounded only by ingest. The
    feature expressions are imported from the batch trainer
    (lr_feature_frame), so the two paths cannot drift."""
    from roapi_spark.functions.text import lr_feature_frame, lr_score_cols

    feats = lr_feature_frame(stream, ["doc_id", "ts"])
    yh, keep = lr_score_cols(weights)
    return feats.select(
        "doc_id",
        "ts",
        F.col("y").alias("rule_label"),
        yh.alias("score_scaled"),
        keep.alias("keep"),
    )
