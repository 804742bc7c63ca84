"""End-to-end training-data pipeline over the roapi_spark operators —
the chain a pretraining data team runs, composed from the registered
building blocks and staged as parquet snapshots:

  stage 0  crawl ingest     (opt-in) WARC scan -> robots/blocklist ->
                            HTML extraction -> canonical-URL dedup ->
                            documents snapshot (run(from_crawl=True))
  stage 1  quality gate     text_quality_logit keep + contamination drop
  stage 2  dedup            exact representative + LSH near-dup
                            representative (connected components)
  stage 2b span rewrite     dedup_span_rewrite cuts the duplicated
                            exact-substring spans that survive doc-level
                            dedup; docs left empty are dropped
  stage 3  plan + pack      mixture allocation table + GPT-style
                            sequence packing of the surviving corpus
  stage 4  ship             token-budget shard manifest + a closing
                            split-leakage audit (doc-level dedup should
                            have collapsed the cross-split twins)

Each stage WRITES a documents.parquet snapshot and the next stage runs
the registry operators against that directory — exercising the same
content-addressed artifact machinery (pair graphs, component labels) the
server uses: every derived snapshot gets its own cache keys, nothing is
served stale.

Usage:
    python examples/training_pipeline.py [sf_dir] [out_dir]

Prints one JSON summary line (doc counts per stage, packed sequence
count, per-source allocations).
"""

from __future__ import annotations

import json
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import DataFrame, SparkSession  # noqa: E402
from pyspark.sql import functions as F  # noqa: E402


def _docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    return spark.read.parquet(os.path.join(sf_dir, "documents.parquet"))


def _write_snapshot(df: DataFrame, out_dir: str) -> str:
    os.makedirs(out_dir, exist_ok=True)
    df.write.mode("overwrite").parquet(os.path.join(out_dir, "documents.parquet"))
    return out_dir


def stage0_crawl_ingest(spark: SparkSession, sf_dir: str, out_dir: str) -> str:
    """Crawl archives -> documents snapshot: the stage BEFORE everything
    else in a real pretraining pipeline. Scans WARC files (the 8-shard
    crawl fixture functions/crawl.py derives from sf_dir — standing in for a
    landing directory of real archives), keeps HTTP-200 responses,
    enforces robots.txt + the domain blocklist, extracts main text from
    HTML pages (charset-aware, fail-closed) or takes text/plain payloads
    verbatim, collapses duplicate-URL fetches on the canonical form, and
    writes a documents.parquet-shaped snapshot (doc_id/source parsed
    from the URL, lang re-predicted with the stopword language ID)."""
    from roapi_spark.functions.crawl import _extract_kernel, _read_warc
    from roapi_spark.functions.web import parse_robots

    # this crawl's policy: the wildcard group denies everything, our UA
    # group allows it — group selection must pick the right one
    robots_rules = parse_robots(
        "User-agent: *\nDisallow: /\n\nUser-agent: trainbot\nAllow: /\n",
        "trainbot",
    )
    from roapi_spark.functions.web import (
        canonical_url,
        registrable_domain,
        robots_allowed_col,
        url_host,
        url_path,
    )

    resp = _read_warc(spark, sf_dir, types="response")
    pages = resp.mapInPandas(
        _extract_kernel(schema_needs_text=True),
        "target_uri string, is_ok int, is_html int, norm_len bigint, "
        "extracted string",
    )
    # text/plain 200s carry the document verbatim; recover them from the
    # raw response rows (the extract kernel only handles text/html)
    plain = resp.filter(
        (F.col("http_status") == 200)
        & F.col("http_content_type").startswith("text/plain")
    ).select(
        "target_uri",
        F.trim(
            F.regexp_replace(F.col("payload").cast("string"), r"\s+", " ")
        ).alias("text"),
    )
    html = pages.filter(
        (F.col("is_html") == 1) & F.col("extracted").isNotNull()
    ).select("target_uri", F.col("extracted").alias("text"))
    fetched = html.unionByName(plain)

    canon = canonical_url(F.col("target_uri"))
    allowed = robots_allowed_col(url_path(canon), robots_rules)
    blocked = spark.createDataFrame([("tracker.net",)], "domain string")
    staged = (
        fetched.withColumn("canon", canon)
        .withColumn("domain", registrable_domain(url_host(F.col("canon"))))
        .filter(allowed)
        .join(F.broadcast(blocked), "domain", "left_anti")
        .withColumn(
            "doc_id",
            F.regexp_extract("canon", r"://[^/]+/[^/]+/(\d+)", 1).cast("bigint"),
        )
        .withColumn(
            "source", F.regexp_extract("canon", r"://[^/]+/([^/]+)/", 1)
        )
    )
    # canonical-URL dedup: duplicate fetches of one page collapse
    one_per_page = staged.groupBy("canon").agg(
        F.min("doc_id").alias("doc_id"),
        F.min("source").alias("source"),
        F.min("text").alias("text"),
    )
    # language ID on the EXTRACTED text (the original label is gone by
    # this point in a real crawl) — same stopword scorer as text_langid
    toks = F.filter(
        F.split(F.lower(F.col("text")), "[^a-z]+"), lambda x: F.length(x) > 0
    )
    n = F.greatest(F.size(toks), F.lit(1))

    def score(words: list[str]) -> F.Column:
        arr = F.array(*[F.lit(w) for w in words])
        return (
            F.size(F.filter(toks, lambda x: F.array_contains(arr, x))).cast(
                "double"
            )
            / n
        )

    s_en = score(["the", "a", "and", "of", "is"])
    s_de = score(["der", "die", "das", "und", "ist"])
    s_es = score(["el", "la", "de", "que", "es"])
    docs_shaped = one_per_page.select(
        "doc_id",
        "text",
        (
            F.when((s_en >= s_de) & (s_en >= s_es), "en")
            .when(s_de >= s_es, "de")
            .otherwise("es")
        ).alias("lang"),
        "source",
        F.length("text").cast("bigint").alias("n_chars"),
    )
    return _write_snapshot(docs_shaped, out_dir)


def stage1_quality(spark: SparkSession, sf_dir: str, out_dir: str) -> str:
    """Keep docs passing the linear quality head and not flagged as
    benchmark-contaminated."""
    from roapi_spark.functions.text import text_contamination, text_quality_logit

    keep_q = text_quality_logit(spark, sf_dir).filter("keep").select("doc_id")
    contaminated = (
        text_contamination(spark, sf_dir)
        .filter("contaminated")
        .select("doc_id")
    )
    kept = (
        _docs(spark, sf_dir)
        .join(keep_q, "doc_id", "semi")
        .join(contaminated, "doc_id", "anti")
    )
    return _write_snapshot(kept, out_dir)


def stage2_dedup(spark: SparkSession, sf_dir: str, out_dir: str) -> str:
    """Exact dedup (keep lowest doc_id per content hash), then near-dup
    dedup: keep only each LSH component's representative. Runs against
    the stage-1 snapshot, so the pair graph / component artifacts build
    fresh for this corpus."""
    from roapi_spark.functions.dedup import dedup_components, dedup_exact

    d = _docs(spark, sf_dir)
    exact_keep = dedup_exact(spark, sf_dir).select(
        F.col("keep_doc_id").alias("doc_id")
    )
    comp = dedup_components(spark, sf_dir)
    drop_near = comp.filter(F.col("doc_id") != F.col("component")).select("doc_id")
    kept = (
        d.join(exact_keep, "doc_id", "semi")
        .join(drop_near, "doc_id", "anti")
    )
    return _write_snapshot(kept, out_dir)


def stage2b_span_rewrite(spark: SparkSession, sf_dir: str, out_dir: str) -> str:
    """Cut corpus-duplicated exact-substring spans from the surviving
    docs (Lee et al.'s removal step — doc-level dedup keeps one twin per
    cluster, but shared boilerplate SPANS survive inside kept docs).
    Only docs that actually LOST tokens get their text replaced by the
    token reconstruction (clean_text is lowercase [a-z] tokens — a lossy
    normalization casing/digits/punctuation must not pay for free);
    untouched docs keep their original bytes, and docs cut to nothing
    are dropped (zero-token docs had nothing to dedup and pass)."""
    from roapi_spark.functions.curation import dedup_span_rewrite

    rw = dedup_span_rewrite(spark, sf_dir).filter(
        (F.col("n_kept") > 0) | (F.col("n_tokens") == 0)
    )
    kept = (
        _docs(spark, sf_dir)
        .join(rw.select("doc_id", "n_tokens", "n_kept", "clean_text"), "doc_id")
        .withColumn(
            "text",
            F.when(F.col("n_kept") < F.col("n_tokens"), F.col("clean_text")).otherwise(
                F.col("text")
            ),
        )
        .withColumn("n_chars", F.length("text").cast("bigint"))
        .select("doc_id", "text", "lang", "source", "n_chars")
    )
    return _write_snapshot(kept, out_dir)


def _cross_split_pairs(spark: SparkSession, sf_dir: str) -> int:
    from roapi_spark.functions.curation import q_split_leakage

    return sum(
        r.n_pairs
        for r in q_split_leakage(spark, sf_dir).collect()
        if r.split_a != r.split_b
    )


def stage4_ship(spark: SparkSession, sf_dir: str) -> tuple[int, int]:
    """Shard manifest for the final corpus + the closing leakage audit:
    near-dup pairs crossing the train/val/test boundary AFTER dedup."""
    from roapi_spark.functions.curation import q_token_budget_shards

    n_shards = q_token_budget_shards(spark, sf_dir).count()
    return n_shards, _cross_split_pairs(spark, sf_dir)


def stage3_plan_and_pack(spark: SparkSession, sf_dir: str) -> tuple[list, int]:
    from roapi_spark.functions.text import text_seq_pack
    from roapi_spark.functions.curation import q_mixture_allocation

    alloc = [r.asDict() for r in q_mixture_allocation(spark, sf_dir).collect()]
    packed = text_seq_pack(spark, sf_dir)
    n_packs = packed.select("source", "pack_id").distinct().count()
    return alloc, n_packs


def run(
    spark: SparkSession, sf_dir: str, out_dir: str, from_crawl: bool = False
) -> dict:
    crawl_docs = None
    if from_crawl:
        # start from crawl archives instead of a curated documents table
        sf_dir = stage0_crawl_ingest(
            spark, sf_dir, os.path.join(out_dir, "stage0")
        )
        crawl_docs = _docs(spark, sf_dir).count()
    n0 = _docs(spark, sf_dir).count()
    s1 = stage1_quality(spark, sf_dir, os.path.join(out_dir, "stage1"))
    n1 = _docs(spark, s1).count()
    s2 = stage2_dedup(spark, s1, os.path.join(out_dir, "stage2"))
    n2 = _docs(spark, s2).count()
    s2b = stage2b_span_rewrite(spark, s2, os.path.join(out_dir, "stage2b"))
    n2b = _docs(spark, s2b).count()
    alloc, n_packs = stage3_plan_and_pack(spark, s2b)
    n_shards, leak = stage4_ship(spark, s2b)
    leak_before = _cross_split_pairs(spark, sf_dir)
    bpe_fert, lr_acc = stage5_tokenizer_audit(spark, s2b)
    return {
        "crawl_docs": crawl_docs,
        "input_docs": n0,
        "cross_split_leak_pairs_before": leak_before,
        "after_quality": n1,
        "after_dedup": n2,
        "after_span_rewrite": n2b,
        "n_packs": n_packs,
        "n_shards": n_shards,
        "cross_split_leak_pairs": leak,
        "allocations": alloc,
        "bpe_fertility_by_source": bpe_fert,
        "quality_head_final_acc": lr_acc,
        "final_snapshot": s2b,
    }


def stage5_tokenizer_audit(spark: SparkSession, sf_dir: str):
    """Close the loop on the SHIPPED corpus: train the BPE merge table
    on the final snapshot and read its per-source fertility (does any
    surviving shard fragment under the vocabulary?), and distill the
    quality rule into the fixed-point LR head (the classifier a serving
    tier would run on future crawl batches). Both are build-once
    artifacts keyed to this snapshot."""
    from roapi_spark.functions.text import lr_train_state
    from roapi_spark.functions.tokenizer import text_bpe_fertility_served

    fert = {
        r.source: float(r.fertility)
        for r in text_bpe_fertility_served(spark, sf_dir).collect()
    }
    rows = lr_train_state(spark, sf_dir)
    _, *_w, ok, n = rows[-1]
    return fert, round(ok / max(n, 1), 4)


def main() -> None:
    from roapi_spark.session import get_spark

    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.001"
    out_dir = sys.argv[2] if len(sys.argv) > 2 else os.path.join(
        os.path.dirname(os.path.abspath(__file__)), "..", ".scratch", "pipeline"
    )
    spark = get_spark("training-pipeline")
    summary = run(spark, sf_dir, os.path.abspath(out_dir))
    print(json.dumps(summary))


if __name__ == "__main__":
    main()
