"""Retrieval operators: the term-keyed inverted index, BM25 scoring (batch
and served from a build-once index), and the recall audits of the
approximate nearest-neighbour searches in similarity.py / pq.py.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from roapi_spark.functions.text import _TOKENS_SQL_DUCK, docs, tokens_col
from roapi_spark.plans.registry import register
from roapi_spark.plans.util import maybe_broadcast
from roapi_spark.util import pround, serve_persist


# ==== inverted index ========================================================


MIN_DF = 10
POSTINGS_CAP = 50


@register(
    "q_inverted_index",
    oracle=f"""
    WITH tok AS (
      SELECT doc_id,
             unnest(list_distinct(list_filter(
               string_split_regex(lower(text), '[^a-z]+'),
               x -> length(x) > 0))) AS token
      FROM documents
    )
    SELECT token, CAST(COUNT(*) AS BIGINT) AS df,
           array_to_string(
             list_slice(LIST(doc_id ORDER BY doc_id), 1, {POSTINGS_CAP}),
             ',') AS postings
    FROM tok GROUP BY token HAVING COUNT(*) >= {MIN_DF}
    """,
    doc="Inverted-index (posting list) construction: distinct (token, "
    f"doc_id) pairs, grouped by token with df >= {MIN_DF} and postings "
    f"capped at {POSTINGS_CAP} ids. The shuffle key is the token; at "
    "100 TB the full lists would be range-bucketed by token instead of "
    "capped — the cap here bounds result-row width, not the build. "
    "Postings are emitted as a ','-joined string (like q_array_agg) so "
    "every comparison harness can sort/hash the frame.",
    tags=("text",),
)
def q_inverted_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = docs(spark, sf_dir)
    tok = d.select(
        "doc_id",
        F.explode(
            F.array_distinct(
                F.filter(
                    F.split(F.lower(F.col("text")), "[^a-z]+"),
                    lambda x: F.length(x) > 0,
                )
            )
        ).alias("token"),
    )
    return (
        tok.groupBy("token")
        .agg(
            F.count("*").cast("bigint").alias("df"),
            F.array_join(
                F.transform(
                    F.slice(F.array_sort(F.collect_list("doc_id")), 1, POSTINGS_CAP),
                    lambda x: x.cast("string"),
                ),
                ",",
            ).alias("postings"),
        )
        .filter(F.col("df") >= MIN_DF)
    )


# ==== ANN recall audits =====================================================
# Recall@5 of each approximate search in similarity.py / pq.py against
# the exact brute-force neighbours.


# -- ANN recall audit --------------------------------------------------------


def _recall_oracle(query_name: str) -> str:
    """Compose any registered approximate-search query's oracle with the
    exact brute-force oracle as nested CTEs (DuckDB allows a WITH inside
    a CTE body) into ONE recall@TOP_K audit — the single source of the
    overlap/rounding recipe for every per-family recall query. Imports
    the registering modules directly (their @register calls populate
    QUERIES) instead of load_all(), which would re-enter the registry's
    import chain mid-import."""
    import roapi_spark.functions.pq  # noqa: F401
    import roapi_spark.functions.similarity  # noqa: F401
    from roapi_spark.functions.similarity import TOP_K
    from roapi_spark.plans.registry import QUERIES

    approx = QUERIES[query_name].oracle
    exact = QUERIES["knn_bruteforce"].oracle
    return f"""
    WITH approx AS ({approx}), exact AS ({exact}),
    ov AS (
      SELECT i.qid, COUNT(*) AS hits
      FROM approx i JOIN exact e ON e.qid = i.qid AND e.neighbor_id = i.neighbor_id
      GROUP BY i.qid
    ),
    q AS (SELECT DISTINCT qid FROM exact)
    SELECT CAST(COUNT(*) AS BIGINT) AS n_queries,
           FLOOR(AVG(COALESCE(ov.hits, 0) / {float(TOP_K)}) * 10000 + 0.5) / 10000.0
             AS recall_at_5
    FROM q LEFT JOIN ov USING (qid)
    """


def _ann_recall_pair(spark, sf_dir, ann_df):
    from roapi_spark.functions.similarity import TOP_K, knn_bruteforce

    # the exact top-5 feeds BOTH the overlap join and the query-set
    # distinct: persist the (N_QUERIES x TOP_K)-row result so the
    # brute-force self-join runs once per recall audit, not twice
    # (guide §5; fixes all six q_*_recall gates)
    exact = serve_persist(
        knn_bruteforce(spark, sf_dir).select("qid", "neighbor_id")
    )
    ov = (
        ann_df.select("qid", "neighbor_id")
        .join(exact, ["qid", "neighbor_id"])
        .groupBy("qid")
        .agg(F.count("*").alias("hits"))
    )
    q = exact.select("qid").distinct()
    return q.join(ov, "qid", "left").agg(
        F.count("*").cast("bigint").alias("n_queries"),
        pround(
            F.avg(F.coalesce("hits", F.lit(0)) / F.lit(float(TOP_K)))
        ).alias("recall_at_5"),
    )


@register(
    "q_ann_recall",
    oracle=_recall_oracle("ann_ivf_kmeans"),
    doc="ANN recall audit: recall@5 of the IVF-k-means search against "
    "the exact brute-force top-5 — THE number an ANN deployment tunes "
    "nprobe/list-count by. Composes the two registered operators (IVF "
    "serves from its partition-pruned layout; brute force scans once); "
    "the overlap join and average touch N_QUERIES rows.",
    tags=("similarity", "audit"),
)
def q_ann_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    from roapi_spark.functions.similarity import ann_ivf_kmeans

    return _ann_recall_pair(spark, sf_dir, ann_ivf_kmeans(spark, sf_dir))




@register(
    "q_ann_recall_nprobe",
    oracle=_recall_oracle("ann_ivf_nprobe"),
    doc="Recall@5 of the multi-probe IVF variant — paired with "
    "q_ann_recall (single probe) this is the nprobe dial measured: more "
    "probed lists, higher recall, more rows scanned (the ivf_probed_rows "
    "figure in docs/SCALE.md).",
    tags=("similarity", "audit"),
)
def q_ann_recall_nprobe(spark: SparkSession, sf_dir: str) -> DataFrame:
    from roapi_spark.functions.similarity import ann_ivf_nprobe

    return _ann_recall_pair(spark, sf_dir, ann_ivf_nprobe(spark, sf_dir))




@register(
    "q_lsh_recall",
    oracle=_recall_oracle("ann_lsh"),
    doc="Recall@5 of the hyperplane-LSH search against the exact "
    "brute-force top-5 — the quality axis for the hashing index family, "
    "completing the per-family audit trio (IVF: q_ann_recall/_nprobe; "
    "LSH: here; PQ: q_pq_recall). A single 8-bit signature family trades "
    "recall for a 1/2^8 expected bucket scan; this query is the measured "
    "price. Same N_QUERIES-bounded overlap join as the IVF audits.",
    tags=("similarity", "audit"),
)
def q_lsh_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    from roapi_spark.functions.similarity import ann_lsh

    return _ann_recall_pair(spark, sf_dir, ann_lsh(spark, sf_dir))




@register(
    "q_pq_recall",
    oracle=_recall_oracle("ann_pq_adc"),
    doc="Recall@5 of the product-quantized ADC search against the exact "
    "brute-force top-5 — the measured quantization loss of the ~256x "
    "code compression (the number that justifies, or indicts, M and K "
    "for a corpus). Same N_QUERIES-bounded overlap join as the other "
    "recall audits.",
    tags=("similarity", "audit"),
)
def q_pq_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    from roapi_spark.functions.pq import ann_pq_adc

    return _ann_recall_pair(spark, sf_dir, ann_pq_adc(spark, sf_dir))




@register(
    "q_pq_rerank_recall",
    oracle=_recall_oracle("ann_ivfpq_rerank"),
    doc="Recall@5 of IVF-PQ WITH exact re-ranking — the after picture to "
    "q_pq_recall's raw ADC number: the refine stage re-scores a "
    "constant-size shortlist with exact distances, recovering the "
    "accuracy the code compression threw away at O(C) extra work per "
    "query. Paired with q_pq_recall this is the measured value of the "
    "refine knob. Same N_QUERIES-bounded overlap join.",
    tags=("similarity", "audit"),
)
def q_pq_rerank_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    from roapi_spark.functions.pq import ann_ivfpq_rerank

    return _ann_recall_pair(spark, sf_dir, ann_ivfpq_rerank(spark, sf_dir))




@register(
    "q_lsh_multi_recall",
    oracle=_recall_oracle("ann_lsh_multi"),
    doc="Recall@5 of the multi-table LSH search — the after picture to "
    "q_lsh_recall's single-table 0.00: L independent tables give each "
    "true neighbor L collision chances (1-(1-p^k)^L), the measured value "
    "of the L-tables knob. Same N_QUERIES-bounded overlap join.",
    tags=("similarity", "audit"),
)
def q_lsh_multi_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    from roapi_spark.functions.similarity import ann_lsh_multi

    return _ann_recall_pair(spark, sf_dir, ann_lsh_multi(spark, sf_dir))


# ==== BM25 ==================================================================
# BM25 joins the tf-idf keyterm operator (text.text_tfidf_topk) as the
# other standard lexical relevance scorer — the one retrieval deployments
# (and RAG data curation: picking corpus passages relevant to a
# benchmark/query set) actually rank with, since it adds document-length
# normalization and the saturating tf term that plain tf-idf lacks.
#
# Scale shape (the part that matters at 100 TB): query terms and the df
# table are vocabulary-bounded dimensions; the only big join is posting
# lists (term-keyed — the same key the tf aggregation already shuffled on)
# against a broadcast query-term set, then one doc-keyed agg and a
# bounded top-k window per query. No all-pairs, no global sort.


# BM25 constants (the standard Robertson/Lucene defaults)
BM25_K1 = 1.2
BM25_B = 0.75
N_QUERY_DOCS = 5  # doc_id < 5 are the query set, like knn's vec_id rule
BM25_TOPK = 10


_BM25_ORACLE = f"""
    WITH toks AS (
      SELECT doc_id, unnest({_TOKENS_SQL_DUCK}) AS term FROM documents
    ), tf AS (
      SELECT doc_id, term, COUNT(*) AS tf FROM toks
      WHERE doc_id >= {N_QUERY_DOCS} GROUP BY doc_id, term
    ), dl AS (
      SELECT doc_id, CAST(SUM(tf) AS DOUBLE) AS dl FROM tf GROUP BY doc_id
    ), stats AS (
      SELECT COUNT(*) AS n_docs, AVG(dl) AS avgdl FROM dl
    ), dfreq AS (
      SELECT term, COUNT(*) AS df FROM tf GROUP BY term
    ), qterms AS (
      SELECT DISTINCT doc_id AS qid, term FROM toks
      WHERE doc_id < {N_QUERY_DOCS}
    ), contrib AS (
      SELECT q.qid, tf.doc_id,
             LN((stats.n_docs - dfreq.df + 0.5) / (dfreq.df + 0.5) + 1.0)
               * tf.tf * ({BM25_K1} + 1.0)
               / (tf.tf + {BM25_K1} * (1.0 - {BM25_B}
                                       + {BM25_B} * dl.dl / stats.avgdl))
               AS c
      FROM qterms q
      JOIN dfreq USING (term)
      JOIN tf ON tf.term = q.term
      JOIN dl ON dl.doc_id = tf.doc_id
      CROSS JOIN stats
    ), scored AS (
      SELECT qid, doc_id,
             FLOOR(SUM(c) * 10000 + 0.5) / 10000.0 AS score
      FROM contrib GROUP BY qid, doc_id
    ), ranked AS (
      SELECT *, ROW_NUMBER() OVER (PARTITION BY qid
                                   ORDER BY score DESC, doc_id ASC) AS rank
      FROM scored
    )
    SELECT qid, doc_id, score, CAST(rank AS BIGINT) AS rank
    FROM ranked WHERE rank <= {BM25_TOPK}
    """


@register(
    "q_bm25_topk",
    oracle=_BM25_ORACLE,
    doc="BM25 top-10 retrieval: the first 5 documents are the query set, "
    "the rest the corpus. Plan: one (doc_id, term)-keyed tf shuffle "
    "feeding df + doclen aggregates (vocabulary / corpus-row bounded), "
    "query-term x posting-list equi-join on term (query side broadcast), "
    "doc-keyed score agg, per-query top-k window over query-count-bounded "
    "rows. Same query-set convention as knn_bruteforce (doc_id < 5).",
    tags=("text", "retrieval", "pipeline"),
)
def q_bm25_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    toks = docs(spark, sf_dir).select(
        "doc_id", F.explode(tokens_col()).alias("term")
    )
    tf = (
        toks.filter(F.col("doc_id") >= N_QUERY_DOCS)
        .groupBy("doc_id", "term")
        .agg(F.count("*").alias("tf"))
    )
    dl = tf.groupBy("doc_id").agg(F.sum("tf").cast("double").alias("dl"))
    stats = dl.agg(
        F.count("*").alias("n_docs"), F.avg("dl").alias("avgdl")
    )
    dfreq = tf.groupBy("term").agg(F.count("*").alias("df"))
    qterms = (
        toks.filter(F.col("doc_id") < N_QUERY_DOCS)
        .select(F.col("doc_id").alias("qid"), "term")
        .distinct()
    )
    contrib = (
        qterms.join(maybe_broadcast(dfreq), "term")
        .join(tf, "term")
        .join(dl, "doc_id")
        .crossJoin(F.broadcast(stats))  # 1 row
        .select(
            "qid",
            "doc_id",
            (
                F.log(
                    (F.col("n_docs") - F.col("df") + F.lit(0.5))
                    / (F.col("df") + F.lit(0.5))
                    + F.lit(1.0)
                )
                * F.col("tf")
                * F.lit(BM25_K1 + 1.0)
                / (
                    F.col("tf")
                    + F.lit(BM25_K1)
                    * (
                        F.lit(1.0 - BM25_B)
                        + F.lit(BM25_B) * F.col("dl") / F.col("avgdl")
                    )
                )
            ).alias("c"),
        )
    )
    scored = contrib.groupBy("qid", "doc_id").agg(pround(F.sum("c")).alias("score"))
    w = Window.partitionBy("qid").orderBy(F.desc("score"), F.asc("doc_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w).cast("bigint"))
        .filter(F.col("rank") <= BM25_TOPK)
    )


# ---------------------------------------------------------------------------
# Round 7: the serve-path half of BM25. q_bm25_topk above recomputes
# tokenization + three aggregates from raw text on every call — the right
# shape for a one-shot batch score, the wrong one for a retrieval endpoint.
# bm25_index materializes the classic inverted index once per corpus
# snapshot (content-addressed via the parquet footer digest, same lifecycle
# as ivf_layout / the LSH pair graphs); q_bm25_topk_served answers from it.

N_PBUCKETS = 64  # term-hash partition fan-out of the postings layout


def bm25_index(spark: SparkSession, sf_dir: str) -> tuple[str, int, float]:
    """Build-once BM25 inverted index for ``sf_dir``: postings parquet
    (term, doc_id, tf, dl — doc length denormalized onto every posting so
    serving never joins a doc-keyed table) partitioned by ``pb =
    crc32(term) % N_PBUCKETS``, a document-frequency table, and the two
    scalar stats. The pb partitioning is what makes serving an INDEX READ
    instead of a scan: a query's terms map to a handful of pb values, so
    the FileScan carries PartitionFilters and reads only those posting
    shards. Returns (layout dir, n_docs, avgdl)."""
    import json

    from roapi_spark.functions.snapshot import build_once, snapshot_cache_dir

    src = os.path.join(sf_dir, "documents.parquet")
    out = snapshot_cache_dir(src, "bm25-v1")

    def _ready(d: str) -> bool:
        return os.path.exists(os.path.join(d, "_BM25_READY"))

    def _build(tmp: str) -> None:
        toks = docs(spark, sf_dir).select(
            "doc_id", F.explode(tokens_col()).alias("term")
        )
        tf = (
            toks.filter(F.col("doc_id") >= N_QUERY_DOCS)
            .groupBy("doc_id", "term")
            .agg(F.count("*").alias("tf"))
        )
        dl = tf.groupBy("doc_id").agg(F.sum("tf").cast("double").alias("dl"))
        postings = (
            tf.join(dl, "doc_id")
            .withColumn("pb", F.crc32(F.col("term")) % N_PBUCKETS)
        )
        postings.repartition("pb").write.mode("overwrite").partitionBy(
            "pb"
        ).parquet(os.path.join(tmp, "postings"))
        # dfreq and the scalar stats derive from the postings JUST
        # written, not from tf's lazy lineage: re-running that lineage
        # would pay the corpus tokenize + tf shuffle (the dominant build
        # cost) three times instead of once — the compacted postings are
        # orders of magnitude smaller than the raw text
        pdf = spark.read.parquet(os.path.join(tmp, "postings"))
        pdf.groupBy("term").agg(F.count("*").alias("df")).write.mode(
            "overwrite"
        ).parquet(os.path.join(tmp, "dfreq"))
        n_docs, avgdl = (
            pdf.groupBy("doc_id")
            .agg(F.first("dl").alias("dl"))
            .agg(F.count("*"), F.avg("dl"))
            .first()
        )
        with open(os.path.join(tmp, "_stats.json"), "w") as f:
            json.dump(
                {"n_docs": int(n_docs), "avgdl": float(avgdl or 0.0)}, f
            )
        open(os.path.join(tmp, "_BM25_READY"), "w").close()

    build_once(out, _ready, _build)
    with open(os.path.join(out, "_stats.json")) as f:
        st = json.load(f)
    return out, int(st["n_docs"]), float(st["avgdl"])


@register(
    "q_bm25_topk_served",
    oracle=_BM25_ORACLE,
    doc="Same result contract as q_bm25_topk (identical oracle), served "
    "from the build-once bm25-v1 inverted index instead of re-scoring raw "
    "text: query-doc terms (a bounded set — the query docs' vocabulary, "
    "same bounded-driver-state rule as knn's query vectors) resolve to "
    "crc32 partition buckets, so the postings FileScan carries "
    "PartitionFilters and touches only the probed shards; df joins "
    "broadcast, scores aggregate per doc, WindowGroupLimit takes top-k. "
    "At 100 TB this is the retrieval-endpoint plan: the tokenize+aggregate "
    "cost is paid once per corpus snapshot, not per query.",
    tags=("text", "retrieval", "pipeline", "artifact"),
)
def q_bm25_topk_served(spark: SparkSession, sf_dir: str) -> DataFrame:
    layout, n_docs, avgdl = bm25_index(spark, sf_dir)
    qterms = (
        docs(spark, sf_dir)
        .filter(F.col("doc_id") < N_QUERY_DOCS)
        .select(F.col("doc_id").alias("qid"), F.explode(tokens_col()).alias("term"))
        .distinct()
    )
    # the probed bucket set: bounded by the query docs' vocabulary (the
    # only driver-side state, same contract as knn/IVF query collects)
    pbs = sorted(
        {int(r.pb) for r in qterms.select(
            (F.crc32(F.col("term")) % N_PBUCKETS).alias("pb")
        ).distinct().collect()}
    )
    # explicit probe paths, not an IN-list PartitionFilter: partition
    # DISCOVERY would still list all N_PBUCKETS directories per call (a
    # parallel listing job that costs more than the probe — same finding
    # as the ann_lsh layout); a pb with no directory has no postings
    pdir = os.path.join(layout, "postings")
    probe_paths = [
        p for b in pbs if os.path.isdir(p := os.path.join(pdir, f"pb={b}"))
    ]
    if not probe_paths:
        postings = spark.read.parquet(pdir).filter(F.lit(False))
    else:
        postings = spark.read.option("basePath", pdir).parquet(*probe_paths)
    dfreq = spark.read.parquet(os.path.join(layout, "dfreq"))
    contrib = (
        postings.join(F.broadcast(qterms), "term")
        .join(maybe_broadcast(dfreq), "term")
        .select(
            "qid",
            "doc_id",
            (
                F.log(
                    (F.lit(n_docs) - F.col("df") + F.lit(0.5))
                    / (F.col("df") + F.lit(0.5))
                    + F.lit(1.0)
                )
                * F.col("tf")
                * F.lit(BM25_K1 + 1.0)
                / (
                    F.col("tf")
                    + F.lit(BM25_K1)
                    * (F.lit(1.0 - BM25_B) + F.lit(BM25_B) * F.col("dl") / F.lit(avgdl))
                )
            ).alias("c"),
        )
    )
    scored = contrib.groupBy("qid", "doc_id").agg(pround(F.sum("c")).alias("score"))
    w = Window.partitionBy("qid").orderBy(F.desc("score"), F.asc("doc_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w).cast("bigint"))
        .filter(F.col("rank") <= BM25_TOPK)
    )
