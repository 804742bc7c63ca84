"""Corpus-curation operators for LLM-data pipelines: applying and auditing
dedup, selecting, rewriting, splitting, sharding and ordering a corpus.

Sections, in order:
- dedup apply and audits: chunk dedup, semantic keep, containment,
  keep-best, exact-substring spans, n-gram novelty, dup-rate and
  cluster-size reports, method agreement, MinHash calibration, the
  dup-graph PageRank and the one-row dedup funnel;
- mixture: deterministic source resampling and temperature-weighted
  allocation;
- splits and selection: hash splits, cluster purity, incremental
  embedding dedup, DSIR importance weights, the span rewrite,
  token-budget shard planning, split leakage;
- second-order audits of those outputs (rewrite impact, shard mixture,
  dup-quality bias, curation funnel);
- training order and hygiene: deterministic shuffle, curriculum, chat
  and preference-pair validation, domain-disjoint split.

The reference (roapi) serves tables as-is (`columnq/src/table/mod.rs`);
these extend the engine with the curation steps a 100 TB text corpus
needs, each from a published public method and each under a DuckDB
oracle.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from roapi_spark.functions.dedup import STOP_SHINGLE_DF, _PAIRS_DUCK, dedup_components
from roapi_spark.functions.text import _TOKENS_SQL_DUCK, docs, tokens_col
from roapi_spark.plans.registry import register
from roapi_spark.plans.util import maybe_broadcast
from roapi_spark.util import (
    WS_CLASS,
    hash_bucket,
    hash_bucket_sql,
    pround,
    pround_sql,
    serve_persist,
)


# ==== span (chunk) dedup ====================================================
# RefinedWeb-style span dedup; it shuffles on a 16-byte md5 of the chunk,
# never the text.


CHUNK_WORDS = 10


@register(
    "dedup_chunk",
    oracle=f"""
    WITH toks AS (
      SELECT doc_id,
             list_filter(string_split_regex(lower(text), '[^a-z]+'),
                         x -> length(x) > 0) AS w
      FROM documents
    ), chunked AS (
      SELECT doc_id,
             list_transform(
               generate_series(1, CAST(FLOOR(LEN(w) / {CHUNK_WORDS}) AS INT)),
               i -> md5(array_to_string(
                      list_slice(w, (i - 1) * {CHUNK_WORDS} + 1, i * {CHUNK_WORDS}),
                      '_'))
             ) AS chunks
      FROM toks
    ), exploded AS (
      SELECT doc_id, unnest(chunks) AS h FROM chunked
    ), freq AS (
      SELECT doc_id, h, COUNT(*) OVER (PARTITION BY h) AS corpus_freq
      FROM exploded
    ), per_doc AS (
      SELECT doc_id,
             COUNT(*) AS n_chunks,
             COUNT(*) FILTER (WHERE corpus_freq > 1) AS n_dup_chunks
      FROM freq GROUP BY doc_id
    )
    SELECT d.doc_id,
           CAST(COALESCE(p.n_chunks, 0) AS BIGINT) AS n_chunks,
           CAST(COALESCE(p.n_dup_chunks, 0) AS BIGINT) AS n_dup_chunks,
           CASE WHEN COALESCE(p.n_chunks, 0) = 0 THEN 0.0
                ELSE FLOOR(CAST(p.n_dup_chunks AS DOUBLE) / p.n_chunks
                           * 10000 + 0.5) / 10000.0 END AS dup_chunk_frac
    FROM documents d LEFT JOIN per_doc p USING (doc_id)
    """,
    doc=f"Span-level (chunk) dedup, RefinedWeb/C4 style: non-overlapping "
    f"{CHUNK_WORDS}-word chunks hashed with md5; a chunk seen more than "
    "once corpus-wide is a duplicate span. Shuffle key is the 16-byte "
    "digest, never the text; per-doc rollup joins back to documents so "
    "short docs report 0 chunks. At 100 TB this is the standard "
    "sub-document dedup pass (exact-span variant of the suffix-array "
    "method in Lee et al. 2022).",
    tags=("dedup", "text"),
)
def dedup_chunk(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = docs(spark, sf_dir)
    toks = d.select(
        "doc_id",
        F.filter(
            F.split(F.lower(F.col("text")), "[^a-z]+"), lambda x: F.length(x) > 0
        ).alias("w"),
    )
    chunks = F.transform(
        F.sequence(F.lit(1), F.floor(F.size("w") / CHUNK_WORDS).cast("int")),
        lambda i: F.md5(
            F.array_join(
                F.slice("w", ((i - 1) * CHUNK_WORDS + 1).cast("int"), CHUNK_WORDS),
                "_",
            )
        ),
    )
    # sequence(1, 0) would yield [1, 0] (descending pitfall); guard short docs
    chunked = toks.select(
        "doc_id",
        F.when(F.size("w") >= CHUNK_WORDS, chunks)
        .otherwise(F.array().cast("array<string>"))
        .alias("chunks"),
    )
    exploded = chunked.select("doc_id", F.explode("chunks").alias("h"))
    freq = exploded.select(
        "doc_id", "h", F.count("*").over(Window.partitionBy("h")).alias("corpus_freq")
    )
    per_doc = freq.groupBy("doc_id").agg(
        F.count("*").alias("n_chunks"),
        F.sum(F.when(F.col("corpus_freq") > 1, 1).otherwise(0)).alias("n_dup_chunks"),
    )
    return (
        d.select("doc_id")
        .join(per_doc, "doc_id", "left")
        .select(
            "doc_id",
            F.coalesce("n_chunks", F.lit(0)).cast("bigint").alias("n_chunks"),
            F.coalesce("n_dup_chunks", F.lit(0)).cast("bigint").alias("n_dup_chunks"),
            F.when(F.coalesce("n_chunks", F.lit(0)) == 0, F.lit(0.0))
            .otherwise(
                pround(F.col("n_dup_chunks").cast("double") / F.col("n_chunks"))
            )
            .alias("dup_chunk_frac"),
        )
    )


# ==== deterministic source-mixture resampling ===============================
# Temperature-style source reweighting done deterministically:
# per-source counts are dimension-sized; the rate re-join onto documents
# is a broadcast; the keep decision is a pure map-side md5-bucket compare
# — no RNG state, reproducible on any cluster layout, same idiom as
# q_stratified_sample.


@register(
    "q_source_mixture",
    oracle="""
    WITH counts AS (
      SELECT source, COUNT(*) AS n_docs FROM documents GROUP BY source
    ), rates AS (
      SELECT source, n_docs,
             CAST(LEAST(10000,
                  FLOOR(4.0 * SQRT(n_docs) / n_docs * 10000)) AS BIGINT)
               AS rate_bp
      FROM counts
    ), kept AS (
      SELECT d.source, COUNT(*) AS n_sampled
      FROM documents d JOIN rates r ON d.source = r.source
      WHERE ('0x' || SUBSTR(MD5(d.doc_id::VARCHAR), 1, 8))::BIGINT % 10000
            < r.rate_bp
      GROUP BY d.source
    )
    SELECT r.source,
           CAST(r.n_docs AS BIGINT) AS n_docs,
           r.rate_bp,
           CAST(COALESCE(k.n_sampled, 0) AS BIGINT) AS n_sampled
    FROM rates r LEFT JOIN kept k ON r.source = k.source
    """,
    doc="Deterministic source-mixture resampling (sqrt-temperature "
    "reweighting a la multilingual corpus balancing): per-source keep "
    "rate = min(1, 4*sqrt(n)/n), applied by md5-bucket compare — no RNG, "
    "reproducible on any partitioning. Counts/rates are dimension-sized "
    "and broadcast back onto the corpus; the keep decision is map-side.",
    tags=("text", "sampling", "pipeline"),
)
def q_source_mixture(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = docs(spark, sf_dir)
    rates = (
        d.groupBy("source")
        .agg(F.count("*").alias("n_docs"))
        .select(
            "source",
            "n_docs",
            F.least(
                F.lit(10000),
                F.floor(F.lit(4.0) * F.sqrt("n_docs") / F.col("n_docs") * 10000),
            )
            .cast("bigint")
            .alias("rate_bp"),
        )
    )
    bucket = (
        F.conv(F.substring(F.md5(F.col("doc_id").cast("string")), 1, 8), 16, 10).cast(
            "bigint"
        )
        % 10000
    )
    kept = (
        d.join(maybe_broadcast(rates), "source")
        .filter(bucket < F.col("rate_bp"))
        .groupBy("source")
        .agg(F.count("*").alias("n_sampled"))
    )
    return (
        rates.join(kept, "source", "left")
        .select(
            "source",
            F.col("n_docs").cast("bigint").alias("n_docs"),
            "rate_bp",
            F.coalesce("n_sampled", F.lit(0)).cast("bigint").alias("n_sampled"),
        )
    )


# ==== semantic keep, dup-rate, containment, novelty, dup-graph PageRank =====
# SemDeDup-style representative keeping over the learned k-means cells
# (Abbas et al. 2023, greedy min-id variant) and the dedup-rate dashboard
# number every corpus report starts with.
#
# Scale notes (100 TB):
# - semantic keep is one anti-join against the near-dup pair set, which is
#   cell-blocked (never all-pairs) by the k-means coarse quantizer.
# - dup-rate is a two-level agg keyed by a 16-byte digest, never raw text.


def _semantic_keep_oracle() -> str:
    from roapi_spark.functions.similarity import kmeans_oracle_prefix

    return f"""
    WITH {kmeans_oracle_prefix()},
    pairs AS (
      SELECT a.vec_id AS id_a, b.vec_id AS id_b
      FROM af a JOIN af b ON a.cid = b.cid AND a.vec_id < b.vec_id
      JOIN e ea ON ea.vec_id = a.vec_id
      JOIN e eb ON eb.vec_id = b.vec_id
      WHERE ROUND(LIST_COSINE_SIMILARITY(ea.v, eb.v), 4) >= 0.3
    )
    SELECT af.vec_id, af.cid
    FROM af
    WHERE af.vec_id NOT IN (SELECT id_b FROM pairs)
    """


@register(
    "dedup_semantic_keep",
    oracle=_semantic_keep_oracle(),
    doc="SemDeDup-style apply (Abbas et al. 2023, greedy min-id variant): "
    "within each learned k-means cell, a vector is dropped iff it is a "
    "near-duplicate (cosine >= 0.3) of a lower-id vector — one anti-join "
    "of the corpus against the cell-blocked near-dup pair set (the "
    "build-once embpairscid-v3 artifact shared with "
    "dedup_embedding_kmeans). Keeps exactly the minimal "
    "representative of every near-dup star; no all-pairs work anywhere.",
    tags=("dedup", "similarity", "pipeline"),
)
def dedup_semantic_keep(spark: SparkSession, sf_dir: str) -> DataFrame:
    from roapi_spark.functions.dedup import emb_pairs_cid_cached
    from roapi_spark.functions.similarity import ivf_layout

    # Both halves are build-once artifacts: the cid-partitioned IVF
    # layout (k-means fit amortized across every cell-blocked op;
    # test_ivf_layout pins layout == live assignment) and the
    # cell-blocked near-dup edge set (emb_pairs_cid_cached, shared with
    # dedup_embedding_kmeans). The apply is one distinct + one anti-join.
    layout_dir, _ = ivf_layout(spark, sf_dir)
    dropped = (
        emb_pairs_cid_cached(spark, sf_dir)
        .select(F.col("id_b").alias("vec_id"))
        .distinct()
    )
    return (
        spark.read.parquet(layout_dir)
        .select("vec_id", "cid")
        .join(dropped, "vec_id", "left_anti")
    )


@register(
    "q_dedup_rate_by_source",
    oracle="""
    SELECT source,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(COUNT(DISTINCT MD5(text)) AS BIGINT) AS n_unique,
           FLOOR((1 - CAST(COUNT(DISTINCT MD5(text)) AS DOUBLE) / COUNT(*))
                 * 10000 + 0.5) / 10000.0 AS dup_rate
    FROM documents
    GROUP BY source
    """,
    doc="Exact-duplication rate per source shard — the first number on "
    "any corpus quality dashboard. Two-level aggregate keyed by the md5 "
    "digest (16 bytes/doc over the shuffle, never the text); "
    "COUNT(DISTINCT) compiles to a partial-agg expand, no extra job.",
    tags=("dedup", "quality"),
)
def q_dedup_rate_by_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = docs(spark, sf_dir)
    return (
        d.groupBy("source")
        .agg(
            F.count("*").cast("bigint").alias("n_docs"),
            F.count_distinct(F.md5("text")).cast("bigint").alias("n_unique"),
        )
        .select(
            "source",
            "n_docs",
            "n_unique",
            pround(
                F.lit(1) - F.col("n_unique").cast("double") / F.col("n_docs")
            ).alias("dup_rate"),
        )
    )


# -- shingle-derivative dedup ops (share dedup.py's machinery) --------------

_SHINGLES = """
  toks AS (SELECT doc_id,
    list_filter(string_split_regex(lower(text), '[^a-z]+'), x -> length(x) > 0) AS w
    FROM documents),
  sh AS (
    SELECT DISTINCT doc_id, w[i] || ' ' || w[i+1] || ' ' || w[i+2] AS shingle
    FROM toks, UNNEST(GENERATE_SERIES(1, GREATEST(LEN(w) - 2, 0))) AS t(i)
  )
"""
CONTAIN_MIN = 0.5


@register(
    "dedup_containment",
    oracle=f"""
    WITH {_SHINGLES},
    cnt AS (SELECT doc_id, COUNT(*) AS n FROM sh GROUP BY doc_id),
    live AS (
      SELECT s.doc_id, s.shingle
      FROM sh s JOIN (SELECT shingle FROM sh GROUP BY shingle
                      HAVING COUNT(*) <= {STOP_SHINGLE_DF}) f ON s.shingle = f.shingle
    ),
    pairs AS (
      SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS n_common
      FROM live a JOIN live b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
      GROUP BY 1, 2
    )
    SELECT p.doc_a, p.doc_b, CAST(p.n_common AS BIGINT) AS n_common,
           FLOOR(CAST(p.n_common AS DOUBLE) / ca.n * 10000 + 0.5) / 10000.0
             AS contain_a,
           FLOOR(CAST(p.n_common AS DOUBLE) / cb.n * 10000 + 0.5) / 10000.0
             AS contain_b
    FROM pairs p
      JOIN cnt ca ON p.doc_a = ca.doc_id
      JOIN cnt cb ON p.doc_b = cb.doc_id
    WHERE CAST(p.n_common AS DOUBLE) / ca.n >= {CONTAIN_MIN}
       OR CAST(p.n_common AS DOUBLE) / cb.n >= {CONTAIN_MIN}
    """,
    doc="Containment near-dup (Broder's directional overlap |A^B|/|A|): "
    "catches the sub-document case Jaccard misses — a short document "
    "wholly embedded in a long one scores low Jaccard but containment "
    "~1.0 on the short side. Same stop-shingle-capped pair join as "
    f"dedup_ngram_jaccard, threshold {CONTAIN_MIN} on either direction.",
    tags=("dedup",),
)
def dedup_containment(spark: SparkSession, sf_dir: str) -> DataFrame:
    from roapi_spark.functions.dedup import shingle_pair_graph_cached

    pairs, cnt = shingle_pair_graph_cached(spark, sf_dir)
    ca = cnt.alias("ca")
    cb = cnt.alias("cb")
    c_a = F.col("n_common").cast("double") / F.col("ca.n")
    c_b = F.col("n_common").cast("double") / F.col("cb.n")
    return (
        pairs.join(ca, F.col("doc_a") == F.col("ca.doc_id"))
        .join(cb, F.col("doc_b") == F.col("cb.doc_id"))
        .filter((c_a >= CONTAIN_MIN) | (c_b >= CONTAIN_MIN))
        .select(
            "doc_a",
            "doc_b",
            F.col("n_common").cast("bigint").alias("n_common"),
            pround(c_a).alias("contain_a"),
            pround(c_b).alias("contain_b"),
        )
    )


@register(
    "q_ngram_novelty",
    oracle=f"""
    WITH {_SHINGLES},
    first_seen AS (
      SELECT shingle, MIN(doc_id) AS first_doc FROM sh GROUP BY shingle
    )
    SELECT s.doc_id,
           CAST(COUNT(*) AS BIGINT) AS n_shingles,
           CAST(SUM(CASE WHEN f.first_doc = s.doc_id THEN 1 ELSE 0 END)
                AS BIGINT) AS n_novel,
           FLOOR(CAST(SUM(CASE WHEN f.first_doc = s.doc_id THEN 1 ELSE 0 END)
                      AS DOUBLE) / COUNT(*) * 10000 + 0.5) / 10000.0
             AS novelty
    FROM sh s JOIN first_seen f ON s.shingle = f.shingle
    GROUP BY s.doc_id
    """,
    doc="N-gram novelty curve: per document, the fraction of its distinct "
    "3-gram shingles first seen in it (min-doc_id ownership) — the "
    "redundancy-over-position signal used to order or downsample "
    "crawl-ordered corpora. Pure aggregations, no window: (doc,shingle) "
    "pairs are distinct, so per-doc novel count = number of shingles "
    "whose min-owner is the doc. Both groupBys get map-side partial "
    "combine (a window-over-shingle would shuffle AND sort the full "
    "explosion — measured 4x slower at sf0.1); the final join is "
    "doc-cardinality tiny, AQE broadcasts it.",
    tags=("dedup", "text", "quality"),
)
def q_ngram_novelty(spark: SparkSession, sf_dir: str) -> DataFrame:
    from roapi_spark.functions.dedup import shingles

    sh = shingles(docs(spark, sf_dir))
    per_doc = sh.groupBy("doc_id").agg(
        F.count("*").cast("bigint").alias("n_shingles")
    )
    owned = (
        sh.groupBy("shingle")
        .agg(F.min("doc_id").alias("doc_id"))
        .groupBy("doc_id")
        .agg(F.count("*").cast("bigint").alias("n_novel"))
    )
    return per_doc.join(owned, "doc_id", "left").select(
        "doc_id",
        "n_shingles",
        F.coalesce(F.col("n_novel"), F.lit(0)).cast("bigint").alias("n_novel"),
        pround(
            F.coalesce(F.col("n_novel"), F.lit(0)).cast("double")
            / F.col("n_shingles")
        ).alias("novelty"),
    )


# -- integer-exact PageRank over the near-dup graph -------------------------

PR_ITERS = 2
PR_SCALE = 1_000_000  # fixed-point: pr starts at 1.0 * SCALE per node
PR_DAMP_NUM, PR_DAMP_DEN = 85, 100  # d = 0.85 as an exact ratio


def _pagerank_oracle() -> str:
    base = PR_SCALE * (PR_DAMP_DEN - PR_DAMP_NUM) // PR_DAMP_DEN  # (1-d)*SCALE
    parts = [
        f"""edges AS (
      SELECT doc_a AS a, doc_b AS b FROM pairs
      UNION SELECT doc_b, doc_a FROM pairs
    ),
    deg AS (SELECT a AS n, COUNT(*) AS d FROM edges GROUP BY a),
    pr0 AS (SELECT n, {PR_SCALE} AS pr FROM deg)"""
    ]
    for t in range(1, PR_ITERS + 1):
        parts.append(
            f"""s{t} AS (
      SELECT e.b AS n, SUM(p.pr // d.d) AS s
      FROM edges e JOIN pr{t - 1} p ON p.n = e.a JOIN deg d ON d.n = e.a
      GROUP BY e.b
    ),
    pr{t} AS (
      SELECT deg.n,
             {base} + (COALESCE(s{t}.s, 0) * {PR_DAMP_NUM}) // {PR_DAMP_DEN} AS pr
      FROM deg LEFT JOIN s{t} ON deg.n = s{t}.n
    )"""
        )
    return (
        f"WITH {_PAIRS_DUCK},\n    "
        + ",\n    ".join(parts)
        + f"""
    SELECT deg.n AS doc_id, CAST(deg.d AS BIGINT) AS degree,
           CAST(pr{PR_ITERS}.pr AS BIGINT) AS pagerank
    FROM deg JOIN pr{PR_ITERS} ON deg.n = pr{PR_ITERS}.n
    """
    )


@register(
    "q_pagerank_dupgraph",
    oracle=_pagerank_oracle(),
    doc=f"PageRank over the LSH near-dup candidate graph ({PR_ITERS} "
    "power iterations, damping 0.85): centrality in the duplicate graph "
    "identifies template/boilerplate hubs worth pruning wholesale. All "
    "arithmetic is fixed-point integer (contribution = pr div degree, "
    "damping as *85 div 100), so every engine computes bit-identical "
    "ranks — the iterative-algorithm pattern with an exact oracle. The "
    "graph is the (tiny) pair set, orders of magnitude smaller than the "
    "corpus; Spark iterates over checkpointed edges, never the corpus.",
    tags=("dedup", "iterative"),
)
def q_pagerank_dupgraph(spark: SparkSession, sf_dir: str) -> DataFrame:
    from roapi_spark.functions.dedup import lsh_pairs_cached

    pairs = lsh_pairs_cached(spark, sf_dir)
    edges = (
        pairs.select(F.col("doc_a").alias("a"), F.col("doc_b").alias("b"))
        .union(pairs.select(F.col("doc_b").alias("a"), F.col("doc_a").alias("b")))
        .distinct()
        .localCheckpoint(eager=True)
    )
    deg = edges.groupBy(F.col("a").alias("n")).agg(F.count("*").alias("d"))
    base = PR_SCALE * (PR_DAMP_DEN - PR_DAMP_NUM) // PR_DAMP_DEN
    pr = deg.select("n", F.lit(PR_SCALE).cast("bigint").alias("pr"))
    for _ in range(PR_ITERS):
        contrib = (
            edges.join(pr, edges.a == pr.n)
            .join(deg.select(F.col("n").alias("dn"), "d"), edges.a == F.col("dn"))
            .select(F.col("b"), F.expr("pr div d").alias("c"))
            .groupBy("b")
            .agg(F.sum("c").alias("s"))
        )
        pr = (
            deg.join(contrib, deg.n == contrib.b, "left")
            .select(
                "n",
                (
                    F.lit(base)
                    + F.expr(f"(coalesce(s, 0) * {PR_DAMP_NUM}) div {PR_DAMP_DEN}")
                ).cast("bigint").alias("pr"),
            )
            .localCheckpoint(eager=False)
        )
    return (
        deg.join(pr, "n")
        .select(
            F.col("n").alias("doc_id"),
            F.col("d").cast("bigint").alias("degree"),
            F.col("pr").cast("bigint").alias("pagerank"),
        )
    )


# ==== keep-best, MinHash calibration, dup cluster sizes =====================
# dedup_keep_best joins the (tiny) component labels to documents and
# picks one representative per component with a per-component window —
# partitioned by component id, never a global sort.


@register(
    "dedup_keep_best",
    oracle=f"""
    WITH RECURSIVE {_PAIRS_DUCK.strip().lstrip("WITH").strip()},
    e AS (
      SELECT doc_a AS a, doc_b AS b FROM pairs
      UNION SELECT doc_b, doc_a FROM pairs
    ),
    reach(n, m) AS (
      SELECT a, a FROM e
      UNION
      SELECT r.n, e.b FROM reach r JOIN e ON r.m = e.a
    ),
    comp AS (
      SELECT n AS doc_id, MIN(m) AS component FROM reach GROUP BY n
    ),
    ranked AS (
      SELECT c.component, c.doc_id, d.n_chars,
             ROW_NUMBER() OVER (PARTITION BY c.component
                                ORDER BY d.n_chars DESC, c.doc_id ASC) AS rnk
      FROM comp c JOIN documents d ON c.doc_id = d.doc_id
    )
    SELECT CAST(component AS BIGINT) AS component,
           CAST(MAX(CASE WHEN rnk = 1 THEN doc_id END) AS BIGINT) AS keep_doc_id,
           CAST(COUNT(*) AS BIGINT) AS n_members,
           CAST(MAX(n_chars) AS BIGINT) AS max_chars
    FROM ranked GROUP BY component
    """,
    doc="Near-dup representative selection: over the LSH-pair connected "
    "components, keep the longest document per duplicate cluster "
    "(n_chars desc, doc_id asc tie-break) — the curation step after "
    "clustering, where 'best' beats dedup_apply's 'lowest id'. The "
    "component labels come from the snapshot-cached pair graph, so this "
    "never rescans the corpus; the window partitions by component id.",
    tags=("dedup",),
)
def dedup_keep_best(spark: SparkSession, sf_dir: str) -> DataFrame:
    comp = dedup_components(spark, sf_dir)
    d = docs(spark, sf_dir).select("doc_id", "n_chars")
    w = Window.partitionBy("component").orderBy(
        F.col("n_chars").desc(), F.col("doc_id").asc()
    )
    return (
        comp.join(d, "doc_id")
        .withColumn("rnk", F.row_number().over(w))
        .groupBy("component")
        .agg(
            F.max(F.when(F.col("rnk") == 1, F.col("doc_id"))).alias("keep_doc_id"),
            F.count("*").alias("n_members"),
            F.max("n_chars").cast("bigint").alias("max_chars"),
        )
    )


@register(
    "dedup_minhash_calibration",
    oracle="""
    WITH toks AS (SELECT doc_id,
        list_filter(string_split_regex(lower(text), '[^a-z]+'), x -> length(x) > 0) AS w
      FROM documents),
    sh AS (
      SELECT DISTINCT doc_id, w[i] || ' ' || w[i+1] || ' ' || w[i+2] AS shingle
      FROM toks, UNNEST(GENERATE_SERIES(1, GREATEST(LEN(w) - 2, 0))) AS t(i)
    ),
    hs AS (
      SELECT doc_id, ('0x' || SUBSTR(MD5(shingle), 1, 8))::BIGINT AS h FROM sh
    ),
    minh AS (
      SELECT doc_id, k, MIN((2 * k + 3) * h % 4294967311) AS mh
      FROM hs, UNNEST(GENERATE_SERIES(0, 11)) AS t(k)
      GROUP BY doc_id, k
    ),
    bands AS (
      SELECT doc_id, k // 3 AS band_id,
             STRING_AGG(mh::VARCHAR, ',' ORDER BY k) AS band_sig
      FROM minh GROUP BY doc_id, k // 3
    ),
    bandsf AS (
      SELECT b.* FROM bands b
      JOIN (SELECT band_id, band_sig FROM bands
            GROUP BY band_id, band_sig HAVING COUNT(*) <= 100) ok
        ON b.band_id = ok.band_id AND b.band_sig = ok.band_sig
    ),
    pairs AS (
      SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
      FROM bandsf a JOIN bandsf b
        ON a.band_id = b.band_id AND a.band_sig = b.band_sig AND a.doc_id < b.doc_id
    ),
    matches AS (
      SELECT p.doc_a, p.doc_b,
             SUM(CASE WHEN ma.mh = mb.mh THEN 1 ELSE 0 END) AS m
      FROM pairs p
        JOIN minh ma ON ma.doc_id = p.doc_a
        JOIN minh mb ON mb.doc_id = p.doc_b AND ma.k = mb.k
      GROUP BY 1, 2
    ),
    cnt AS (SELECT doc_id, COUNT(*) AS n FROM sh GROUP BY doc_id),
    common AS (
      SELECT p.doc_a, p.doc_b, COUNT(*) AS nc
      FROM pairs p
        JOIN sh sa ON sa.doc_id = p.doc_a
        JOIN sh sb ON sb.doc_id = p.doc_b AND sb.shingle = sa.shingle
      GROUP BY 1, 2
    ),
    scored AS (
      SELECT m.m AS n_matches,
             FLOOR(COALESCE(CAST(c.nc AS DOUBLE)
                   / (ca.n + cb.n - c.nc), 0.0) * 10000 + 0.5) / 10000.0 AS tj,
             FLOOR(ABS(m.m / 12.0 - COALESCE(CAST(c.nc AS DOUBLE)
                   / (ca.n + cb.n - c.nc), 0.0)) * 10000 + 0.5) / 10000.0 AS err
      FROM matches m
        LEFT JOIN common c ON m.doc_a = c.doc_a AND m.doc_b = c.doc_b
        JOIN cnt ca ON m.doc_a = ca.doc_id
        JOIN cnt cb ON m.doc_b = cb.doc_id
    )
    SELECT CAST(n_matches AS BIGINT) AS n_matches,
           CAST(COUNT(*) AS BIGINT) AS n_pairs,
           FLOOR(AVG(tj) * 10000 + 0.5) / 10000.0 AS mean_true_jaccard,
           FLOOR(AVG(err) * 10000 + 0.5) / 10000.0 AS mean_abs_err
    FROM scored GROUP BY n_matches
    """,
    doc="MinHash estimator calibration audit: for every (capped) LSH "
    "candidate pair, the signature-match count (0..12) vs the TRUE "
    "shingle Jaccard, aggregated per match count — the dial a dedup "
    "pipeline reads to pick its est_jaccard threshold. Serves from the "
    "snapshot-cached pair graph; true Jaccard joins the (small) pair set "
    "against the shingle explosion on doc id, never all-pairs. Per-pair "
    "terms are pround-ed before averaging so the group means are "
    "cross-engine stable.",
    tags=("dedup", "audit"),
)
def dedup_minhash_calibration(spark: SparkSession, sf_dir: str) -> DataFrame:
    from roapi_spark.functions.dedup import N_MINHASH, lsh_pairs_cached, shingles

    pairs = lsh_pairs_cached(spark, sf_dir)
    # The artifact's est_jaccard is pround(m / N_MINHASH); with match
    # granularity 1/12 >> the 1e-4 rounding, m is exactly recoverable —
    # no re-run of the full-corpus signature pass.
    matches = pairs.select(
        "doc_a",
        "doc_b",
        F.floor(F.col("est_jaccard") * N_MINHASH + F.lit(0.5))
        .cast("int")
        .alias("m"),
    )
    # True Jaccard only needs shingles of docs that appear in the pair
    # graph — a broadcast semi-join prunes the corpus scan to that
    # (small) doc set before the explosion, instead of shuffling the
    # full shingle table twice.
    part_docs = (
        pairs.select(F.col("doc_a").alias("doc_id"))
        .union(pairs.select(F.col("doc_b").alias("doc_id")))
        .distinct()
    )
    # the filtered explosion is referenced three times (cnt, both join
    # sides); checkpoint it once — it is pair-graph-sized, tiny at any
    # corpus scale
    sh = shingles(
        docs(spark, sf_dir).join(F.broadcast(part_docs), "doc_id", "semi")
    ).localCheckpoint(eager=False)
    cnt = sh.groupBy("doc_id").agg(F.count("*").alias("n"))
    sa = sh.select(F.col("doc_id").alias("doc_a"), "shingle")
    sb = sh.select(F.col("doc_id").alias("doc_b"), "shingle")
    common = (
        pairs.join(sa, "doc_a").join(sb, ["doc_b", "shingle"])
        .groupBy("doc_a", "doc_b")
        .agg(F.count("*").alias("nc"))
    )
    tj_raw = F.coalesce(
        F.col("nc").cast("double") / (F.col("ca.n") + F.col("cb.n") - F.col("nc")),
        F.lit(0.0),
    )
    scored = (
        matches.join(common, ["doc_a", "doc_b"], "left")
        .join(cnt.alias("ca"), F.col("doc_a") == F.col("ca.doc_id"))
        .join(cnt.alias("cb"), F.col("doc_b") == F.col("cb.doc_id"))
        .select(
            F.col("m").alias("n_matches"),
            pround(tj_raw).alias("tj"),
            pround(F.abs(F.col("m") / F.lit(float(N_MINHASH)) - tj_raw)).alias("err"),
        )
    )
    return scored.groupBy(F.col("n_matches").cast("bigint").alias("n_matches")).agg(
        F.count("*").alias("n_pairs"),
        pround(F.avg("tj")).alias("mean_true_jaccard"),
        pround(F.avg("err")).alias("mean_abs_err"),
    )


@register(
    "q_dup_cluster_sizes",
    oracle=f"""
    WITH RECURSIVE {_PAIRS_DUCK.strip().lstrip("WITH").strip()},
    e2 AS (
      SELECT doc_a AS a, doc_b AS b FROM pairs
      UNION SELECT doc_b, doc_a FROM pairs
    ),
    reach(n, m) AS (
      SELECT a, a FROM e2
      UNION
      SELECT r.n, e2.b FROM reach r JOIN e2 ON r.m = e2.a
    ),
    comp AS (SELECT n AS doc_id, MIN(m) AS component FROM reach GROUP BY n),
    sizes AS (SELECT component, COUNT(*) AS cluster_size FROM comp GROUP BY component)
    SELECT CAST(cluster_size AS BIGINT) AS cluster_size,
           CAST(COUNT(*) AS BIGINT) AS n_clusters,
           CAST(SUM(cluster_size) AS BIGINT) AS n_docs
    FROM sizes GROUP BY cluster_size
    """,
    doc="Duplicate-cluster size distribution: component sizes over the "
    "LSH pair graph bucketed into (cluster_size, n_clusters, n_docs) — "
    "the histogram every dedup report leads with (how much of the corpus "
    "sits in 2-clusters vs mega-clusters). Reads the snapshot-cached "
    "component labels; two tiny aggs.",
    tags=("dedup", "audit"),
)
def q_dup_cluster_sizes(spark: SparkSession, sf_dir: str) -> DataFrame:
    comp = dedup_components(spark, sf_dir)
    sizes = comp.groupBy("component").agg(F.count("*").alias("cluster_size"))
    return sizes.groupBy("cluster_size").agg(
        F.count("*").alias("n_clusters"),
        F.sum("cluster_size").cast("bigint").alias("n_docs"),
    )


# ==== exact-substring spans, mixture allocation, method agreement ===========
# Exact-substring span dedup measurement, temperature-weighted mixture
# allocation and the dedup method-agreement audit.


# -- exact-substring span dedup ---------------------------------------------

SPAN_K = 8  # token-gram width (Lee et al. use 50 tokens; short test docs)


def _positional_grams(w) -> F.Column:
    """Every K-token gram WITH multiplicity (no array_distinct — the
    whole point is catching text that repeats, including within one
    document). Same arrays_zip-of-slices shape as shingle_array_of:
    ``w`` is referenced O(K) times per row, never per element."""
    ln = F.greatest(F.size(w) - (SPAN_K - 1), F.lit(0))
    z = F.arrays_zip(*[F.slice(w, k + 1, ln) for k in range(SPAN_K)])
    return F.transform(
        z, lambda s: F.concat_ws(" ", *[s[str(k)] for k in range(SPAN_K)])
    )


@register(
    "dedup_substring_spans",
    oracle=f"""
    WITH toks AS (SELECT doc_id, {_TOKENS_SQL_DUCK} AS w FROM documents),
    g AS (
      SELECT doc_id, unnest(list_transform(
               generate_series(1, len(w) - {SPAN_K - 1}),
               i -> array_to_string(w[i:i + {SPAN_K - 1}], ' '))) AS gram
      FROM toks
    ),
    dg AS (SELECT gram, doc_id, COUNT(*) AS cnt FROM g GROUP BY 1, 2),
    tot AS (SELECT gram, SUM(cnt) AS c FROM dg GROUP BY 1),
    nd AS (
      SELECT dg.doc_id, SUM(dg.cnt) AS n_dup
      FROM dg JOIN tot USING (gram) WHERE tot.c > 1 GROUP BY 1
    ),
    pd AS (SELECT doc_id, SUM(cnt) AS n_grams FROM dg GROUP BY 1)
    SELECT pd.doc_id,
           CAST(pd.n_grams AS BIGINT) AS n_grams,
           CAST(COALESCE(nd.n_dup, 0) AS BIGINT) AS n_dup_grams,
           FLOOR(COALESCE(nd.n_dup, 0) / CAST(pd.n_grams AS DOUBLE)
                 * 10000 + 0.5) / 10000.0 AS dup_fraction
    FROM pd LEFT JOIN nd USING (doc_id)
    """,
    doc=f"Exact-substring span dedup (the suffix-array method of Lee et "
    f"al. 2022, re-expressed relationally): every positional {SPAN_K}-token "
    "gram — WITH multiplicity, so boilerplate repeated inside one document "
    "counts — is tallied corpus-wide; a doc's dup_fraction is the share of "
    "its gram starts whose exact text occurs more than once anywhere. "
    "Plan: the explosion is hash-partitioned on gram ONCE; the (gram, "
    "doc) tally, the gram-total rollup, and their join all run on that "
    "one partitioning (HashPartitioning(gram) satisfies the (gram, doc) "
    "clustering — verified: 7 exchanges vs 8 letting each agg shuffle "
    "itself, and positional grams are mostly unique so pre-shuffle "
    "combining buys little). At real scale the shuffle key becomes "
    "md5(gram) (16 bytes, not the text) and K rises to 50; semantics "
    "unchanged.",
    tags=("dedup", "text"),
)
def dedup_substring_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    g = (
        docs(spark, sf_dir)
        .select("doc_id", tokens_col().alias("w"))
        .filter(F.size("w") >= SPAN_K)
        .select("doc_id", F.explode(_positional_grams(F.col("w"))).alias("gram"))
        .repartition("gram")
    )
    dg = g.groupBy("gram", "doc_id").agg(F.count("*").alias("cnt"))
    tot = dg.groupBy("gram").agg(F.sum("cnt").alias("c"))
    nd = (
        dg.join(tot, "gram")
        .filter(F.col("c") > 1)
        .groupBy("doc_id")
        .agg(F.sum("cnt").alias("n_dup"))
    )
    pd = dg.groupBy("doc_id").agg(F.sum("cnt").alias("n_grams"))
    return pd.join(nd, "doc_id", "left").select(
        "doc_id",
        F.col("n_grams").cast("bigint").alias("n_grams"),
        F.coalesce("n_dup", F.lit(0)).cast("bigint").alias("n_dup_grams"),
        pround(
            F.coalesce("n_dup", F.lit(0)) / F.col("n_grams").cast("double")
        ).alias("dup_fraction"),
    )


# -- temperature-weighted mixture allocation --------------------------------

MIX_BUDGET_X = 2.0  # token budget = 2x the corpus (some sources epoch >1)
MIX_WSCALE = 1000  # integer-exact weights: floor(sqrt(n_tokens)*1000)


@register(
    "q_mixture_allocation",
    oracle=f"""
    WITH t AS (
      SELECT source, COUNT(*) AS n_docs,
             CAST(SUM(len({_TOKENS_SQL_DUCK})) AS BIGINT) AS n_tokens
      FROM documents GROUP BY source
    ),
    w AS (
      SELECT *, CAST(FLOOR(SQRT(n_tokens) * {MIX_WSCALE}) AS BIGINT) AS wq
      FROM t
    ),
    s AS (SELECT CAST(SUM(wq) AS BIGINT) AS tot_w,
                 CAST(SUM(n_tokens) AS BIGINT) AS tot_n FROM w)
    SELECT w.source, CAST(w.n_docs AS BIGINT) AS n_docs, w.n_tokens,
           FLOOR(w.wq / CAST(s.tot_w AS DOUBLE) * 10000 + 0.5) / 10000.0
             AS weight,
           CAST(FLOOR({MIX_BUDGET_X} * s.tot_n
                      * (w.wq / CAST(s.tot_w AS DOUBLE))) AS BIGINT)
             AS alloc_tokens,
           CASE WHEN w.n_tokens > 0
                THEN FLOOR({MIX_BUDGET_X} * s.tot_n
                           * (w.wq / CAST(s.tot_w AS DOUBLE))
                           / w.n_tokens * 10000 + 0.5) / 10000.0
                ELSE 0.0 END AS epochs
    FROM w CROSS JOIN s
    """,
    doc="Sampling-mixture allocation: per-source sqrt-temperature weights "
    "(the multilingual/data-mixing standard — upweights small sources) "
    "over a fixed token budget, yielding per-source token allocations and "
    "epoch counts, the table a pretraining data plan is built from. "
    "Weights are integer-quantized (floor(sqrt*1000)) so their sum is "
    "order-independent and the oracle is exact. One tiny per-source agg, "
    "a 1-row broadcast total, map-side arithmetic.",
    tags=("pipeline", "audit"),
)
def q_mixture_allocation(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = (
        docs(spark, sf_dir)
        .groupBy("source")
        .agg(
            F.count("*").cast("bigint").alias("n_docs"),
            F.sum(F.size(tokens_col())).cast("bigint").alias("n_tokens"),
        )
        .withColumn(
            "wq",
            F.floor(F.sqrt(F.col("n_tokens")) * MIX_WSCALE).cast("bigint"),
        )
    )
    s = t.agg(
        F.sum("wq").cast("bigint").alias("tot_w"),
        F.sum("n_tokens").cast("bigint").alias("tot_n"),
    )
    share = F.col("wq") / F.col("tot_w").cast("double")
    alloc = F.lit(MIX_BUDGET_X) * F.col("tot_n") * share
    return t.crossJoin(F.broadcast(s)).select(
        "source",
        "n_docs",
        "n_tokens",
        pround(share).alias("weight"),
        F.floor(alloc).cast("bigint").alias("alloc_tokens"),
        F.when(F.col("n_tokens") > 0, pround(alloc / F.col("n_tokens")))
        .otherwise(0.0)
        .alias("epochs"),
    )


# -- dedup method agreement audit -------------------------------------------


def _method_agreement_oracle() -> str:
    return f"""
    WITH {_PAIRS_DUCK.strip().lstrip("WITH").strip()},
    cnt AS (SELECT doc_id, COUNT(*) AS n FROM sh GROUP BY doc_id),
    live AS (
      SELECT s.doc_id, s.shingle
      FROM sh s JOIN (SELECT shingle FROM sh GROUP BY shingle
                      HAVING COUNT(*) <= {STOP_SHINGLE_DF}) f
        ON s.shingle = f.shingle
    ),
    jpairs AS (
      SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS n_common
      FROM live a JOIN live b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
      GROUP BY 1, 2
    ),
    jacc AS (
      SELECT p.doc_a, p.doc_b
      FROM jpairs p
        JOIN cnt ca ON p.doc_a = ca.doc_id
        JOIN cnt cb ON p.doc_b = cb.doc_id
      WHERE CAST(p.n_common AS DOUBLE) / (ca.n + cb.n - p.n_common) >= 0.1
    ),
    uni AS (
      SELECT COALESCE(l.doc_a, j.doc_a) AS doc_a,
             COALESCE(l.doc_b, j.doc_b) AS doc_b,
             l.doc_a IS NOT NULL AS in_lsh,
             j.doc_a IS NOT NULL AS in_jaccard
      FROM pairs l FULL OUTER JOIN jacc j
        ON l.doc_a = j.doc_a AND l.doc_b = j.doc_b
    )
    SELECT CASE WHEN in_lsh AND in_jaccard THEN 'both'
                WHEN in_lsh THEN 'lsh_only'
                ELSE 'jaccard_only' END AS bucket,
           CAST(COUNT(*) AS BIGINT) AS n_pairs
    FROM uni GROUP BY 1
    """


@register(
    "q_dedup_method_agreement",
    oracle=_method_agreement_oracle(),
    doc="Dedup method-agreement audit: the Venn counts of candidate "
    "near-dup pairs found by MinHash-LSH banding vs thresholded exact "
    "shingle Jaccard (>= 0.1) — the recall/precision dial for picking "
    "band geometry and thresholds. 'jaccard_only' pairs are LSH misses "
    "(recall loss); 'lsh_only' pairs are band collisions below the "
    "Jaccard bar (verification cost). Both pair sets serve from their "
    "snapshot artifacts; the audit itself is one full-outer join of two "
    "small edge sets.",
    tags=("dedup", "audit"),
)
def q_dedup_method_agreement(spark: SparkSession, sf_dir: str) -> DataFrame:
    from roapi_spark.functions.dedup import (
        dedup_ngram_jaccard,
        lsh_pairs_cached,
    )

    lsh = lsh_pairs_cached(spark, sf_dir).select("doc_a", "doc_b")
    jac = dedup_ngram_jaccard(spark, sf_dir).select("doc_a", "doc_b")
    uni = lsh.withColumn("in_lsh", F.lit(True)).join(
        jac.withColumn("in_jaccard", F.lit(True)),
        ["doc_a", "doc_b"],
        "full_outer",
    )
    bucket = (
        F.when(
            F.col("in_lsh").isNotNull() & F.col("in_jaccard").isNotNull(), "both"
        )
        .when(F.col("in_lsh").isNotNull(), "lsh_only")
        .otherwise("jaccard_only")
    )
    return uni.select(bucket.alias("bucket")).groupBy("bucket").agg(
        F.count("*").cast("bigint").alias("n_pairs")
    )


# ==== near-dup cross-source matrix and cluster sizes ========================


def _cross_source_oracle() -> str:
    from roapi_spark.functions.dedup import lsh_cand_oracle_cte

    return f"""
    WITH {lsh_cand_oracle_cte()},
    attributed AS (
      SELECT LEAST(da.source, db.source) AS source_a,
             GREATEST(da.source, db.source) AS source_b
      FROM cand c
      JOIN documents da ON da.doc_id = c.doc_a
      JOIN documents db ON db.doc_id = c.doc_b
    )
    SELECT source_a, source_b, CAST(COUNT(*) AS BIGINT) AS n_pairs
    FROM attributed GROUP BY source_a, source_b
    ORDER BY n_pairs DESC, source_a, source_b
    """


@register(
    "q_dedup_cross_source_matrix",
    oracle=_cross_source_oracle(),
    doc="Near-duplicate pair counts per (source, source) cell — WHICH "
    "shards copy from each other, the routing signal for source-level "
    "dedup policy (within-source dups get local dedup; heavy cross-source "
    "cells get a shared pass). Serve path reads the cached lshpairs-v4 "
    "edge artifact (the same one dedup_minhash_lsh serves from) and "
    "broadcasts the dimension-sized edge set into two doc_id joins; the "
    "symmetric matrix key is (least, greatest) of the two sources.",
    tags=("dedup", "quality", "pipeline"),
)
def q_dedup_cross_source_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    from roapi_spark.functions.dedup import lsh_pairs_cached

    pairs = lsh_pairs_cached(spark, sf_dir).select("doc_a", "doc_b")
    src = docs(spark, sf_dir).select("doc_id", "source")
    # the edge set is the small side at any scale (near-dup pairs ~
    # O(corpus dup-rate)); broadcast it so the doc scans never shuffle
    attributed = (
        maybe_broadcast(pairs)
        .join(src.withColumnRenamed("doc_id", "doc_a")
                 .withColumnRenamed("source", "sa"), "doc_a")
        .join(src.withColumnRenamed("doc_id", "doc_b")
                 .withColumnRenamed("source", "sb"), "doc_b")
        .select(
            F.least("sa", "sb").alias("source_a"),
            F.greatest("sa", "sb").alias("source_b"),
        )
    )
    return (
        attributed.groupBy("source_a", "source_b")
        .agg(F.count("*").cast("bigint").alias("n_pairs"))
        .orderBy(F.desc("n_pairs"), F.asc("source_a"), F.asc("source_b"))
    )


def _cluster_sizes_oracle() -> str:
    from roapi_spark.functions.dedup import _COMPONENTS_DUCK

    return f"""
    WITH RECURSIVE {_COMPONENTS_DUCK},
    sizes AS (
      SELECT component, COUNT(*) AS cluster_size FROM comp GROUP BY component
    )
    SELECT CAST(cluster_size AS BIGINT) AS cluster_size,
           CAST(COUNT(*) AS BIGINT) AS n_clusters,
           CAST(cluster_size * COUNT(*) AS BIGINT) AS n_docs
    FROM sizes GROUP BY cluster_size
    ORDER BY cluster_size
    """


@register(
    "q_dedup_cluster_sizes",
    oracle=_cluster_sizes_oracle(),
    doc="Near-dup cluster-size distribution (how many 2-doc pairs vs "
    "100-doc boilerplate families) — the histogram read before choosing "
    "keep-one-per-cluster vs cap-per-cluster policy, and the first place "
    "template explosions show up. Serve path: two tiny aggregations over "
    "the persisted components-v1 label artifact (pair-graph-sized, "
    "orders of magnitude under the corpus).",
    tags=("dedup", "quality", "pipeline"),
)
def q_dedup_cluster_sizes(spark: SparkSession, sf_dir: str) -> DataFrame:
    comp = dedup_components(spark, sf_dir)
    sizes = comp.groupBy("component").agg(F.count("*").alias("cluster_size"))
    return (
        sizes.groupBy("cluster_size")
        .agg(F.count("*").alias("n_clusters"))
        .select(
            F.col("cluster_size").cast("bigint").alias("cluster_size"),
            F.col("n_clusters").cast("bigint").alias("n_clusters"),
            (F.col("cluster_size") * F.col("n_clusters"))
            .cast("bigint")
            .alias("n_docs"),
        )
        .orderBy("cluster_size")
    )


# ==== audits of the engine's own approximate structures =====================
# - ``q_hash_split`` — deterministic md5-bucket train/val/test assignment,
#   reported as a (split, source) matrix: reproducible across engines and
#   runs, no RNG state, and the per-source breakdown makes imbalance
#   visible.
# - ``q_cluster_purity`` — label purity + entropy per learned k-means cell
#   over the persisted IVF layout: the quantizer-quality audit read before
#   trusting centroid-blocked dedup/ANN.
# - ``q_minhash_calibration`` — the MinHash estimator audited against
#   exact shingle Jaccard on the cached candidate pairs, bucketed by
#   estimate: the error table that justifies the estimator's band/row
#   parameters (q_dedup_method_agreement counts set overlap; this measures
#   estimator ERROR).
# - ``dedup_embedding_incremental`` — an arriving vector batch audited
#   against only its coarse-quantizer cell's corpus members, composing
#   the persisted IVF layout with the shared embpairscid edge artifact.
# - ``q_dedup_funnel`` — the one-row dedup headline: docs -> exact-unique
#   -> near-dup survivors with the final keep rate.
#
# Scale shape at 100 TB: every query is one corpus-keyed aggregation plus
# dimension-sized (split / cell / pair) follow-ups; the calibration pair
# set is the cached sub-quadratic LSH edge artifact, not an all-pairs
# join, and the incremental/funnel serves read snapshot artifacts.


# md5-bucket split bounds out of 100: [0,80) train, [80,90) val, rest test
SPLIT_TRAIN_PCT = 80
SPLIT_VAL_PCT = 90


def split_col(doc_id) -> F.Column:
    """The train/val/test label for a doc id — pure function of
    md5(doc_id), identical across engines/runs/shards. Shared by
    q_hash_split and the leakage audit (q_split_leakage)."""

    b = hash_bucket(doc_id.cast("string"), 100)
    return (
        F.when(b < SPLIT_TRAIN_PCT, "train")
        .when(b < SPLIT_VAL_PCT, "val")
        .otherwise("test")
    )


def split_sql(expr: str) -> str:
    """DuckDB twin of :func:`split_col` for oracle CTEs."""

    b = hash_bucket_sql(f"({expr})::VARCHAR", 100)
    return (
        f"CASE WHEN {b} < {SPLIT_TRAIN_PCT} THEN 'train'"
        f" WHEN {b} < {SPLIT_VAL_PCT} THEN 'val' ELSE 'test' END"
    )


@register(
    "q_hash_split",
    oracle=f"""
    WITH tagged AS (
      SELECT source,
             ('0x' || SUBSTR(MD5(doc_id::VARCHAR), 1, 8))::BIGINT % 100 AS b,
             LEN({_TOKENS_SQL_DUCK}) AS ntok
      FROM documents
    )
    SELECT CASE WHEN b < {SPLIT_TRAIN_PCT} THEN 'train'
                WHEN b < {SPLIT_VAL_PCT} THEN 'val'
                ELSE 'test' END AS split,
           source,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(ntok) AS BIGINT) AS n_tokens
    FROM tagged
    GROUP BY 1, 2
    ORDER BY split, source
    """,
    doc="Deterministic train/val/test assignment: md5(doc_id) -> bucket "
    f"0..99, [0,{SPLIT_TRAIN_PCT}) train / [{SPLIT_TRAIN_PCT},"
    f"{SPLIT_VAL_PCT}) val / rest test — reproducible across engines, "
    "runs and shards with zero RNG state (the only split rule that "
    "survives a distributed re-run). Reported per (split, source) so "
    "imbalance would be visible. Pure map-side tag + one agg shuffle of "
    "split*source cells.",
    tags=("text", "sampling", "pipeline"),
)
def q_hash_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    return (
        docs(spark, sf_dir)
        .select(
            split_col(F.col("doc_id")).alias("split"),
            "source",
            F.size(tokens_col()).alias("ntok"),
        )
        .groupBy("split", "source")
        .agg(
            F.count("*").cast("bigint").alias("n_docs"),
            F.sum("ntok").cast("bigint").alias("n_tokens"),
        )
        .orderBy("split", "source")
    )


def _cluster_purity_oracle() -> str:
    from roapi_spark.functions.similarity import kmeans_oracle_prefix

    return f"""
    WITH {kmeans_oracle_prefix()},
    cl AS (
      SELECT af.cid, em.label, COUNT(*) AS c
      FROM af JOIN embeddings em ON em.vec_id = af.vec_id
      GROUP BY af.cid, em.label
    ), tot AS (
      SELECT cid, SUM(c) AS n FROM cl GROUP BY cid
    )
    SELECT cl.cid, CAST(MAX(tot.n) AS BIGINT) AS n_members,
           CAST(COUNT(*) AS BIGINT) AS n_labels,
           FLOOR(MAX(cl.c) * 1.0 / MAX(tot.n) * 10000 + 0.5) / 10000.0
             AS purity,
           FLOOR(-SUM((cl.c * 1.0 / tot.n) * LN(cl.c * 1.0 / tot.n))
                 * 10000 + 0.5) / 10000.0 AS label_entropy
    FROM cl JOIN tot USING (cid)
    GROUP BY cl.cid
    ORDER BY cl.cid
    """


@register(
    "q_cluster_purity",
    oracle=_cluster_purity_oracle(),
    doc="Quantizer-quality audit: label purity (majority-label share) and "
    "label entropy per learned k-means cell, read off the persisted IVF "
    "layout — the check run before trusting centroid-blocked dedup or "
    "IVF probes (a low-purity, high-entropy cell means the coarse "
    "quantizer is mixing semantic neighborhoods). Serve path: one "
    "(cid,label) agg over the cid-partitioned layout, then K_LISTS-sized "
    "joins; the k-means fit itself is the amortized build-once artifact, "
    "and the full pipeline is DuckDB-oracle-checked.",
    tags=("similarity", "quality", "pipeline"),
)
def q_cluster_purity(spark: SparkSession, sf_dir: str) -> DataFrame:
    from roapi_spark.functions.similarity import ivf_layout

    layout_dir, _ = ivf_layout(spark, sf_dir)
    cl = (
        spark.read.parquet(layout_dir)
        .groupBy("cid", "label")
        .agg(F.count("*").alias("c"))
    )
    tot = cl.groupBy("cid").agg(F.sum("c").alias("n"))
    p = F.col("c") * F.lit(1.0) / F.col("n")
    return (
        cl.join(maybe_broadcast(tot), "cid")
        .groupBy("cid")
        .agg(
            F.max("n").cast("bigint").alias("n_members"),
            F.count("*").cast("bigint").alias("n_labels"),
            pround(F.max("c") * F.lit(1.0) / F.max("n")).alias("purity"),
            pround(-F.sum(p * F.log(p))).alias("label_entropy"),
        )
        .select("cid", "n_members", "n_labels", "purity", "label_entropy")
        .orderBy("cid")
    )


def _minhash_calibration_oracle() -> str:
    from roapi_spark.functions.dedup import N_MINHASH, lsh_cand_oracle_cte

    return f"""
    WITH {lsh_cand_oracle_cte()},
    est AS (
      SELECT c.doc_a, c.doc_b,
             FLOOR(SUM(CASE WHEN ma.mh = mb.mh THEN 1 ELSE 0 END)
                   / CAST({N_MINHASH} AS DOUBLE) * 10000 + 0.5) / 10000.0
               AS est_jaccard
      FROM cand c
        JOIN minh ma ON ma.doc_id = c.doc_a
        JOIN minh mb ON mb.doc_id = c.doc_b AND ma.k = mb.k
      GROUP BY c.doc_a, c.doc_b
    ),
    szs AS (SELECT doc_id, COUNT(*) AS sz FROM sh GROUP BY doc_id),
    inter AS (
      SELECT e.doc_a, e.doc_b, COUNT(*) AS i
      FROM est e
        JOIN sh a ON a.doc_id = e.doc_a
        JOIN sh b ON b.doc_id = e.doc_b AND b.shingle = a.shingle
      GROUP BY e.doc_a, e.doc_b
    ),
    scored AS (
      SELECT e.est_jaccard,
             COALESCE(i.i, 0) * 1.0
               / (sa.sz + sb.sz - COALESCE(i.i, 0)) AS exact_jaccard
      FROM est e
        LEFT JOIN inter i ON i.doc_a = e.doc_a AND i.doc_b = e.doc_b
        JOIN szs sa ON sa.doc_id = e.doc_a
        JOIN szs sb ON sb.doc_id = e.doc_b
    )
    SELECT CAST(FLOOR(est_jaccard * 10) AS BIGINT) AS est_bucket,
           CAST(COUNT(*) AS BIGINT) AS n_pairs,
           FLOOR(AVG(exact_jaccard) * 10000 + 0.5) / 10000.0 AS mean_exact,
           FLOOR(AVG(ABS(est_jaccard - exact_jaccard)) * 10000 + 0.5) / 10000.0
             AS mean_abs_err
    FROM scored
    GROUP BY 1 ORDER BY 1
    """


@register(
    "q_minhash_calibration",
    oracle=_minhash_calibration_oracle(),
    doc="MinHash estimator calibration: for every cached LSH candidate "
    "pair, the signature-match estimate vs the EXACT shingle Jaccard, "
    "bucketed by estimate decile — the error table that justifies (or "
    "indicts) the N_MINHASH/band parameters. Serve path: pair-bounded "
    "throughout — the est side is the cached lshpairs-v4 artifact, the "
    "exact side joins the pair set (broadcast) against the distinct "
    "shingle postings, so work scales with candidate pairs x shingles "
    "per doc, never all-pairs.",
    tags=("dedup", "quality", "pipeline"),
)
def q_minhash_calibration(spark: SparkSession, sf_dir: str) -> DataFrame:
    from roapi_spark.functions.dedup import lsh_pairs_cached, shingles

    pairs = lsh_pairs_cached(spark, sf_dir)
    # Pair-bounded on the SCAN side too: only docs that appear in a
    # cached pair get tokenized/shingled (the member set is pair-graph-
    # sized, orders of magnitude under the corpus), and the barrier
    # materializes the exploded postings ONCE for all three consumers
    # below (szs + both sides of the intersection join) instead of
    # re-running the explode per subtree.
    pdocs = pairs.select(
        F.explode(F.array("doc_a", "doc_b")).alias("doc_id")
    ).distinct()
    sh = shingles(
        docs(spark, sf_dir).join(maybe_broadcast(pdocs), "doc_id")
    ).localCheckpoint(eager=False)
    szs = sh.groupBy("doc_id").agg(F.count("*").alias("sz"))
    inter = (
        maybe_broadcast(pairs.select("doc_a", "doc_b"))
        .join(sh.withColumnRenamed("doc_id", "doc_a"), "doc_a")
        .join(
            sh.withColumnRenamed("doc_id", "doc_b2").withColumnRenamed(
                "shingle", "shingle_b"
            ),
            (F.col("doc_b") == F.col("doc_b2"))
            & (F.col("shingle") == F.col("shingle_b")),
        )
        .groupBy("doc_a", "doc_b")
        .agg(F.count("*").alias("i"))
    )
    scored = (
        pairs.join(inter, ["doc_a", "doc_b"], "left")
        .join(
            maybe_broadcast(szs.withColumnRenamed("doc_id", "doc_a").withColumnRenamed("sz", "sza")),
            "doc_a",
        )
        .join(
            maybe_broadcast(szs.withColumnRenamed("doc_id", "doc_b").withColumnRenamed("sz", "szb")),
            "doc_b",
        )
        .select(
            "est_jaccard",
            (
                F.coalesce(F.col("i"), F.lit(0))
                * F.lit(1.0)
                / (F.col("sza") + F.col("szb") - F.coalesce(F.col("i"), F.lit(0)))
            ).alias("exact_jaccard"),
        )
    )
    return (
        scored.groupBy(
            F.floor(F.col("est_jaccard") * 10).cast("bigint").alias("est_bucket")
        )
        .agg(
            F.count("*").cast("bigint").alias("n_pairs"),
            pround(F.avg("exact_jaccard")).alias("mean_exact"),
            pround(F.avg(F.abs(F.col("est_jaccard") - F.col("exact_jaccard")))).alias(
                "mean_abs_err"
            ),
        )
        .orderBy("est_bucket")
    )


def _emb_incremental_oracle() -> str:
    from roapi_spark.functions.dedup import CELL_SKEW_MULT, INCR_MOD, INCR_NEW
    from roapi_spark.functions.similarity import K_LISTS, kmeans_oracle_prefix

    return f"""
    WITH {kmeans_oracle_prefix()},
    newv AS (SELECT vec_id, cid FROM af WHERE vec_id % {INCR_MOD} = {INCR_NEW}),
    corp AS (SELECT vec_id, cid FROM af WHERE vec_id % {INCR_MOD} <> {INCR_NEW}),
    csz AS (SELECT cid, COUNT(*) AS nc FROM corp GROUP BY cid),
    okc AS (  -- corpus-side degenerate-cell guard, same bound as batch
      SELECT csz.cid, csz.nc FROM csz
      WHERE csz.nc <= {CELL_SKEW_MULT} * (SELECT COUNT(*) FROM corp)
                      / {K_LISTS}),
    dups AS (
      SELECT n.vec_id AS new_id, COUNT(*) AS n_dups
      FROM newv n
        JOIN corp c ON c.cid = n.cid
        JOIN okc ON okc.cid = n.cid
        JOIN e en ON en.vec_id = n.vec_id
        JOIN e ec ON ec.vec_id = c.vec_id
      WHERE ROUND(LIST_COSINE_SIMILARITY(en.v, ec.v), 4) >= 0.3
      GROUP BY 1
    )
    SELECT n.vec_id AS new_id, n.cid,
           CAST(COALESCE(okc.nc, 0) AS BIGINT) AS n_candidates,
           CAST(COALESCE(d.n_dups, 0) AS BIGINT) AS n_dups
    FROM newv n
      LEFT JOIN okc ON okc.cid = n.cid
      LEFT JOIN dups d ON d.new_id = n.vec_id
    ORDER BY new_id
    """


@register(
    "dedup_embedding_incremental",
    oracle=_emb_incremental_oracle(),
    doc="Incremental embedding dedup: an arriving vector batch (the "
    "simulated vec_id%10==7 slice, same convention as dedup_incremental) "
    "is assigned with the PERSISTED coarse quantizer and audited against "
    "only its cell's corpus members — n_candidates (cell occupancy after "
    "the corpus-side skew cap) and n_dups (cosine >= 0.3 matches) per "
    "new vector, no corpus-wide recompute. Serve path composes the two "
    "build-once artifacts: cell membership from the IVF layout, the "
    "actual duplicate edges from the shared embpairscid pair graph "
    "filtered to new-vs-corpus orientation — both joins are "
    "dimension-sized.",
    tags=("dedup", "similarity", "pipeline"),
)
def dedup_embedding_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    from roapi_spark.functions.dedup import (
        CELL_SKEW_MULT,
        INCR_MOD,
        INCR_NEW,
        emb_pairs_cid_cached,
    )
    from roapi_spark.functions.similarity import (
        K_LISTS,
        ivf_cell_sizes,
        ivf_layout,
    )

    layout_dir, _ = ivf_layout(spark, sf_dir)
    members = spark.read.parquet(layout_dir).select("vec_id", "cid")
    is_new = F.col("vec_id") % INCR_MOD == INCR_NEW
    newv = members.filter(is_new)
    # corpus-side cell occupancy = the layout's PERSISTED per-cell sizes
    # minus the new slice's per-cell counts (one K_LISTS-row collect of
    # the batch we list anyway) — the skew gate is then driver-side
    # integer math, with no second corpus-wide aggregation per call
    sizes = ivf_cell_sizes(layout_dir)
    new_counts = {
        int(r.cid): int(r.n)
        for r in newv.groupBy("cid").agg(F.count("*").alias("n")).collect()
    }
    corp_sizes = {cid: n - new_counts.get(cid, 0) for cid, n in sizes.items()}
    totc = sum(corp_sizes.values())
    ok_cells = sorted(
        (cid, nc)
        for cid, nc in corp_sizes.items()
        if nc <= CELL_SKEW_MULT * totc / K_LISTS
    )
    okc = spark.createDataFrame(ok_cells, "cid int, nc bigint")
    pairs = emb_pairs_cid_cached(spark, sf_dir)
    # new-vs-corpus edges, either orientation of the (id_a < id_b) pair
    a_new = (F.col("id_a") % INCR_MOD == INCR_NEW)
    b_new = (F.col("id_b") % INCR_MOD == INCR_NEW)
    dups = (
        pairs.join(maybe_broadcast(okc.select("cid")), "cid")
        .filter(a_new != b_new)
        .select(F.when(a_new, F.col("id_a")).otherwise(F.col("id_b")).alias("new_id"))
        .groupBy("new_id")
        .agg(F.count("*").alias("n_dups"))
    )
    return (
        newv.select(F.col("vec_id").alias("new_id"), "cid")
        .join(maybe_broadcast(okc), "cid", "left")
        .join(maybe_broadcast(dups), "new_id", "left")
        .select(
            "new_id",
            "cid",
            F.coalesce("nc", F.lit(0)).cast("bigint").alias("n_candidates"),
            F.coalesce("n_dups", F.lit(0)).cast("bigint").alias("n_dups"),
        )
        .orderBy("new_id")
    )


# the funnel's doc-stage CTEs (requires comp from _COMPONENTS_DUCK) —
# shared with q_curation_funnel's oracle so the keep rule can't
# silently diverge between the two oracles
_FUNNEL_DUCK = """keep_ex AS (SELECT MIN(doc_id) AS doc_id FROM documents GROUP BY MD5(text)),
    drop_near AS (SELECT doc_id FROM comp WHERE doc_id <> component),
    surv AS (
      SELECT k.doc_id FROM keep_ex k
      WHERE k.doc_id NOT IN (SELECT doc_id FROM drop_near)
    )"""


def _dedup_funnel_oracle() -> str:
    from roapi_spark.functions.dedup import _COMPONENTS_DUCK

    return f"""
    WITH RECURSIVE {_COMPONENTS_DUCK},
    {_FUNNEL_DUCK}
    SELECT (SELECT CAST(COUNT(*) AS BIGINT) FROM documents) AS n_docs,
           (SELECT CAST(COUNT(*) AS BIGINT) FROM keep_ex) AS n_after_exact,
           (SELECT CAST(COUNT(*) AS BIGINT) FROM surv) AS n_after_near,
           FLOOR((SELECT COUNT(*) FROM surv) * 1.0
                 / (SELECT COUNT(*) FROM documents) * 10000 + 0.5) / 10000.0
             AS pct_kept
    """


def funnel_survivors(
    spark: SparkSession, sf_dir: str
) -> tuple[DataFrame, DataFrame, DataFrame]:
    """(docs, exact-keepers, doc-dedup survivors) — the funnel's doc-id
    frames, shared with q_curation_funnel."""

    d = docs(spark, sf_dir)
    keep_ex = (
        d.select(F.md5("text").alias("h"), "doc_id")
        .groupBy("h")
        .agg(F.min("doc_id").alias("doc_id"))
        .select("doc_id")
    )
    drop_near = (
        dedup_components(spark, sf_dir)
        .filter(F.col("doc_id") != F.col("component"))
        .select("doc_id")
    )
    surv = keep_ex.join(maybe_broadcast(drop_near), "doc_id", "left_anti")
    return d, keep_ex, surv


@register(
    "q_dedup_funnel",
    oracle=_dedup_funnel_oracle(),
    doc="Corpus-level dedup funnel — the one-row headline of a dedup "
    "report: docs -> exact-unique (keep min doc_id per md5) -> near-dup "
    "survivors (exact keepers that are not non-representative members "
    "of an LSH component), with the final keep rate. Serve path: the "
    "exact stage is one 16-byte-digest shuffle; the near stage reads "
    "the snapshot-cached component labels (pair-graph-sized) and "
    "anti-joins — no text ever shuffles, no pair recompute.",
    tags=("dedup", "quality", "pipeline"),
)
def q_dedup_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    d, keep_ex, surv = funnel_survivors(spark, sf_dir)
    n_docs = d.agg(F.count("*").cast("bigint").alias("n_docs"))
    n_ex = keep_ex.agg(F.count("*").cast("bigint").alias("n_after_exact"))
    n_surv = surv.agg(F.count("*").cast("bigint").alias("n_after_near"))
    return (
        n_docs.crossJoin(F.broadcast(n_ex))
        .crossJoin(F.broadcast(n_surv))
        .select(
            "n_docs",
            "n_after_exact",
            "n_after_near",
            pround(
                F.col("n_after_near") * F.lit(1.0) / F.col("n_docs")
            ).alias("pct_kept"),
        )
    )


# ==== selection and rewrite =================================================
# The steps that turn audit numbers into a curated training set:
#
# - ``q_dsir_weights`` — Data Selection via Importance Resampling (Xie et
#   al., NeurIPS 2023): hashed-unigram bucket counts for a target domain
#   vs the raw pool, Laplace-smoothed log-likelihood ratios per bucket,
#   and a per-document importance weight (mean bucket log-ratio).
#   Reported per source: mean weight and the share of docs that score
#   target-like, i.e. the selection rate an importance-resampling pass
#   would admit.
# - ``dedup_span_rewrite`` — the removal step of exact-substring dedup
#   (Lee et al. 2022 "Deduplicating Training Data Makes Language Models
#   Better"): every token covered by a K-token gram whose exact text
#   occurs more than once corpus-wide is cut, and the surviving tokens
#   are reassembled in order. ``dedup_substring_spans`` measures the
#   damage; this op performs the surgery.
# - ``q_token_budget_shards`` — deterministic shard planning: documents
#   ordered by md5(doc_id) (a reproducible global shuffle, no RNG state)
#   are packed greedily into fixed token-budget shards via a distributed
#   prefix sum. The per-shard doc/token counts are the manifest a
#   training job reads.
# - ``q_split_leakage`` — near-duplicate pairs crossing the train/val/
#   test hash-split boundary: benchmark decontamination checks external
#   eval sets, but a random split of a near-duplicated corpus leaks
#   through SELF-duplication (train twins of val/test docs). Composes the
#   split rule (``split_col``) with the cached LSH pair artifact — the
#   labels derive from doc_id alone, so the audit is a pure map over the
#   edge set, zero joins.
#
# Scale shape at 100 TB:
# - DSIR's feature space is the B=256 hash-bucket table — the log-ratio
#   table is broadcast, so scoring is one map-side join plus a doc-keyed
#   agg; nothing is vocabulary-sized.
# - The span rewrite shuffles md5(gram) digests (16 B), never gram text,
#   and the rewrite side is doc-keyed: covered positions are bounded by
#   K x duplicated-gram starts, not corpus size.
# - The shard planner never runs a single-partition global window: the
#   prefix sum is per-range-bucket partial sums (Window.partitionBy over
#   256 md5-prefix buckets) plus a driver-side exclusive scan over the
#   256 bucket totals (bounded state, same pattern as the IVF centroid
#   collect) broadcast back as offsets.


DSIR_BUCKETS = 256  # hashed-feature dimensionality (Xie et al. use 10k)
DSIR_TARGET = "src0"  # in-domain proxy: one source plays "target corpus"
# gram width IS the detection op's span width: the rewrite must cut
# exactly what dedup_substring_spans counts, so the coupling is an
# import, not a comment (tuning SPAN_K to Lee et al.'s 50 retunes both)
REWRITE_K = SPAN_K
SHARD_BUDGET = 4096  # tokens per training shard


_DSIR_CTES = f"""tok AS (
      SELECT doc_id, source, unnest({_TOKENS_SQL_DUCK}) AS tok FROM documents
    ), tb AS (
      SELECT doc_id, source,
             ('0x' || SUBSTR(MD5(tok), 1, 8))::BIGINT % {DSIR_BUCKETS} AS b
      FROM tok
    ), c AS (
      SELECT b,
             SUM(CASE WHEN source = '{DSIR_TARGET}' THEN 1 ELSE 0 END) AS ct,
             SUM(CASE WHEN source <> '{DSIR_TARGET}' THEN 1 ELSE 0 END) AS cr
      FROM tb GROUP BY b
    ), tot AS (
      SELECT SUM(ct) AS tt, SUM(cr) AS tr FROM c
    ), lr AS (
      SELECT b, LN((ct + 1.0) / (tt + {DSIR_BUCKETS}))
               - LN((cr + 1.0) / (tr + {DSIR_BUCKETS})) AS lr
      FROM c CROSS JOIN tot
    ), dw AS (
      SELECT doc_id, AVG(lr) AS w
      FROM tb JOIN lr USING (b) GROUP BY doc_id
    ), dwall AS (
      -- zero-token docs (no [a-z] runs) still count, with weight 0:
      -- excluding them would silently shrink n_docs and sel_rate's
      -- denominator relative to every other per-source table
      SELECT d.doc_id, d.source, COALESCE(dw.w, 0.0) AS w
      FROM documents d LEFT JOIN dw USING (doc_id)
    )"""

_DSIR_ORACLE = f"""
    WITH {_DSIR_CTES}
    SELECT source,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           {pround_sql('AVG(w)')} AS avg_weight,
           {pround_sql('AVG(CASE WHEN w > 0 THEN 1.0 ELSE 0.0 END)')}
             AS sel_rate
    FROM dwall GROUP BY source ORDER BY source
    """

_DSIR_DOC = (
    "DSIR importance weights (Xie et al. 2023): hashed-unigram "
    f"({DSIR_BUCKETS} md5 buckets) Laplace-smoothed log-likelihood ratio "
    f"of the target domain ('{DSIR_TARGET}') vs the raw pool; a doc's "
    "weight is its mean token log-ratio (zero-token docs count with "
    "weight 0), and sel_rate is the share of docs an importance-"
    "resampling pass would rank target-like (w > 0). "
    "Plan: the feature space is the bucket table, NOT the vocabulary — "
    f"one {DSIR_BUCKETS}-row agg, a broadcast log-ratio join onto the "
    "token stream, one doc-keyed agg, one source-keyed rollup. Nothing "
    "driver-side, nothing vocabulary-sized, no all-pairs."
)


def _dsir_token_buckets(spark: SparkSession, sf_dir: str) -> DataFrame:
    return (
        docs(spark, sf_dir)
        .select("doc_id", "source", F.explode(tokens_col()).alias("tok"))
        .select(
            "doc_id", "source", hash_bucket(F.col("tok"), DSIR_BUCKETS).alias("b")
        )
    )


def _dsir_log_ratios(tb: DataFrame) -> DataFrame:
    """(b, lr): the Laplace-smoothed target-vs-raw log-likelihood ratio
    per hash bucket — the entire learned state of DSIR, at most
    DSIR_BUCKETS rows."""
    c = tb.groupBy("b").agg(
        F.sum(F.when(F.col("source") == DSIR_TARGET, 1).otherwise(0)).alias("ct"),
        F.sum(F.when(F.col("source") != DSIR_TARGET, 1).otherwise(0)).alias("cr"),
    )
    tot = c.agg(F.sum("ct").alias("tt"), F.sum("cr").alias("tr"))
    return c.crossJoin(F.broadcast(tot)).select(
        "b",
        (
            F.log((F.col("ct") + 1.0) / (F.col("tt") + DSIR_BUCKETS))
            - F.log((F.col("cr") + 1.0) / (F.col("tr") + DSIR_BUCKETS))
        ).alias("lr"),
    )


def dsir_lr_cached(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Build-once DSIR log-ratio table (``dsirlr-b{B}-{target}-v1`` — the tag encodes the feature dimensionality and target domain): the counting
    pass over the corpus token stream runs once per snapshot; scoring
    consumers broadcast-read the <= DSIR_BUCKETS-row artifact."""
    from roapi_spark.functions.snapshot import (
        build_once,
        parquet_ready,
        snapshot_cache_dir,
    )

    src = os.path.join(sf_dir, "documents.parquet")
    out = snapshot_cache_dir(src, f"dsirlr-b{DSIR_BUCKETS}-{DSIR_TARGET}-v1")
    build_once(
        out,
        parquet_ready,
        lambda tmp: _dsir_log_ratios(_dsir_token_buckets(spark, sf_dir))
        .write.mode("overwrite")
        .parquet(tmp),
    )
    return spark.read.parquet(out)


def _dsir_report(
    spark: SparkSession, sf_dir: str, lr: DataFrame, tb: DataFrame | None = None
) -> DataFrame:
    if tb is None:
        tb = _dsir_token_buckets(spark, sf_dir)
    dw = tb.join(F.broadcast(lr), "b").groupBy("doc_id").agg(F.avg("lr").alias("w"))
    # left join from the full doc set: zero-token docs keep weight 0
    # instead of silently dropping out of n_docs / sel_rate
    dwall = (
        docs(spark, sf_dir)
        .select("doc_id", "source")
        .join(dw, "doc_id", "left")
        .select("source", F.coalesce("w", F.lit(0.0)).alias("w"))
    )
    return (
        dwall.groupBy("source")
        .agg(
            F.count("*").cast("bigint").alias("n_docs"),
            pround(F.avg("w")).alias("avg_weight"),
            pround(F.avg(F.when(F.col("w") > 0, 1.0).otherwise(0.0))).alias(
                "sel_rate"
            ),
        )
        .orderBy("source")
    )


@register(
    "q_dsir_weights",
    oracle=_DSIR_ORACLE,
    doc=_DSIR_DOC,
    tags=("text", "sampling", "pipeline"),
)
def q_dsir_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Persist the token-bucket rows for the query's duration: the
    # counting pass (log ratios) and the scoring pass both consume them
    # — without it the corpus was tokenized + exploded twice per serve
    # (round 14; guide §5). The 100 TB path stays the served artifact
    # (q_dsir_weights_served), which needs only ONE pass by design.
    tb = serve_persist(_dsir_token_buckets(spark, sf_dir))
    return _dsir_report(spark, sf_dir, _dsir_log_ratios(tb), tb=tb)


@register(
    "q_dsir_select",
    oracle=f"""
    WITH {_DSIR_CTES},
    sel AS (
      SELECT source, w,
             CASE WHEN {hash_bucket_sql("doc_id::VARCHAR", 1000)} <
                  LEAST(1000, GREATEST(0,
                    CAST(FLOOR(w * 1000 + 0.5) AS BIGINT)))
             THEN 1 ELSE 0 END AS s
      FROM dwall
    )
    SELECT source,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(s) AS BIGINT) AS n_selected,
           {pround_sql('AVG(s * 1.0)')} AS sel_frac,
           {pround_sql(
               'COALESCE(SUM(w * s) / NULLIF(SUM(s), 0), 0.0)'
           )} AS avg_w_selected
    FROM sel GROUP BY source ORDER BY source
    """,
    doc="DSIR selection EXECUTED (the resampling step of Xie et al. "
    "2023): each document is accepted with probability proportional to "
    "its clipped importance weight — deterministically, by comparing "
    "the doc's md5 hash bucket (a reproducible uniform in [0,1000)) "
    "against the pround-quantized weight, so there is no RNG state and "
    "both engines make identical accept/reject decisions. Reported per "
    "source: pool size, accepted count, accept fraction, and the mean "
    "weight of the accepted set (the selected corpus skews target-like "
    "by construction). Plan: serves the dsirlr artifact (broadcast "
    "<=256 rows), one token-stream scoring pass, one doc-keyed agg, "
    "one source rollup — the selection itself is a stateless map over "
    "doc weights.",
    tags=("text", "sampling", "pipeline"),
)
def q_dsir_select(spark: SparkSession, sf_dir: str) -> DataFrame:
    lr = dsir_lr_cached(spark, sf_dir)
    tb = _dsir_token_buckets(spark, sf_dir)
    dw = tb.join(F.broadcast(lr), "b").groupBy("doc_id").agg(
        F.avg("lr").alias("w")
    )
    dwall = (
        docs(spark, sf_dir)
        .select("doc_id", "source")
        .join(dw, "doc_id", "left")
        .select("doc_id", "source", F.coalesce("w", F.lit(0.0)).alias("w"))
    )
    p = F.least(
        F.lit(1000),
        F.greatest(F.lit(0), F.floor(F.col("w") * 1000 + 0.5).cast("bigint")),
    )
    s = F.when(
        hash_bucket(F.col("doc_id").cast("string"), 1000) < p, 1
    ).otherwise(0)
    return (
        dwall.select("source", "w", s.alias("s"))
        .groupBy("source")
        .agg(
            F.count("*").cast("bigint").alias("n_docs"),
            F.sum("s").cast("bigint").alias("n_selected"),
            pround(F.avg(F.col("s") * 1.0)).alias("sel_frac"),
            pround(
                F.coalesce(
                    F.sum(F.col("w") * F.col("s"))
                    / F.nullif(F.sum("s"), F.lit(0)),
                    F.lit(0.0),
                )
            ).alias("avg_w_selected"),
        )
        .orderBy("source")
    )


@register(
    "q_dsir_weights_served",
    oracle=_DSIR_ORACLE,
    doc=_DSIR_DOC + " Serve path: the counting pass persists as the "
    "dsirlr-b256-src0-v1 artifact (the model IS 256 doubles), so serving is the "
    "scoring pass alone — one broadcast join over the token stream. "
    "Same oracle as the recompute: identical output is the artifact-"
    "correctness check.",
    tags=("text", "sampling", "pipeline"),
)
def q_dsir_weights_served(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _dsir_report(spark, sf_dir, dsir_lr_cached(spark, sf_dir))


# the CTE chain (toks .. reb) shared by the rewrite oracle and the
# impact audit (q_rewrite_impact)
_SPAN_CTE = f"""toks AS (SELECT doc_id, {_TOKENS_SQL_DUCK} AS w FROM documents),
    g AS (
      SELECT doc_id, i - 1 AS i,
             MD5(array_to_string(w[i:i + {REWRITE_K - 1}], ' ')) AS g
      FROM toks, UNNEST(generate_series(1, len(w) - {REWRITE_K - 1})) AS t(i)
    ),
    dup AS (SELECT g FROM g GROUP BY g HAVING COUNT(*) > 1),
    cov AS (
      SELECT DISTINCT ds.doc_id, ds.i + u.p AS p
      FROM (SELECT g.doc_id, g.i FROM g JOIN dup USING (g)) ds,
           UNNEST(generate_series(0, {REWRITE_K - 1})) AS u(p)
    ),
    pos AS (
      SELECT doc_id, i - 1 AS p, w[i] AS tok
      FROM toks, UNNEST(generate_series(1, len(w))) AS t(i)
    ),
    kept AS (
      SELECT pos.doc_id, pos.p, pos.tok FROM pos
      WHERE NOT EXISTS (SELECT 1 FROM cov
                        WHERE cov.doc_id = pos.doc_id AND cov.p = pos.p)
    ),
    reb AS (
      SELECT doc_id, COUNT(*) AS n_kept,
             STRING_AGG(tok, ' ' ORDER BY p) AS clean_text
      FROM kept GROUP BY doc_id
    )"""

_SPAN_REWRITE_ORACLE = f"""
    WITH {_SPAN_CTE}
    SELECT t.doc_id,
           CAST(LEN(t.w) AS BIGINT) AS n_tokens,
           CAST(COALESCE(r.n_kept, 0) AS BIGINT) AS n_kept,
           COALESCE(r.clean_text, '') AS clean_text
    FROM toks t LEFT JOIN reb r USING (doc_id)
    """


def _toks(spark: SparkSession, sf_dir: str) -> DataFrame:
    return docs(spark, sf_dir).select("doc_id", tokens_col().alias("w"))


def _covered_positions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(doc_id, p) for every token position covered by a corpus-duplicated
    K-gram — the expensive half of the rewrite (gram tally + dup join)."""

    # Persisted for the query's duration: the duplicate tally and the
    # coverage join BOTH consume the gram digests — without it the
    # tokenize + posexplode + md5 pass ran twice per serve (round 14;
    # guide §5). The once-per-snapshot scale path stays the spancov
    # artifact (dedup_span_rewrite_served).
    grams = (
        _toks(spark, sf_dir)
        .filter(F.size("w") >= REWRITE_K)
        .select(
            "doc_id",
            F.posexplode(_positional_grams(F.col("w"))).alias("i", "gram"),
        )
        .select("doc_id", "i", F.md5(F.col("gram")).alias("g"))
    )
    grams = serve_persist(grams)
    dup = grams.groupBy("g").count().filter(F.col("count") > 1).select("g")
    return (
        grams.join(dup, "g")
        .select(
            "doc_id",
            F.explode(
                F.sequence(F.col("i"), F.col("i") + (REWRITE_K - 1))
            ).alias("p"),
        )
        .distinct()
    )


def span_cov_cached(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Build-once covered-position artifact (``spancov-k{K}-v1`` — the tag encodes the gram width, so retuning REWRITE_K keys a fresh artifact instead of serving a stale one): the gram
    tally + duplicate join runs once per corpus snapshot; every rewrite
    consumer reads the materialized (doc_id, p) set (content-addressed
    key via the parquet footer digest, like ``dedup.lsh_pairs_cached``)."""
    from roapi_spark.functions.snapshot import (
        build_once,
        parquet_ready,
        snapshot_cache_dir,
    )

    src = os.path.join(sf_dir, "documents.parquet")
    out = snapshot_cache_dir(src, f"spancov-k{REWRITE_K}-v1")
    build_once(
        out,
        parquet_ready,
        lambda tmp: _covered_positions(spark, sf_dir)
        .write.mode("overwrite")
        .parquet(tmp),
    )
    return spark.read.parquet(out)


def _span_rebuild(spark: SparkSession, sf_dir: str, covered: DataFrame) -> DataFrame:
    """Cut covered positions and reassemble survivors in order — the
    doc-keyed half of the rewrite, shared by the recompute and serve
    paths.

    The token stream itself never shuffles: covered positions aggregate
    to a per-doc array (rows only for docs that HAVE duplication), join
    doc-keyed onto the token arrays, and the cut + reassembly is a
    map-side filter-with-index + concat. The first version posexploded
    every token and anti-joined — shuffling the whole corpus text to
    remove a usually-small fraction of it."""
    cov = covered.groupBy("doc_id").agg(F.collect_set("p").alias("cov"))
    kept = F.filter(
        F.col("w"), lambda x, i: ~F.array_contains(F.col("cov"), i)
    )
    return (
        _toks(spark, sf_dir)
        .join(cov, "doc_id", "left")
        .select(
            "doc_id",
            F.size("w").cast("bigint").alias("n_tokens"),
            F.when(F.col("cov").isNull(), F.col("w")).otherwise(kept).alias("kw"),
        )
        .select(
            "doc_id",
            "n_tokens",
            F.size("kw").cast("bigint").alias("n_kept"),
            F.concat_ws(" ", F.col("kw")).alias("clean_text"),
        )
    )


@register(
    "dedup_span_rewrite",
    oracle=_SPAN_REWRITE_ORACLE,
    doc="The removal step of exact-substring dedup (Lee et al. 2022): "
    f"every token position covered by a {REWRITE_K}-token gram whose "
    "exact text occurs >1 time corpus-wide is cut; survivors are "
    "reassembled in original order (dedup_substring_spans is the audit, "
    "this is the rewrite). Plan: gram tally shuffles md5(gram) digests "
    "(16 B, never gram text); duplicated starts expand to covered "
    f"positions (bounded by {REWRITE_K} x dup starts); the rebuild is "
    "one doc-keyed anti-join plus a doc-keyed sort-within-group agg. "
    "No all-pairs, no driver state; at real scale K rises to 50 which "
    "only SHRINKS the gram count per doc. The once-per-snapshot serve "
    "path is dedup_span_rewrite_served.",
    tags=("dedup", "text", "pipeline"),
)
def dedup_span_rewrite(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _span_rebuild(spark, sf_dir, _covered_positions(spark, sf_dir))


@register(
    "dedup_span_rewrite_served",
    oracle=_SPAN_REWRITE_ORACLE,
    doc="dedup_span_rewrite served from the build-once spancov-k8-v1 "
    "covered-position artifact: the gram tally + duplicate join (the "
    "corpus-shuffle half, ~2/3 of the recompute wall) runs once per "
    "corpus snapshot; the serve path is the doc-keyed anti-join + "
    "reassembly only. Same oracle as the recompute — byte-identical "
    "output is the artifact-correctness check.",
    tags=("dedup", "text", "pipeline"),
)
def dedup_span_rewrite_served(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _span_rebuild(spark, sf_dir, span_cov_cached(spark, sf_dir))


def shard_assign(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(doc_id, source, ntok, shard): the distributed-prefix-sum shard
    assignment, shared by the manifest query and the shard-mixture
    audit (Catalyst prunes `source` when a consumer drops it)."""

    d = docs(spark, sf_dir).select(
        "doc_id",
        "source",
        F.md5(F.col("doc_id").cast("string")).alias("h"),
        F.size(tokens_col()).cast("bigint").alias("ntok"),
    )
    # range bucket = 2-hex-char md5 prefix: ordering by (bkt, h) equals
    # ordering by h, so per-bucket windows + bucket offsets reproduce the
    # global running sum without a single-partition sort
    d = d.withColumn(
        "bkt", F.conv(F.substring("h", 1, 2), 16, 10).cast("int")
    )
    # barrier: the bucket-totals collect and the final windowed plan
    # both consume `d` — without it the tokenize+md5 pass over the
    # corpus runs twice. One row per doc (4 narrow cols), so the
    # checkpoint is doc-count sized.
    d = d.localCheckpoint(eager=False)
    bucket_tot = d.groupBy("bkt").agg(F.sum("ntok").alias("btok"))
    rows = sorted(
        (r["bkt"], r["btok"]) for r in bucket_tot.collect()
    )  # <=256 rows of driver state — exact integer math for the scan
    offsets, acc = [], 0
    for bkt, btok in rows:
        offsets.append((bkt, acc))
        acc += btok
    off = spark.createDataFrame(offsets, "bkt int, off long")
    w = (
        Window.partitionBy("bkt")
        .orderBy("h", "doc_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return (
        d.join(F.broadcast(off), "bkt")
        .withColumn("cb", F.col("off") + F.sum("ntok").over(w) - F.col("ntok"))
        .select(
            "doc_id",
            "source",
            "ntok",
            F.floor(F.col("cb") / float(SHARD_BUDGET)).cast("bigint").alias("shard"),
        )
    )


@register(
    "q_token_budget_shards",
    oracle=f"""
    WITH d AS (
      SELECT doc_id, MD5(doc_id::VARCHAR) AS h,
             LEN({_TOKENS_SQL_DUCK}) AS ntok
      FROM documents
    ), c AS (
      SELECT doc_id, ntok,
             SUM(ntok) OVER (ORDER BY h, doc_id
                             ROWS BETWEEN UNBOUNDED PRECEDING
                             AND CURRENT ROW) - ntok AS cb
      FROM d
    )
    SELECT CAST(FLOOR(cb / {SHARD_BUDGET}.0) AS BIGINT) AS shard,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(ntok) AS BIGINT) AS n_tokens
    FROM c GROUP BY 1 ORDER BY shard
    """,
    doc="Deterministic training-shard manifest: docs ordered by "
    "md5(doc_id) — a reproducible global shuffle with zero RNG state — "
    f"are packed greedily into {SHARD_BUDGET}-token shards by running "
    "token count. Plan: NO single-partition global window — the prefix "
    "sum is distributed as Window.partitionBy over 256 md5-prefix range "
    "buckets (bucket = first 2 hex chars, so (bucket, hash) order IS "
    "hash order) plus a driver-side exclusive scan over the 256 bucket "
    "totals broadcast back as offsets (bounded state, the IVF-centroid "
    "collect pattern). Output is the shard manifest, one row per shard.",
    tags=("text", "sampling", "pipeline"),
)
def q_token_budget_shards(spark: SparkSession, sf_dir: str) -> DataFrame:
    return (
        shard_assign(spark, sf_dir)
        .groupBy("shard")
        .agg(
            F.count("*").cast("bigint").alias("n_docs"),
            F.sum("ntok").cast("bigint").alias("n_tokens"),
        )
        .orderBy("shard")
    )


def _split_leakage_oracle() -> str:
    from roapi_spark.functions.dedup import lsh_cand_oracle_cte

    return f"""
    WITH {lsh_cand_oracle_cte()},
    lab AS (
      SELECT {split_sql('doc_a')} AS sa, {split_sql('doc_b')} AS sb FROM cand
    )
    SELECT LEAST(sa, sb) AS split_a, GREATEST(sa, sb) AS split_b,
           CAST(COUNT(*) AS BIGINT) AS n_pairs
    FROM lab GROUP BY 1, 2 ORDER BY split_a, split_b
    """


@register(
    "q_split_leakage",
    oracle=_split_leakage_oracle(),
    doc="Split-leakage audit: near-duplicate candidate pairs bucketed by "
    "the (split, split) cell they straddle. Benchmark decontamination "
    "(q_contamination) checks external eval sets; this catches the "
    "subtler leak — a random split of a near-duplicated corpus puts "
    "twins of val/test docs into train, inflating eval. Cross-split "
    "cells are the leak; the fix is splitting by dedup-cluster instead "
    "of by doc. Plan: reads the cached lshpairs-v4 edge artifact (the "
    "same snapshot artifact dedup_minhash_lsh serves from); both split "
    "labels are md5(doc_id) expressions computed map-side over the edge "
    "set — zero joins, one 6-cell agg. Serve wall is edge-count-bound, "
    "not corpus-bound.",
    tags=("dedup", "sampling", "pipeline"),
)
def q_split_leakage(spark: SparkSession, sf_dir: str) -> DataFrame:
    from roapi_spark.functions.dedup import lsh_pairs_cached

    sa = split_col(F.col("doc_a"))
    sb = split_col(F.col("doc_b"))
    return (
        lsh_pairs_cached(spark, sf_dir)
        .select(F.least(sa, sb).alias("split_a"), F.greatest(sa, sb).alias("split_b"))
        .groupBy("split_a", "split_b")
        .agg(F.count("*").cast("bigint").alias("n_pairs"))
        .orderBy("split_a", "split_b")
    )


# ==== second-order audits of the selection/rewrite outputs ==================
# - ``q_rewrite_impact`` — per-source token loss from the exact-substring
#   span rewrite: WHERE the boilerplate lives. A source with a high
#   removal rate is a template-heavy shard that needs upstream cleaning,
#   not more dedup.
# - ``q_shard_mixture`` — per-shard source diversity (distinct sources +
#   source entropy): the IID audit of the shard planner. The md5
#   ordering exists precisely so every shard is a mixture, not a run of
#   one source; this query measures it.
# - ``q_dup_quality_bias`` — document statistics split by near-dup
#   membership: ARE duplicated documents different (shorter, more
#   repetitive) from unique ones? The empirical check behind the common
#   claim that dedup preferentially removes low-quality text.
#
# Scale shape at 100 TB: q_rewrite_impact rides the cached spancov
# covered-position artifact (the served rewrite path) plus one
# source-keyed agg; q_shard_mixture reuses the distributed prefix sum (no
# single-partition window) plus shard-keyed aggs; q_dup_quality_bias
# reads the cached lshpairs-v4 edge artifact and left-joins the
# dimension-sized dup-doc id set onto one corpus scan.


@register(
    "q_rewrite_impact",
    oracle=f"""
    WITH {_SPAN_CTE},
    per AS (
      SELECT t.doc_id, LEN(t.w) AS nt, COALESCE(r.n_kept, 0) AS nk
      FROM toks t LEFT JOIN reb r USING (doc_id)
    )
    SELECT d.source,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(per.nt) AS BIGINT) AS tokens_before,
           CAST(SUM(per.nt - per.nk) AS BIGINT) AS tokens_removed,
           {pround_sql('SUM(per.nt - per.nk) * 1.0 / GREATEST(SUM(per.nt), 1)')}
             AS removal_rate
    FROM per JOIN documents d USING (doc_id)
    GROUP BY d.source ORDER BY d.source
    """,
    doc="Per-source token loss from the exact-substring span rewrite: "
    "which shards carry the boilerplate. Plan: rides the cached "
    "spancov covered-position artifact (the dedup_span_rewrite_served "
    "path — no per-call gram tally), then one join to source labels "
    "and a source-keyed agg (20 rows).",
    tags=("dedup", "text", "pipeline"),
)
def q_rewrite_impact(spark: SparkSession, sf_dir: str) -> DataFrame:
    rw = dedup_span_rewrite_served(spark, sf_dir)
    return (
        rw.join(docs(spark, sf_dir).select("doc_id", "source"), "doc_id")
        .groupBy("source")
        .agg(
            F.count("*").cast("bigint").alias("n_docs"),
            F.sum("n_tokens").cast("bigint").alias("tokens_before"),
            F.sum(F.col("n_tokens") - F.col("n_kept"))
            .cast("bigint")
            .alias("tokens_removed"),
            pround(
                F.sum(F.col("n_tokens") - F.col("n_kept"))
                * 1.0
                / F.greatest(F.sum("n_tokens"), F.lit(1))
            ).alias("removal_rate"),
        )
        .orderBy("source")
    )


@register(
    "q_shard_mixture",
    oracle=f"""
    WITH d AS (
      SELECT doc_id, source, MD5(doc_id::VARCHAR) AS h,
             LEN({_TOKENS_SQL_DUCK}) AS ntok
      FROM documents
    ), c AS (
      SELECT doc_id, source,
             SUM(ntok) OVER (ORDER BY h, doc_id
                             ROWS BETWEEN UNBOUNDED PRECEDING
                             AND CURRENT ROW) - ntok AS cb
      FROM d
    ), s AS (
      SELECT source, CAST(FLOOR(cb / {SHARD_BUDGET}.0) AS BIGINT) AS shard
      FROM c
    ), per AS (
      SELECT shard, source, COUNT(*) AS c FROM s GROUP BY shard, source
    ), tot AS (
      SELECT shard, SUM(c) AS n FROM per GROUP BY shard
    )
    SELECT per.shard,
           CAST(MAX(tot.n) AS BIGINT) AS n_docs,
           CAST(COUNT(*) AS BIGINT) AS n_sources,
           {pround_sql(
               '-SUM((per.c * 1.0 / tot.n) * LN(per.c * 1.0 / tot.n))'
           )} AS source_entropy
    FROM per JOIN tot USING (shard)
    GROUP BY per.shard ORDER BY per.shard
    """,
    doc="Per-shard source diversity (distinct sources + source entropy "
    "in nats): the IID audit of q_token_budget_shards — the md5 doc "
    "ordering exists so every shard is a source MIXTURE, and this "
    "measures it. Plan: the same distributed prefix sum (bucketed "
    "windows + broadcast offsets, no single-partition window), then "
    "shard x source and shard aggs — both dimension-sized.",
    tags=("text", "sampling", "pipeline"),
)
def q_shard_mixture(spark: SparkSession, sf_dir: str) -> DataFrame:
    per = (
        shard_assign(spark, sf_dir)
        .groupBy("shard", "source")
        .agg(F.count("*").alias("c"))
    )
    tot = per.groupBy("shard").agg(F.sum("c").alias("n"))
    p = F.col("c") * F.lit(1.0) / F.col("n")
    return (
        per.join(tot, "shard")
        .groupBy("shard")
        .agg(
            F.max("n").cast("bigint").alias("n_docs"),
            F.count("*").cast("bigint").alias("n_sources"),
            pround(-F.sum(p * F.log(p))).alias("source_entropy"),
        )
        .orderBy("shard")
    )


def _dup_quality_oracle() -> str:
    from roapi_spark.functions.dedup import lsh_cand_oracle_cte

    return f"""
    WITH {lsh_cand_oracle_cte()},
    dupdocs AS (
      SELECT doc_a AS doc_id FROM cand
      UNION
      SELECT doc_b AS doc_id FROM cand
    ),
    tk AS (SELECT doc_id, {_TOKENS_SQL_DUCK} AS w FROM documents),
    m AS (
      SELECT t.doc_id, LEN(t.w) AS nt, LEN(LIST_DISTINCT(t.w)) AS nd,
             (dd.doc_id IS NOT NULL) AS is_dup
      FROM tk t LEFT JOIN dupdocs dd USING (doc_id)
    )
    SELECT is_dup,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           {pround_sql('AVG(nt)')} AS avg_tokens,
           {pround_sql('AVG(nd * 1.0 / GREATEST(nt, 1))')} AS avg_ttr
    FROM m GROUP BY is_dup ORDER BY is_dup
    """


@register(
    "q_dup_quality_bias",
    oracle=_dup_quality_oracle(),
    doc="Document statistics split by near-dup membership: are docs in "
    "an LSH candidate pair shorter / more repetitive (lower type-token "
    "ratio) than unique docs — the empirical check behind 'dedup "
    "preferentially removes low-quality text'. Plan: reads the cached "
    "lshpairs-v4 edge artifact, distincts the dimension-sized dup-doc "
    "id set, left-joins it onto one corpus scan (AQE broadcasts the id "
    "set), two output rows.",
    tags=("dedup", "text", "pipeline"),
)
def q_dup_quality_bias(spark: SparkSession, sf_dir: str) -> DataFrame:
    from roapi_spark.functions.dedup import lsh_pairs_cached

    pairs = lsh_pairs_cached(spark, sf_dir)
    dup_docs = (
        pairs.select(F.col("doc_a").alias("doc_id"))
        .unionByName(pairs.select(F.col("doc_b").alias("doc_id")))
        .distinct()
        .withColumn("hit", F.lit(True))
    )
    m = (
        docs(spark, sf_dir)
        .select("doc_id", tokens_col().alias("w"))
        .select(
            "doc_id",
            F.size("w").alias("nt"),
            F.size(F.array_distinct("w")).alias("nd"),
        )
        .join(dup_docs, "doc_id", "left")
        .select(
            F.coalesce("hit", F.lit(False)).alias("is_dup"), "nt", "nd"
        )
    )
    return (
        m.groupBy("is_dup")
        .agg(
            F.count("*").cast("bigint").alias("n_docs"),
            pround(F.avg("nt")).alias("avg_tokens"),
            pround(
                F.avg(F.col("nd") * 1.0 / F.greatest(F.col("nt"), F.lit(1)))
            ).alias("avg_ttr"),
        )
        .orderBy("is_dup")
    )


def _curation_funnel_oracle() -> str:
    from roapi_spark.functions.dedup import _COMPONENTS_DUCK
    from roapi_spark.functions.dedup import _TOKS_DUCK as _DEDUP_TOKS

    # _COMPONENTS_DUCK's chain already defines `toks`: drop _SPAN_CTE's
    # duplicate entry so the two chains compose under one WITH — but
    # ONLY if the two tokenizers are still byte-identical (a retuned
    # span-rewrite tokenizer must fail loudly here, not silently validate
    # the span stages against dedup's old one)
    first, rest = _SPAN_CTE.split("\n", 1)
    expected = f"toks AS (SELECT doc_id, {_DEDUP_TOKS} AS w FROM documents),"
    if first.strip() != expected:
        raise ValueError(
            "_SPAN_CTE's toks entry no longer matches dedup's "
            "tokenizer — the curation-funnel oracle can't drop it"
        )
    return f"""
    WITH RECURSIVE {_COMPONENTS_DUCK},
    {_FUNNEL_DUCK},
    {rest},
    per AS (
      SELECT t.doc_id, LEN(t.w) AS nt, COALESCE(r.n_kept, 0) AS nk
      FROM toks t JOIN surv USING (doc_id)
      LEFT JOIN reb r ON r.doc_id = t.doc_id
    )
    SELECT (SELECT CAST(COUNT(*) AS BIGINT) FROM documents) AS n_docs,
           (SELECT CAST(COUNT(*) AS BIGINT) FROM keep_ex) AS n_after_exact,
           (SELECT CAST(COUNT(*) AS BIGINT) FROM surv) AS n_after_near,
           CAST(SUM(nt) AS BIGINT) AS tokens_total,
           CAST(SUM(nk) AS BIGINT) AS tokens_shipped,
           {pround_sql('SUM(nk) * 1.0 / GREATEST(SUM(nt), 1)')}
             AS pct_tokens_kept
    FROM per
    """


@register(
    "q_curation_funnel",
    oracle=_curation_funnel_oracle(),
    doc="The full curation funnel in one row: docs -> exact-unique -> "
    "near-dup survivors (q_dedup_funnel's doc stages) extended to the "
    "TOKEN axis — of the surviving docs' tokens, how many survive the "
    "exact-substring span rewrite. Doc-level dedup keeps one twin per "
    "cluster; this row also shows the boilerplate INSIDE the kept docs. "
    "Serve shape: exact stage is a 16-byte-digest shuffle, near stage "
    "reads the cached component labels, token stage reads the cached "
    "spancov covered-position artifact — no text shuffles, no pair or "
    "gram recompute anywhere.",
    tags=("dedup", "quality", "pipeline"),
)
def q_curation_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    d, keep_ex, surv = funnel_survivors(spark, sf_dir)
    per = dedup_span_rewrite_served(spark, sf_dir).join(surv, "doc_id")
    tok = per.agg(
        F.sum("n_tokens").cast("bigint").alias("tokens_total"),
        F.sum("n_kept").cast("bigint").alias("tokens_shipped"),
    )
    n_docs = d.agg(F.count("*").cast("bigint").alias("n_docs"))
    n_ex = keep_ex.agg(F.count("*").cast("bigint").alias("n_after_exact"))
    n_surv = surv.agg(F.count("*").cast("bigint").alias("n_after_near"))
    return (
        n_docs.crossJoin(F.broadcast(n_ex))
        .crossJoin(F.broadcast(n_surv))
        .crossJoin(F.broadcast(tok))
        .select(
            "n_docs",
            "n_after_exact",
            "n_after_near",
            "tokens_total",
            "tokens_shipped",
            pround(
                F.col("tokens_shipped")
                * F.lit(1.0)
                / F.greatest(F.col("tokens_total"), F.lit(1))
            ).alias("pct_tokens_kept"),
        )
    )


# ==== training order and hygiene ============================================
# * ``q_train_shuffle`` — the deterministic global shuffle a training
#   pipeline applies before sharding: every doc gets an md5-derived
#   position key (no RNG state — reproducible on any cluster layout,
#   re-seedable per epoch via the salt), docs hash-partition into
#   shards by key, and the WITHIN-shard order is the rank of the key.
#   The global order is never materialized as a global sort — shards
#   are independent, which is the point at 100 TB: writers stream one
#   shard each, readers seek one shard each.
# * ``q_train_curriculum`` — the shuffle composed with a difficulty
#   prior: bucket-major (easy-to-hard) within-shard order, shuffled
#   within each bucket.
# * ``q_chat_validate`` — SFT-transcript hygiene: real JSON round-trip
#   (to_json/from_json) validated by higher-order expressions.
# * ``q_pref_pair_audit`` — DPO-pair hygiene: degenerate pairs, length
#   bias, shared-prompt leakage.
# * ``q_split_by_domain`` — domain-disjoint train/heldout split: the
#   split key is a pure function of the registrable domain, so
#   disjointness is structural.


# ---- q_train_shuffle ---------------------------------------------------------

_SHUFFLE_SALT = "epoch0"
_N_TRAIN_SHARDS = 8


@register(
    "q_train_shuffle",
    oracle=f"""
    WITH k AS (
      SELECT doc_id,
             ('0x' || SUBSTR(MD5(doc_id::VARCHAR || ':{_SHUFFLE_SALT}'),
                             1, 8))::BIGINT AS key
      FROM documents
    ),
    p AS (
      SELECT doc_id, key, key % {_N_TRAIN_SHARDS} AS shard,
             ROW_NUMBER() OVER (
               PARTITION BY key % {_N_TRAIN_SHARDS}
               ORDER BY key, doc_id
             ) AS pos
      FROM k
    )
    SELECT CAST(shard AS INT) AS shard,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(MIN_BY(doc_id, pos) AS BIGINT) AS first_doc,
           CAST(MAX_BY(doc_id, pos) AS BIGINT) AS last_doc,
           CAST(SUM(doc_id * pos) AS BIGINT) AS order_checksum
    FROM p GROUP BY shard ORDER BY shard
    """,
    doc=f"Deterministic global training shuffle: md5(doc_id:salt) is "
    "the position key (no RNG state — bit-identical on any cluster "
    f"layout; re-seed per epoch via the salt), docs land in "
    f"{_N_TRAIN_SHARDS} shards by key residue and are ordered WITHIN "
    "each shard by key rank. The per-shard (first, last, sum(id*pos)) "
    "checksums pin the complete order against the DuckDB replay — a "
    "single transposition anywhere shifts the checksum. Plan: "
    "hash-partition by shard + sortWithinPartitions, NEVER a global "
    "sort — shards are written/read independently, which is the whole "
    "point of the pattern at 100 TB (a global orderBy would funnel "
    "the corpus through one range-partition step).",
    tags=("text", "sampling", "pipeline"),
)
def q_train_shuffle(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = spark.read.parquet(os.path.join(sf_dir, "documents.parquet"))
    keyed = d.select(
        "doc_id",
        F.conv(
            F.substring(
                F.md5(
                    F.concat(
                        F.col("doc_id").cast("string"),
                        F.lit(f":{_SHUFFLE_SALT}"),
                    )
                ),
                1,
                8,
            ),
            16,
            10,
        )
        .cast("bigint")
        .alias("key"),
    ).withColumn("shard", F.pmod(F.col("key"), F.lit(_N_TRAIN_SHARDS)))
    pos = F.row_number().over(
        Window.partitionBy("shard").orderBy("key", "doc_id")
    )
    p = keyed.repartition(_N_TRAIN_SHARDS, "shard").withColumn("pos", pos)
    return (
        p.groupBy(F.col("shard").cast("int").alias("shard"))
        .agg(
            F.count("*").cast("bigint").alias("n_docs"),
            F.min_by("doc_id", "pos").cast("bigint").alias("first_doc"),
            F.max_by("doc_id", "pos").cast("bigint").alias("last_doc"),
            F.sum(F.col("doc_id") * F.col("pos"))
            .cast("bigint")
            .alias("order_checksum"),
        )
        .orderBy("shard")
    )


# ---- q_train_curriculum --------------------------------------------------------


@register(
    "q_train_curriculum",
    oracle=f"""
    WITH k AS (
      SELECT doc_id,
             LEAST(9, length(trim(regexp_replace(text, '[ \\t\\n\\x0B\\f\\r]+', ' ', 'g')))
                      // 100) AS bucket,
             ('0x' || SUBSTR(MD5(doc_id::VARCHAR || ':{_SHUFFLE_SALT}'),
                             1, 8))::BIGINT AS key
      FROM documents
    ),
    p AS (
      SELECT doc_id, bucket, key % {_N_TRAIN_SHARDS} AS shard,
             ROW_NUMBER() OVER (
               PARTITION BY key % {_N_TRAIN_SHARDS}
               ORDER BY bucket, key, doc_id
             ) AS pos
      FROM k
    )
    SELECT CAST(shard AS INT) AS shard,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(MIN_BY(doc_id, pos) AS BIGINT) AS first_doc,
           CAST(MAX_BY(doc_id, pos) AS BIGINT) AS last_doc,
           CAST(SUM(doc_id * pos) AS BIGINT) AS order_checksum,
           CAST(SUM(bucket * pos) AS BIGINT) AS curriculum_checksum
    FROM p GROUP BY shard ORDER BY shard
    """,
    doc="Curriculum training order: q_train_shuffle's deterministic "
    "md5 shuffle COMPOSED with a difficulty prior — docs order within "
    "each shard by (quality bucket ASC, md5 key) so every shard "
    "streams easy-to-hard while staying internally shuffled within a "
    "bucket (bucket = capped normalized-length decile, the "
    "deterministic difficulty stand-in). Per-shard order and "
    "bucket-weighted checksums replay in DuckDB — a transposition "
    "ACROSS buckets or within one shifts a checksum. Plan: identical "
    "to q_train_shuffle (hash-partition + sortWithinPartitions on a "
    "wider key, never a global sort).",
    tags=("text", "sampling", "pipeline"),
)
def q_train_curriculum(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = spark.read.parquet(os.path.join(sf_dir, "documents.parquet"))
    keyed = d.select(
        "doc_id",
        F.least(
            F.lit(9),
            F.floor(
                F.length(
                    F.trim(F.regexp_replace(F.col("text"), WS_CLASS + "+", " "))
                )
                / 100
            ),
        )
        .cast("bigint")
        .alias("bucket"),
        F.conv(
            F.substring(
                F.md5(
                    F.concat(
                        F.col("doc_id").cast("string"),
                        F.lit(f":{_SHUFFLE_SALT}"),
                    )
                ),
                1,
                8,
            ),
            16,
            10,
        )
        .cast("bigint")
        .alias("key"),
    ).withColumn("shard", F.pmod(F.col("key"), F.lit(_N_TRAIN_SHARDS)))
    pos = F.row_number().over(
        Window.partitionBy("shard").orderBy("bucket", "key", "doc_id")
    )
    p = keyed.repartition(_N_TRAIN_SHARDS, "shard").withColumn("pos", pos)
    return (
        p.groupBy(F.col("shard").cast("int").alias("shard"))
        .agg(
            F.count("*").cast("bigint").alias("n_docs"),
            F.min_by("doc_id", "pos").cast("bigint").alias("first_doc"),
            F.max_by("doc_id", "pos").cast("bigint").alias("last_doc"),
            F.sum(F.col("doc_id") * F.col("pos"))
            .cast("bigint")
            .alias("order_checksum"),
            F.sum(F.col("bucket") * F.col("pos"))
            .cast("bigint")
            .alias("curriculum_checksum"),
        )
        .orderBy("shard")
    )


# ---- q_chat_validate -----------------------------------------------------------

_CHAT_ROLES = ("system", "user", "assistant")


@register(
    "q_chat_validate",
    oracle="""
    WITH d AS (
      SELECT doc_id,
             (doc_id % 8 = 1) AS br,
             (doc_id % 8 <> 1 AND doc_id % 9 = 4) AS be,
             (doc_id % 8 <> 1 AND doc_id % 9 <> 4 AND doc_id % 12 = 7)
               AS ec,
             (doc_id % 5 = 0) AS hs
      FROM documents
    )
    SELECT CAST(COUNT(*) AS BIGINT) AS n_chats,
           CAST(SUM(CASE WHEN NOT br AND NOT be AND NOT ec
                    THEN 1 ELSE 0 END) AS BIGINT) AS n_valid,
           CAST(SUM(CASE WHEN br THEN 1 ELSE 0 END) AS BIGINT)
             AS n_bad_role,
           CAST(SUM(CASE WHEN be THEN 1 ELSE 0 END) AS BIGINT)
             AS n_bad_ending,
           CAST(SUM(CASE WHEN ec THEN 1 ELSE 0 END) AS BIGINT)
             AS n_empty_content,
           CAST(SUM(CASE WHEN NOT br AND NOT be AND NOT ec AND hs
                    THEN 1 ELSE 0 END) AS BIGINT) AS n_valid_with_system,
           CAST(SUM(CASE WHEN NOT br AND NOT be AND NOT ec
                    THEN 2 + (CASE WHEN hs THEN 1 ELSE 0 END)
                    ELSE 0 END) AS BIGINT) AS sum_turns_valid
    FROM d
    """,
    doc="Chat-transcript validation — the SFT-data hygiene gate: "
    "conversations are synthesized as REAL JSON (to_json over "
    "struct arrays, so quoting/escaping is Spark's own) with defects "
    "planted one-per-row on fixed residues (invalid role name, "
    "missing final assistant turn, empty assistant content), then "
    "parsed back (from_json) and validated ENTIRELY by higher-order "
    "expressions — exists() over roles against the allowlist, "
    "element_at(-1) ending check, trimmed-content emptiness — never "
    "Python. Verdict counts, valid-with-system split, and the "
    "turn-count sum replay closed-form. Plan: one FileScan -> "
    "codegen'd JSON round-trip + lambda predicates -> one agg; at "
    "100 TB validation is map-side with no shuffle before the final "
    "1-row agg.",
    tags=("text", "pipeline"),
)
def q_chat_validate(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = spark.read.parquet(os.path.join(sf_dir, "documents.parquet"))
    norm = F.regexp_replace(F.col("text"), WS_CLASS + "+", " ")
    br = F.col("doc_id") % 8 == 1
    be = ~br & (F.col("doc_id") % 9 == 4)
    ec = ~br & ~be & (F.col("doc_id") % 12 == 7)
    hs = F.col("doc_id") % 5 == 0

    def turn(role, content):
        return F.struct(role.alias("role"), content.alias("content"))

    sys_t = F.when(
        hs, turn(F.lit("system"), F.lit("You are a helpful assistant."))
    )
    user_t = turn(
        F.when(br, F.lit("usr")).otherwise(F.lit("user")),
        F.substring(norm, 1, 20),
    )
    asst_t = F.when(
        ~be,
        turn(
            F.lit("assistant"),
            F.when(ec, F.lit("")).otherwise(F.substring(norm, 21, 20)),
        ),
    )
    js = F.to_json(
        F.filter(F.array(sys_t, user_t, asst_t), lambda x: x.isNotNull())
    )
    parsed = F.from_json(
        js, "array<struct<role string, content string>>"
    )
    chats = d.select(parsed.alias("p"))
    bad_role = F.exists(
        F.col("p"), lambda x: ~x["role"].isin(*_CHAT_ROLES)
    )
    bad_end = F.element_at(F.col("p"), -1)["role"] != "assistant"
    empty = F.exists(F.col("p"), lambda x: F.trim(x["content"]) == "")
    verdict = (
        F.when(bad_role, F.lit("bad_role"))
        .when(bad_end, F.lit("bad_ending"))
        .when(empty, F.lit("empty_content"))
        .otherwise(F.lit("valid"))
    )
    v = chats.select(
        verdict.alias("verdict"),
        F.size("p").alias("n_turns"),
        (F.element_at(F.col("p"), 1)["role"] == "system").alias("has_sys"),
    )
    is_valid = F.col("verdict") == "valid"
    return v.agg(
        F.count("*").cast("bigint").alias("n_chats"),
        F.sum(is_valid.cast("bigint")).cast("bigint").alias("n_valid"),
        F.sum((F.col("verdict") == "bad_role").cast("bigint"))
        .cast("bigint")
        .alias("n_bad_role"),
        F.sum((F.col("verdict") == "bad_ending").cast("bigint"))
        .cast("bigint")
        .alias("n_bad_ending"),
        F.sum((F.col("verdict") == "empty_content").cast("bigint"))
        .cast("bigint")
        .alias("n_empty_content"),
        F.sum((is_valid & F.col("has_sys")).cast("bigint"))
        .cast("bigint")
        .alias("n_valid_with_system"),
        F.sum(F.when(is_valid, F.col("n_turns")).otherwise(F.lit(0)))
        .cast("bigint")
        .alias("sum_turns_valid"),
    )


# ---- q_pref_pair_audit ---------------------------------------------------------


@register(
    "q_pref_pair_audit",
    oracle="""
    WITH d AS (
      SELECT doc_id,
             length(trim(regexp_replace(text, '[ \\t\\n\\x0B\\f\\r]+', ' ', 'g'))) AS nl,
             (doc_id % 10 = 6) AS degen,
             (doc_id % 7 = 3) AS dupp
      FROM documents
    ),
    p AS (
      SELECT doc_id, degen,
             CASE WHEN dupp THEN 'prompt-shared-' ||
                  CAST(doc_id % 5 AS VARCHAR)
                  ELSE 'prompt-' || CAST(doc_id AS VARCHAR) END AS prompt,
             CASE WHEN degen THEN nl / 2 ELSE nl END AS chosen_len,
             nl / 2 AS rejected_len
      FROM d
    ),
    dup_prompts AS (
      SELECT prompt FROM p GROUP BY prompt HAVING COUNT(*) > 1
    )
    SELECT CAST(COUNT(*) AS BIGINT) AS n_pairs,
           CAST(SUM(CASE WHEN degen THEN 1 ELSE 0 END) AS BIGINT)
             AS n_degenerate,
           CAST(SUM(CASE WHEN NOT degen AND chosen_len > rejected_len
                    THEN 1 ELSE 0 END) AS BIGINT) AS n_chosen_longer,
           (SELECT CAST(COUNT(*) AS BIGINT) FROM dup_prompts)
             AS n_dup_prompts,
           CAST((SELECT COUNT(*) FROM p
                 WHERE prompt IN (SELECT prompt FROM dup_prompts))
                AS BIGINT) AS n_pairs_on_dup_prompts
    FROM p
    """,
    doc="Preference-pair (DPO/RLHF) data audit: pairs are synthesized "
    "from the documents table (chosen = the doc text, rejected = its "
    "first half; %10 residue plants DEGENERATE pairs where chosen == "
    "rejected, %7 routes pairs onto five SHARED prompts) and the audit "
    "computes the three hygiene signals a preference dataset is "
    "screened for: degenerate chosen==rejected pairs (zero training "
    "signal), the chosen-longer rate (length bias — a reward model "
    "trained on length-confounded pairs learns length), and prompts "
    "appearing in multiple pairs (epistemic leakage across pairs). "
    "Counts replay closed-form. Plan: map-side pair synthesis + one "
    "hash agg on prompt for the dup split, one final agg; the dup "
    "check is the only shuffle and its key is the prompt.",
    tags=("text", "pipeline"),
)
def q_pref_pair_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = spark.read.parquet(os.path.join(sf_dir, "documents.parquet"))
    norm = F.trim(F.regexp_replace(F.col("text"), WS_CLASS + "+", " "))
    degen = F.col("doc_id") % 10 == 6
    dupp = F.col("doc_id") % 7 == 3
    half = F.substring(norm, F.lit(1), (F.length(norm) / 2).cast("int"))
    pairs = d.select(
        "doc_id",
        F.when(
            dupp,
            F.concat(
                F.lit("prompt-shared-"),
                (F.col("doc_id") % 5).cast("string"),
            ),
        )
        .otherwise(
            F.concat(F.lit("prompt-"), F.col("doc_id").cast("string"))
        )
        .alias("prompt"),
        F.when(degen, half).otherwise(norm).alias("chosen"),
        half.alias("rejected"),
    )
    per_prompt = pairs.groupBy("prompt").agg(
        F.count("*").alias("n_on_prompt")
    )
    joined = pairs.join(per_prompt, "prompt")
    return joined.agg(
        F.count("*").cast("bigint").alias("n_pairs"),
        F.sum((F.col("chosen") == F.col("rejected")).cast("bigint"))
        .cast("bigint")
        .alias("n_degenerate"),
        F.sum(
            (
                (F.col("chosen") != F.col("rejected"))
                & (F.length("chosen") > F.length("rejected"))
            ).cast("bigint")
        )
        .cast("bigint")
        .alias("n_chosen_longer"),
        F.count_distinct(
            F.when(F.col("n_on_prompt") > 1, F.col("prompt"))
        )
        .cast("bigint")
        .alias("n_dup_prompts"),
        F.sum((F.col("n_on_prompt") > 1).cast("bigint"))
        .cast("bigint")
        .alias("n_pairs_on_dup_prompts"),
    )


# ---- q_split_by_domain ---------------------------------------------------------


def _split_by_domain_oracle() -> str:
    from roapi_spark.functions.crawl import _PSL_HOSTS, _host_case_sql
    from roapi_spark.functions.web import registrable_domain_sql

    return f"""
    WITH d AS (
      SELECT doc_id, {_host_case_sql(_PSL_HOSTS)} AS host FROM documents
    ),
    dom AS (
      SELECT doc_id, {registrable_domain_sql("host")} AS domain FROM d
    ),
    s AS (
      SELECT doc_id, domain,
             CASE WHEN ('0x' || SUBSTR(MD5(domain || ':split0'), 1, 8))
                       ::BIGINT % 10 < 8
                  THEN 'train' ELSE 'heldout' END AS split
      FROM dom
    )
    SELECT split,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(COUNT(DISTINCT domain) AS BIGINT) AS n_domains,
           CAST(SUM(doc_id) AS BIGINT) AS id_checksum
    FROM s GROUP BY split ORDER BY split
    """


@register(
    "q_split_by_domain",
    oracle=_split_by_domain_oracle(),
    doc="Domain-disjoint train/heldout split — leakage prevention one "
    "level above doc-dedup: near-duplicate pages cluster WITHIN a "
    "site, so doc-level random splits leak; hashing the REGISTRABLE "
    "DOMAIN (md5, salt re-seedable) sends every doc of a domain to "
    "one side by construction. Per-split doc/domain counts and id "
    "checksums replay closed-form; disjointness is structural (the "
    "split key is a pure function of the domain), not sampled-and-"
    "checked. Plan: codegen'd domain + hash expressions, one hash agg "
    "— map-side decision, no shuffle before the 2-row agg; at 100 TB "
    "this is a projection on the corpus scan.",
    tags=("text", "sampling", "pipeline", "web"),
)
def q_split_by_domain(spark: SparkSession, sf_dir: str) -> DataFrame:
    from roapi_spark.functions.crawl import _PSL_HOSTS, _host_case_col
    from roapi_spark.functions.web import registrable_domain

    d = spark.read.parquet(os.path.join(sf_dir, "documents.parquet"))
    dom = d.select(
        "doc_id",
        registrable_domain(_host_case_col(_PSL_HOSTS)).alias("domain"),
    )
    key = F.conv(
        F.substring(
            F.md5(F.concat(F.col("domain"), F.lit(":split0"))), 1, 8
        ),
        16,
        10,
    ).cast("bigint")
    s = dom.withColumn(
        "split",
        F.when(F.pmod(key, F.lit(10)) < 8, F.lit("train")).otherwise(
            F.lit("heldout")
        ),
    )
    return (
        s.groupBy("split")
        .agg(
            F.count("*").cast("bigint").alias("n_docs"),
            F.count_distinct("domain").cast("bigint").alias("n_domains"),
            F.sum("doc_id").cast("bigint").alias("id_checksum"),
        )
        .orderBy("split")
    )
