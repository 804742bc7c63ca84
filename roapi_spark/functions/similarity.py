"""Similarity search over an embedding column (array<float>).

- ``knn_bruteforce``: exact cosine top-k, the correctness baseline. The
  query set broadcasts; the corpus never shuffles — per-partition score +
  global top-k (k small). This is the right plan even at 100 TB: cost is
  one full scan per query batch.
- ``ann_ivf_label``: IVF-style two-stage search — coarse centroids (here
  the pre-clustered ``label`` as the inverted-list key), probe the nearest
  centroid(s), exact-search only those lists.
- ``ann_ivf_kmeans``: the same IVF shape with a *real* coarse quantizer —
  integer-exact Lloyd's k-means (deterministic, fully oracle-checked), the
  clustering a production layout would bucket/partition the corpus by.
- ``ann_lsh``: random-hyperplane signatures (md5-derived, deterministic) —
  bucketed candidate generation over integer-quantized vectors, so the
  projection signs are exact and the query has a full DuckDB oracle.

All vector math is JVM-side higher-order functions (zip_with/aggregate) —
no Python in the hot path.
"""

from __future__ import annotations

import os

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import Window as W
from pyspark.sql import functions as F

from roapi_spark.plans.registry import register

N_QUERIES = 5
TOP_K = 5


def emb(spark: SparkSession, sf_dir: str) -> DataFrame:
    return spark.read.parquet(os.path.join(sf_dir, "embeddings.parquet")).select(
        "vec_id", F.col("embedding").cast("array<double>").alias("v"), "label"
    )


def dot_expr(a: str, b: str) -> Column:
    return F.aggregate(
        F.zip_with(F.col(a), F.col(b), lambda x, y: x * y),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )


def norm_expr(a: str) -> Column:
    return F.sqrt(F.aggregate(F.col(a), F.lit(0.0), lambda acc, x: acc + x * x))


def cosine_expr(a: str, b: str) -> Column:
    # try_divide, not /: under ANSI mode (Spark 4 default — the driver's
    # plain session) a zero-norm vector would throw DIVIDE_BY_ZERO and
    # kill the whole query; NULL instead falls below every threshold and
    # sorts last in every rank window
    return F.try_divide(dot_expr(a, b), norm_expr(a) * norm_expr(b))


@register(
    "knn_bruteforce",
    oracle=f"""
    WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
    q AS (SELECT vec_id AS qid, v AS qv FROM e WHERE vec_id < {N_QUERIES}),
    scored AS (
      SELECT q.qid, e.vec_id AS neighbor_id,
             LIST_COSINE_SIMILARITY(q.qv, e.v) AS cs
      FROM q JOIN e ON e.vec_id <> q.qid
    ),
    ranked AS (
      SELECT qid, neighbor_id, ROUND(cs, 4) AS cos_sim,
             ROW_NUMBER() OVER (PARTITION BY qid ORDER BY ROUND(cs, 4) DESC, neighbor_id) AS rnk
      FROM scored
    )
    SELECT qid, neighbor_id, cos_sim, CAST(rnk AS BIGINT) AS rnk
    FROM ranked WHERE rnk <= {TOP_K}
    """,
    doc="Exact brute-force cosine top-k (query set broadcast; corpus "
    "scanned once, scored map-side, per-group top-k via window).",
    tags=("similarity",),
)
def knn_bruteforce(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = emb(spark, sf_dir)
    q = e.filter(F.col("vec_id") < N_QUERIES).select(
        F.col("vec_id").alias("qid"), F.col("v").alias("qv")
    )
    scored = (
        e.join(F.broadcast(q), F.col("vec_id") != F.col("qid"))
        .withColumn("cs", cosine_expr("qv", "v"))
        .select("qid", F.col("vec_id").alias("neighbor_id"), "cs")
    )
    w = W.partitionBy("qid").orderBy(F.round("cs", 4).desc(), F.col("neighbor_id"))
    return (
        scored.withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= TOP_K)
        .select(
            "qid",
            "neighbor_id",
            F.round("cs", 4).alias("cos_sim"),
            F.col("rnk").cast("bigint").alias("rnk"),
        )
    )


@register(
    "ann_ivf_label",
    oracle=f"""
    WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v, label FROM embeddings),
    cent AS (  -- coarse centroids = per-label mean (inverted-list key)
      SELECT label,
             LIST_TRANSFORM(GENERATE_SERIES(1, 64), i ->
               LIST_SUM(LIST_TRANSFORM(LIST(v ORDER BY vec_id), x -> x[i])) / COUNT(*))
               AS c
      FROM e GROUP BY label
    ),
    q AS (SELECT vec_id AS qid, v AS qv FROM e WHERE vec_id < {N_QUERIES}),
    probe AS (  -- nearest centroid per query
      SELECT qid, label, ROW_NUMBER() OVER (
               PARTITION BY qid
               ORDER BY LIST_COSINE_SIMILARITY(qv, c) DESC, label) AS crnk
      FROM q CROSS JOIN cent
    ),
    cand AS (
      SELECT q.qid, q.qv, e.vec_id AS neighbor_id, e.v
      FROM q JOIN probe p ON p.qid = q.qid AND p.crnk = 1
             JOIN e ON e.label = p.label AND e.vec_id <> q.qid
    ),
    ranked AS (
      SELECT qid, neighbor_id, ROUND(LIST_COSINE_SIMILARITY(qv, v), 4) AS cos_sim,
             ROW_NUMBER() OVER (PARTITION BY qid
               ORDER BY ROUND(LIST_COSINE_SIMILARITY(qv, v), 4) DESC, neighbor_id) AS rnk
      FROM cand
    )
    SELECT qid, neighbor_id, cos_sim, CAST(rnk AS BIGINT) AS rnk
    FROM ranked WHERE rnk <= {TOP_K}
    """,
    doc="IVF-style ANN: probe the nearest coarse centroid (per-label mean), "
    "exact-search only that inverted list — scan cost drops by the number "
    "of lists. At 100 TB the corpus is bucketed (partitioned) by list id, "
    "so a probe reads only matching partitions.",
    tags=("similarity",),
)
def ann_ivf_label(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = emb(spark, sf_dir)
    # centroids: element-wise mean via posexplode + re-assemble (JVM-side)
    cent = (
        e.select("label", F.posexplode("v").alias("i", "x"))
        .groupBy("label", "i")
        .agg(F.sum("x").alias("sx"), F.count("*").alias("n"))
        .withColumn("m", F.col("sx") / F.col("n"))
        .groupBy("label")
        .agg(F.array_sort(F.collect_list(F.struct("i", "m"))).m.alias("c"))
    )
    q = e.filter(F.col("vec_id") < N_QUERIES).select(
        F.col("vec_id").alias("qid"), F.col("v").alias("qv")
    )
    probe = (
        q.crossJoin(F.broadcast(cent))
        .withColumn(
            "crnk",
            F.row_number().over(
                W.partitionBy("qid").orderBy(
                    cosine_expr("qv", "c").desc(), F.col("label")
                )
            ),
        )
        .filter(F.col("crnk") == 1)
        .select("qid", "qv", F.col("label").alias("probe_label"))
    )
    cand = e.join(
        F.broadcast(probe),
        (F.col("label") == F.col("probe_label")) & (F.col("vec_id") != F.col("qid")),
    ).select("qid", "qv", F.col("vec_id").alias("neighbor_id"), "v")
    w = W.partitionBy("qid").orderBy(
        F.round(cosine_expr("qv", "v"), 4).desc(), F.col("neighbor_id")
    )
    return (
        cand.withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= TOP_K)
        .select(
            "qid",
            "neighbor_id",
            F.round(cosine_expr("qv", "v"), 4).alias("cos_sim"),
            F.col("rnk").cast("bigint").alias("rnk"),
        )
    )


def _lsh_planes(n_planes: int = 8, dim: int = 64) -> list[list[int]]:
    """Deterministic md5-derived +/-1 hyperplanes (shared by the Spark
    query and the embedded DuckDB oracle literal)."""
    import hashlib

    return [
        [
            1 if int(hashlib.md5(f"{p}:{d}".encode()).hexdigest()[:8], 16) % 2 else -1
            for d in range(dim)
        ]
        for p in range(n_planes)
    ]


def _lsh_planes_sql() -> str:
    rows = ", ".join(
        f"({p}, {plane})" for p, plane in enumerate(_lsh_planes())
    )
    return f"(VALUES {rows}) AS planes(p, w)"


N_LSH_TABLES = 4  # independent hash tables (union of probes)
N_LSH_PLANES_MULTI = 6  # shorter signatures per table than ann_lsh's 8


def _lsh_planes_multi(
    n_tables: int = N_LSH_TABLES,
    n_planes: int = N_LSH_PLANES_MULTI,
    dim: int = 64,
) -> list[list[list[int]]]:
    """Deterministic +/-1 hyperplanes for L independent LSH tables —
    family ``t`` is seeded md5(f"{t}/{p}:{d}"), disjoint from
    ``_lsh_planes``' seeds so the single-table query is untouched."""
    import hashlib

    return [
        [
            [
                1
                if int(hashlib.md5(f"{t}/{p}:{d}".encode()).hexdigest()[:8], 16) % 2
                else -1
                for d in range(dim)
            ]
            for p in range(n_planes)
        ]
        for t in range(n_tables)
    ]


def _lsh_planes_multi_sql() -> str:
    rows = ", ".join(
        f"({t}, {p}, {plane})"
        for t, fam in enumerate(_lsh_planes_multi())
        for p, plane in enumerate(fam)
    )
    return f"(VALUES {rows}) AS planes(t, p, w)"


def _lsh_sig_expr(planes: list[list[int]]) -> Column:
    """8-bit hyperplane signature over a MATERIALIZED ``vq`` integer
    column (MSB = plane 0): every projection sign is exact integer
    arithmetic, so the build, the client-side query bucketing and the
    DuckDB oracle agree bit-for-bit."""
    plane_arr = F.array(
        *[F.array(*[F.lit(x).cast("bigint") for x in plane]) for plane in planes]
    )
    return F.aggregate(
        F.transform(
            plane_arr,
            lambda plane: F.when(
                F.aggregate(
                    F.zip_with(F.col("vq"), plane, lambda x, w_: x * w_),
                    F.lit(0).cast("bigint"),
                    lambda acc, x: acc + x,
                )
                >= 0,
                F.lit(1),
            ).otherwise(F.lit(0)),
        ),
        F.lit(0),
        lambda acc, bit: acc * 2 + bit,
    )


def bucket_client(vq: list[int], planes: list[list[int]]) -> int:
    """Client-side LSH bucket for QUERY vectors: the same integer plane
    dots and MSB-first bit fold as ``_lsh_sig_expr`` — query sets are
    bounded, and baking the plane-literal tree into Catalyst costs
    driver analysis time per call (the corpus side keeps the JVM
    expression, paid once at layout build)."""
    acc = 0
    for plane in planes:
        dot = sum(x * w for x, w in zip(vq, plane))
        acc = acc * 2 + (1 if dot >= 0 else 0)
    return acc


def _lsh_bucket_serve(
    spark: SparkSession,
    sf_dir: str,
    layout_dir: str,
    fams: list[list[list[int]]],
    multi_table: bool,
) -> DataFrame:
    """Shared LSH probe scaffolding for the single- and multi-table
    layouts: query vectors come off the source table with their
    Spark-computed integer quantization (vec_id pushdown), are bucketed
    client-side per plane family (identical integer math to the layout
    build, none of the plane-literal tree's per-call driver analysis),
    and ONLY the probed (t=,)bucket= directories are read — explicit
    paths with basePath, skipping the all-directories partition
    discovery an IN-list filter would still pay. Cosine is projected
    once and the rank window orders by the computed column (double-eval
    fix, same as ann_ivf_kmeans); multi-table candidates are distinct-ed
    after scoring (duplicate collisions are identical rows, avoiding an
    array-typed distinct on the vector)."""
    qrows = (
        emb(spark, sf_dir)
        .filter(F.col("vec_id") < N_QUERIES)
        .withColumn("vq", _vq_col())
        .select("vec_id", "v", "vq")
        .collect()
    )
    qdata = [
        (
            int(r.vec_id),
            [float(x) for x in r.v],
            t,
            bucket_client([int(x) for x in r.vq], fam),
        )
        for r in qrows
        for t, fam in enumerate(fams)
    ]
    if multi_table:
        q = spark.createDataFrame(
            qdata, "qid bigint, qv array<double>, qt int, qb bigint"
        )
        probe_dirs = {
            os.path.join(layout_dir, f"t={t}", f"bucket={b}")
            for _, _, t, b in qdata
        }
        part_cols = [
            F.col("t").cast("int").alias("t"),
            F.col("bucket").cast("bigint").alias("bucket"),
        ]
        cond = (
            (F.col("t") == F.col("qt"))
            & (F.col("bucket") == F.col("qb"))
            & (F.col("vec_id") != F.col("qid"))
        )
    else:
        q = spark.createDataFrame(
            [(qid, qv, b) for qid, qv, _, b in qdata],
            "qid bigint, qv array<double>, qb bigint",
        )
        probe_dirs = {
            os.path.join(layout_dir, f"bucket={b}") for _, _, _, b in qdata
        }
        part_cols = [F.col("bucket").cast("bigint").alias("bucket")]
        cond = (F.col("bucket") == F.col("qb")) & (F.col("vec_id") != F.col("qid"))
    paths = sorted(p for p in probe_dirs if os.path.isdir(p))
    if not paths:  # every probed bucket empty -> empty, schema-stable
        sigs = (
            spark.read.parquet(layout_dir)
            .filter(F.lit(False))
            .select("vec_id", "v", *part_cols)
        )
    else:
        sigs = (
            spark.read.option("basePath", layout_dir)
            .parquet(*paths)
            .select("vec_id", "v", *part_cols)
        )
    cand = sigs.join(F.broadcast(q), cond).select(
        "qid",
        F.col("vec_id").alias("neighbor_id"),
        F.round(cosine_expr("qv", "v"), 4).alias("cos_sim"),
    )
    if multi_table:
        cand = cand.distinct()
    w = W.partitionBy("qid").orderBy(F.col("cos_sim").desc(), F.col("neighbor_id"))
    return (
        cand.withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= TOP_K)
        .select(
            "qid",
            "neighbor_id",
            "cos_sim",
            F.col("rnk").cast("bigint").alias("rnk"),
        )
    )


def lsh_layout(spark: SparkSession, sf_dir: str) -> str:
    """Build-once hyperplane-LSH layout: the embedding corpus written as
    parquet partitioned by its 8-bit signature (``bucket=`` directories).

    The 'hash the corpus' half of LSH serving — one signature pass + one
    shuffle-by-bucket write, amortized across every later probe (cache
    key = content-addressed source snapshot via the parquet footer
    digest, same as ``ivf_layout``). A probe then reads ONLY its query
    buckets' directories (a planning-time PartitionFilter), an
    O(corpus/2^planes) scan instead of re-hashing the full corpus per
    query — at 100 TB the bucket directories are the table layout a
    production LSH index materializes anyway."""
    from roapi_spark.functions.snapshot import (
        build_once,
        parquet_ready,
        snapshot_cache_dir,
    )

    src = os.path.join(sf_dir, "embeddings.parquet")
    out = snapshot_cache_dir(src, "lsh-v1")

    def _build(tmp: str) -> None:
        planes = _lsh_planes()
        sigs = (
            emb(spark, sf_dir)
            .withColumn("vq", _vq_col())
            .withColumn("bucket", _lsh_sig_expr(planes).cast("bigint"))
            .drop("vq")
        )
        # one shuffle by bucket, then each bucket is a contiguous set of
        # parquet files under its own bucket= directory
        sigs.repartition("bucket").write.mode("overwrite").partitionBy(
            "bucket"
        ).parquet(tmp)

    build_once(out, parquet_ready, _build)
    return out


@register(
    "ann_lsh",
    oracle=f"""
    WITH e AS (
      SELECT vec_id, embedding::DOUBLE[] AS v,
             -- integer quantization: element-wise x*1000+0.5 then FLOOR is
             -- bit-identical across engines (no reduction ordering), so the
             -- plane-side dot products below are exact integer arithmetic
             LIST_TRANSFORM(embedding::DOUBLE[],
                            x -> CAST(FLOOR(x * 1000 + 0.5) AS BIGINT)) AS vq
      FROM embeddings
    ),
    sigs AS (
      SELECT e.vec_id, ANY_VALUE(e.v) AS v,
             CAST(SUM(CASE WHEN LIST_SUM(
                      LIST_TRANSFORM(GENERATE_SERIES(1, 64),
                                     i -> vq[i] * w[i])) >= 0
                  THEN CAST(POWER(2, 7 - p) AS BIGINT) ELSE 0 END) AS BIGINT)
               AS bucket
      FROM e CROSS JOIN {_lsh_planes_sql()}
      GROUP BY e.vec_id
    ),
    q AS (SELECT vec_id AS qid, v AS qv, bucket AS qb
          FROM sigs WHERE vec_id < {N_QUERIES}),
    cand AS (
      SELECT q.qid, q.qv, s.vec_id AS neighbor_id, s.v
      FROM q JOIN sigs s ON s.bucket = q.qb AND s.vec_id <> q.qid
    ),
    ranked AS (
      SELECT qid, neighbor_id, ROUND(LIST_COSINE_SIMILARITY(qv, v), 4) AS cos_sim,
             ROW_NUMBER() OVER (PARTITION BY qid
               ORDER BY ROUND(LIST_COSINE_SIMILARITY(qv, v), 4) DESC, neighbor_id) AS rnk
      FROM cand
    )
    SELECT qid, neighbor_id, cos_sim, CAST(rnk AS BIGINT) AS rnk
    FROM ranked WHERE rnk <= {TOP_K}
    """,
    doc="Random-hyperplane LSH: 8 deterministic md5-derived +/-1 planes -> "
    "8-bit signature; candidates = same bucket; exact re-rank in-bucket. "
    "Bucket join replaces the full cross product. Signatures use integer-"
    "quantized vectors (floor(x*1000+0.5)) so the sign of every projection "
    "is exact integer arithmetic — no fp-order sensitivity, full oracle. "
    "Serving goes through the build-once ``lsh_layout``: the corpus is "
    "hashed once per snapshot into bucket-partitioned parquet, query "
    "vectors are bucketed client-side (bounded integer math), and the "
    "candidate read lists only the probed bucket= directories.",
    tags=("similarity",),
)
def ann_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _lsh_bucket_serve(
        spark, sf_dir, lsh_layout(spark, sf_dir), [_lsh_planes()], multi_table=False
    )


def lsh_multi_layout(spark: SparkSession, sf_dir: str) -> str:
    """Build-once multi-table LSH layout: the corpus replicated into
    L independent hash tables, parquet-partitioned by (t, bucket).

    This is the standard fix for single-table LSH's recall cliff (the
    measured 0.00 recall@5 in docs/SCALE.md): L shorter signatures give
    each true neighbor L chances to collide — recall 1-(1-p^k)^L — at
    the cost of L x the index storage and L probed buckets per query,
    which is exactly the knob a production LSH deployment turns. Same
    content-addressed snapshot cache as ``lsh_layout``."""
    from roapi_spark.functions.snapshot import (
        build_once,
        parquet_ready,
        snapshot_cache_dir,
    )

    src = os.path.join(sf_dir, "embeddings.parquet")
    out = snapshot_cache_dir(src, "lshmulti-v1")

    def _build(tmp: str) -> None:
        fams = _lsh_planes_multi()
        sigs = (
            emb(spark, sf_dir)
            .withColumn("vq", _vq_col())
            .select(
                "vec_id",
                "v",
                F.explode(
                    F.array(
                        *[
                            F.struct(
                                F.lit(t).alias("t"),
                                _lsh_sig_expr(fam).cast("bigint").alias("bucket"),
                            )
                            for t, fam in enumerate(fams)
                        ]
                    )
                ).alias("tb"),
            )
            .select("vec_id", "v", F.col("tb.t").alias("t"), F.col("tb.bucket").alias("bucket"))
        )
        sigs.repartition("t", "bucket").write.mode("overwrite").partitionBy(
            "t", "bucket"
        ).parquet(tmp)

    build_once(out, parquet_ready, _build)
    return out


@register(
    "ann_lsh_multi",
    oracle=f"""
    WITH e AS (
      SELECT vec_id, embedding::DOUBLE[] AS v,
             LIST_TRANSFORM(embedding::DOUBLE[],
                            x -> CAST(FLOOR(x * 1000 + 0.5) AS BIGINT)) AS vq
      FROM embeddings
    ),
    sigs AS (
      SELECT e.vec_id, t,
             CAST(SUM(CASE WHEN LIST_SUM(
                      LIST_TRANSFORM(GENERATE_SERIES(1, 64),
                                     i -> vq[i] * w[i])) >= 0
                  THEN CAST(POWER(2, {N_LSH_PLANES_MULTI - 1} - p) AS BIGINT)
                  ELSE 0 END) AS BIGINT) AS bucket
      FROM e CROSS JOIN {_lsh_planes_multi_sql()}
      GROUP BY e.vec_id, t
    ),
    q AS (SELECT s.vec_id AS qid, s.t, s.bucket AS qb
          FROM sigs s WHERE s.vec_id < {N_QUERIES}),
    cand AS (
      SELECT DISTINCT q.qid, s.vec_id AS neighbor_id
      FROM q JOIN sigs s ON s.t = q.t AND s.bucket = q.qb AND s.vec_id <> q.qid
    ),
    scored AS (
      SELECT c.qid, c.neighbor_id,
             ROUND(LIST_COSINE_SIMILARITY(eq.v, en.v), 4) AS cos_sim
      FROM cand c
        JOIN e eq ON eq.vec_id = c.qid
        JOIN e en ON en.vec_id = c.neighbor_id
    ),
    ranked AS (
      SELECT qid, neighbor_id, cos_sim,
             ROW_NUMBER() OVER (PARTITION BY qid
               ORDER BY cos_sim DESC, neighbor_id) AS rnk
      FROM scored
    )
    SELECT qid, neighbor_id, cos_sim, CAST(rnk AS BIGINT) AS rnk
    FROM ranked WHERE rnk <= {TOP_K}
    """,
    doc=f"Multi-table LSH: {N_LSH_TABLES} independent "
    f"{N_LSH_PLANES_MULTI}-plane families, candidates = union of the "
    "query's bucket across tables (distinct before re-rank), exact "
    "cosine top-k — the standard recall fix for single-table LSH "
    "(ann_lsh measures 0.00 recall@5; this is the L-tables knob a "
    "production deployment turns, at L x index storage). Serving reads "
    "the build-once (t, bucket)-partitioned ``lsh_multi_layout``; query "
    "vectors are bucketed client-side per family with the same exact "
    "integer math.",
    tags=("similarity",),
)
def ann_lsh_multi(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _lsh_bucket_serve(
        spark,
        sf_dir,
        lsh_multi_layout(spark, sf_dir),
        _lsh_planes_multi(),
        multi_table=True,
    )


@register(
    "knn_bruteforce_pandas",
    oracle=f"""
    WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
    q AS (SELECT vec_id AS qid, v AS qv FROM e WHERE vec_id < {N_QUERIES}),
    scored AS (
      SELECT q.qid, e.vec_id AS neighbor_id,
             LIST_COSINE_SIMILARITY(q.qv, e.v) AS cs
      FROM q JOIN e ON e.vec_id <> q.qid
    ),
    ranked AS (
      SELECT qid, neighbor_id, ROUND(cs, 4) AS cos_sim,
             ROW_NUMBER() OVER (PARTITION BY qid ORDER BY ROUND(cs, 4) DESC, neighbor_id) AS rnk
      FROM scored
    )
    SELECT qid, neighbor_id, cos_sim, CAST(rnk AS BIGINT) AS rnk
    FROM ranked WHERE rnk <= {TOP_K}
    """,
    doc="Brute-force cosine top-k via an Arrow-batched mapInPandas kernel "
    "(numpy matrix product per batch) — the vectorized-Python alternative "
    "to the JVM higher-order-function plan in knn_bruteforce; same "
    "semantics, same oracle. Queries ship to workers inside the closure "
    "(tiny); corpus still scans once.",
    tags=("similarity", "pandas-udf"),
)
def knn_bruteforce_pandas(spark: SparkSession, sf_dir: str) -> DataFrame:
    from collections.abc import Iterator

    import numpy as np
    import pandas as pd

    e = emb(spark, sf_dir)
    qrows = e.filter(F.col("vec_id") < N_QUERIES).select("vec_id", "v").collect()
    qids = np.array([r.vec_id for r in qrows], dtype=np.int64)
    Q = np.array([r.v for r in qrows], dtype=np.float64)
    Qn = Q / np.linalg.norm(Q, axis=1, keepdims=True)

    def score(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            if len(pdf) == 0:
                continue
            V = np.array(pdf["v"].tolist(), dtype=np.float64)
            Vn = V / np.linalg.norm(V, axis=1, keepdims=True)
            cs = Vn @ Qn.T  # (batch, n_queries)
            ids = pdf["vec_id"].to_numpy()
            out = pd.DataFrame(
                {
                    "qid": np.repeat(qids, len(ids)),
                    "neighbor_id": np.tile(ids, len(qids)),
                    "cs": cs.T.reshape(-1),
                }
            )
            yield out[out.qid != out.neighbor_id]

    scored = e.select("vec_id", "v").mapInPandas(
        score, "qid bigint, neighbor_id bigint, cs double"
    )
    w = W.partitionBy("qid").orderBy(F.round("cs", 4).desc(), F.col("neighbor_id"))
    return (
        scored.withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= TOP_K)
        .select(
            "qid",
            "neighbor_id",
            F.round("cs", 4).alias("cos_sim"),
            F.col("rnk").cast("bigint").alias("rnk"),
        )
    )


# -- k-means IVF (the scale path's real coarse quantizer) ------------------

K_LISTS = 8
KM_ITERS = 2
DIM = 64
# Lloyd's iterations fit on a deterministic 1-in-4 sample (vec_id % 4 == 0)
# — the standard sampled/mini-batch fit: at 100 TB you never run assignment
# passes over the full corpus just to move centroids.  Only the final
# assignment (the inverted-list build) scans everything.
KM_SAMPLE_MOD = 4


def _vq_col() -> Column:
    # integer quantization (same grid as ann_lsh): every arithmetic step of
    # the k-means below is exact integer math, so Spark and the DuckDB
    # oracle produce bit-identical assignments
    return F.transform(F.col("v"), lambda x: F.floor(x * 1000 + F.lit(0.5)).cast("bigint"))


def assign_client(vq: list[int], cents: list[tuple[int, list[int]]]) -> int:
    """Exact-integer client-side coarse assignment for QUERY vectors:
    the same (distance, cid) ordering as ``_assign_expr`` / the oracle's
    ROW_NUMBER (full squared distance differs from the reduced form only
    by the per-vector constant ``||x||^2``). Query sets are bounded, and
    baking the k*dim literal tree into Catalyst costs ~1.5 s of driver
    analysis PER CALL — the corpus-side assignment (ivf_layout build)
    keeps the JVM expression, where it runs distributed once per
    snapshot."""
    return min(
        ((sum((x - c) * (x - c) for x, c in zip(vq, cv)), cid) for cid, cv in cents)
    )[1]


def _assign_expr(cents: list[tuple[int, list[int]]]) -> Column:
    # argmin over (dist, cid) structs — array_min orders by dist then cid,
    # the same tie-break the oracle's ROW_NUMBER uses.  The scored distance
    # is the reduced form ||c||^2 - 2*x.c: the ||x||^2 term is constant per
    # row so the ordering (and the exact-integer tie-breaks) are identical
    # to the oracle's full squared distance, at half the per-element work.
    pairs = F.array(
        *[
            F.struct(
                (
                    F.lit(int(sum(x * x for x in c))).cast("bigint")
                    - 2
                    * F.aggregate(
                        F.zip_with(
                            F.col("vq"),
                            F.array(*[F.lit(int(x)).cast("bigint") for x in c]),
                            lambda x, cc: x * cc,
                        ),
                        F.lit(0).cast("bigint"),
                        lambda acc, y: acc + y,
                    )
                ).alias("d"),
                F.lit(int(cid)).alias("cid"),
            )
            for cid, c in cents
        ]
    )
    return F.array_min(pairs)["cid"]


def kmeans_oracle_prefix() -> str:
    """Unrolled Lloyd's iterations as CTEs (KM_ITERS assignment+update
    rounds) ending in ``af(vec_id, cid)``, the final assignment; centroid
    components are floor(int_sum/count) so every engine computes the
    identical integer grid.  Shared by the ann and dedup oracles."""
    dist = (
        "LIST_SUM(LIST_TRANSFORM(GENERATE_SERIES(1, {dim}), "
        "i -> (e.vq[i] - c.c[i]) * (e.vq[i] - c.c[i])))"
    ).format(dim=DIM)
    parts = [
        f"""e AS (
      SELECT vec_id, embedding::DOUBLE[] AS v,
             LIST_TRANSFORM(embedding::DOUBLE[],
                            x -> CAST(FLOOR(x * 1000 + 0.5) AS BIGINT)) AS vq
      FROM embeddings),
    c0 AS (SELECT vec_id AS cid, vq AS c FROM e WHERE vec_id < {K_LISTS})"""
    ]
    for it in range(1, KM_ITERS + 1):
        parts.append(
            f"""a{it} AS (
      SELECT vec_id, vq, cid FROM (
        SELECT e.vec_id, e.vq, c.cid,
               ROW_NUMBER() OVER (PARTITION BY e.vec_id
                 ORDER BY {dist}, c.cid) AS rn
        FROM e CROSS JOIN c{it - 1} c
        WHERE e.vec_id % {KM_SAMPLE_MOD} = 0) WHERE rn = 1),
    c{it} AS (
      SELECT cid, LIST(m ORDER BY i) AS c FROM (
        SELECT cid, i,
               CAST(FLOOR(CAST(SUM(vq[i]) AS DOUBLE) / COUNT(*)) AS BIGINT) AS m
        FROM a{it}, GENERATE_SERIES(1, {DIM}) AS g(i)
        GROUP BY cid, i) GROUP BY cid)"""
        )
    parts.append(
        f"""af AS (
      SELECT vec_id, cid FROM (
        SELECT e.vec_id, c.cid,
               ROW_NUMBER() OVER (PARTITION BY e.vec_id
                 ORDER BY {dist}, c.cid) AS rn
        FROM e CROSS JOIN c{KM_ITERS} c) WHERE rn = 1)"""
    )
    return ",\n    ".join(parts)


def _kmeans_oracle_sql() -> str:
    return f"""
    WITH {kmeans_oracle_prefix()},
    q AS (
      SELECT af.vec_id AS qid, e.v AS qv, af.cid AS qcid
      FROM af JOIN e USING (vec_id) WHERE vec_id < {N_QUERIES}),
    cand AS (
      SELECT q.qid, q.qv, af.vec_id AS neighbor_id, e.v
      FROM q JOIN af ON af.cid = q.qcid AND af.vec_id <> q.qid
      JOIN e ON e.vec_id = af.vec_id),
    ranked AS (
      SELECT qid, neighbor_id, ROUND(LIST_COSINE_SIMILARITY(qv, v), 4) AS cos_sim,
             ROW_NUMBER() OVER (PARTITION BY qid
               ORDER BY ROUND(LIST_COSINE_SIMILARITY(qv, v), 4) DESC, neighbor_id) AS rnk
      FROM cand)
    SELECT qid, neighbor_id, cos_sim, CAST(rnk AS BIGINT) AS rnk
    FROM ranked WHERE rnk <= {TOP_K}
    """


def kmeans_fit(spark: SparkSession, sf_dir: str) -> list[tuple[int, list[int]]]:
    """Fit the coarse quantizer: Lloyd's on the 1-in-KM_SAMPLE_MOD sample,
    returning the final (cid, centroid) list — k*dim ints on the driver."""
    # quantized corpus is read by 3+ jobs (init + per-iteration updates) —
    # materialize it once
    eq = emb(spark, sf_dir).withColumn("vq", _vq_col()).localCheckpoint(eager=False)
    cents = sorted(
        (r.vec_id, list(r.vq))
        for r in eq.filter(F.col("vec_id") < K_LISTS).select("vec_id", "vq").collect()
    )
    fit = eq.filter(F.col("vec_id") % KM_SAMPLE_MOD == 0)
    for _ in range(KM_ITERS):
        assigned = fit.withColumn("cid", _assign_expr(cents))
        upd = (
            assigned.select("cid", F.posexplode("vq").alias("i", "x"))
            .groupBy("cid", "i")
            .agg(F.sum("x").alias("sx"), F.count("*").alias("n"))
            .withColumn("m", F.floor(F.col("sx") / F.col("n")).cast("bigint"))
            .groupBy("cid")
            .agg(F.array_sort(F.collect_list(F.struct("i", "m"))).m.alias("c"))
        )
        cents = sorted((r.cid, list(r.c)) for r in upd.collect())
    return cents


def kmeans_assignments(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(vec_id, v, label, cid): the corpus with its final k-means list id —
    checkpointed, since callers fan multiple jobs out of it."""
    cents = kmeans_fit(spark, sf_dir)
    return (
        emb(spark, sf_dir)
        .withColumn("vq", _vq_col())
        .withColumn("cid", _assign_expr(cents))
        .drop("vq")
        .localCheckpoint(eager=False)
    )


_IVF_LAYOUT_VERSION = "v3"  # v3: + per-cell sizes (_cells.json)


def ivf_layout(
    spark: SparkSession, sf_dir: str
) -> tuple[str, list[tuple[int, list[int]]]]:
    """Build-once inverted-file layout for ``sf_dir``: the embedding corpus
    written as parquet partitioned by its k-means list id (``cid=``
    directories), plus the fitted centroids persisted next to it.

    This is the 'build the index' half of IVF — one k-means fit + one
    shuffle-by-cid write, amortized across every later probe (cache key =
    content-addressed source snapshot via the parquet footer digest, so a
    regenerated corpus invalidates it even when size+mtime are preserved,
    and a pure mtime touch reuses it). At 100 TB the same layout is the
    table's partitioning scheme and the fit runs once per corpus
    snapshot, not per query."""
    import json

    from roapi_spark.functions.snapshot import build_once, snapshot_cache_dir

    src = os.path.join(sf_dir, "embeddings.parquet")
    out = snapshot_cache_dir(src, f"ivf-{_IVF_LAYOUT_VERSION}")
    cent_path = os.path.join(out, "_centroids.json")

    def _ready(d: str) -> bool:
        return (
            os.path.exists(os.path.join(d, "_SUCCESS"))
            and os.path.exists(os.path.join(d, "_centroids.json"))
            and os.path.exists(os.path.join(d, "_cells.json"))
        )

    def _build(tmp: str) -> None:
        cents = kmeans_fit(spark, sf_dir)
        assigned = (
            emb(spark, sf_dir)
            .withColumn("vq", _vq_col())
            .withColumn("cid", _assign_expr(cents))
            .drop("vq")
        )
        # one shuffle by cid, then each inverted list is a contiguous set
        # of parquet files under its own cid= directory
        assigned.repartition("cid").write.mode("overwrite").partitionBy(
            "cid"
        ).parquet(tmp)
        with open(os.path.join(tmp, "_centroids.json"), "w") as f:
            json.dump(cents, f)
        # per-cell sizes (K_LISTS rows, from the layout just written):
        # consumers gate degenerate cells as a PARTITION FILTER instead of
        # re-aggregating the layout per query
        sizes = {
            int(r.cid): int(r.n)
            for r in spark.read.parquet(tmp)
            .groupBy("cid")
            .agg(F.count("*").alias("n"))
            .collect()
        }
        with open(os.path.join(tmp, "_cells.json"), "w") as f:
            json.dump(sizes, f)

    build_once(out, _ready, _build)
    with open(cent_path) as f:
        cents = [(int(c), [int(x) for x in v]) for c, v in json.load(f)]
    return out, cents


def ivf_cell_sizes(layout_dir: str) -> dict[int, int]:
    """Per-cell member counts persisted at layout build time."""
    import json

    with open(os.path.join(layout_dir, "_cells.json")) as f:
        return {int(k): int(v) for k, v in json.load(f).items()}


@register(
    "ann_ivf_kmeans",
    oracle=_kmeans_oracle_sql(),
    doc="IVF with a real k-means coarse quantizer (Lloyd's, "
    f"{KM_ITERS} iterations, k={K_LISTS}) instead of the pre-clustered "
    "label: integer-quantized vectors make every assignment/update step "
    "exact integer math, so the unrolled DuckDB oracle reproduces the "
    "clustering bit-for-bit. Centroids fit on a deterministic 1-in-"
    f"{KM_SAMPLE_MOD} sample (map-side distances against broadcast-literal "
    "centroids; updates shuffle only k*dim partial sums — the driver holds "
    "k*dim ints, never data). Serving goes through ``ivf_layout``: the "
    "corpus is materialized once as cid-partitioned parquet, query vectors "
    "are quantized against the persisted centroids (vec_id pushdown on the "
    "source scan), and the candidate read lists only the probed cid= "
    "partitions — an O(corpus/k) scan per probe instead of a full pass.",
    tags=("similarity",),
)
def ann_ivf_kmeans(spark: SparkSession, sf_dir: str) -> DataFrame:
    layout_dir, cents = ivf_layout(spark, sf_dir)
    # Probe side: the N query vectors come off the source table (vec_id
    # predicate pushed to the parquet scan) and are assigned to their list
    # with the persisted centroids — k*dim literal ints, the same
    # quantize-the-query step every IVF serving system does client-side.
    qrows = (
        emb(spark, sf_dir)
        .filter(F.col("vec_id") < N_QUERIES)
        .withColumn("vq", _vq_col())
        .select("vec_id", "v", "vq")
        .collect()
    )
    # client-side quantization (assign_client): identical integer math,
    # none of _assign_expr's per-call driver analysis cost
    qass = [(r, assign_client([int(x) for x in r.vq], cents)) for r in qrows]
    q = spark.createDataFrame(
        [(int(r.vec_id), [float(x) for x in r.v], int(qcid)) for r, qcid in qass],
        "qid bigint, qv array<double>, qcid bigint",
    )
    probe_cids = sorted({qcid for _, qcid in qass})
    # Candidate side: static IN-list on the partition column -> partition
    # pruning at planning time; only the probed lists' files are read.
    cand_src = spark.read.parquet(layout_dir).filter(F.col("cid").isin(probe_cids))
    # cosine projected ONCE, then the rank window orders by the computed
    # column — referencing the fold in both orderBy and output would
    # evaluate it twice per candidate (same fix as dedup_embedding_cosine)
    cand = cand_src.join(
        F.broadcast(q),
        (F.col("cid") == F.col("qcid")) & (F.col("vec_id") != F.col("qid")),
    ).select(
        "qid",
        F.col("vec_id").alias("neighbor_id"),
        F.round(cosine_expr("qv", "v"), 4).alias("cos_sim"),
    )
    w = W.partitionBy("qid").orderBy(F.col("cos_sim").desc(), F.col("neighbor_id"))
    return (
        cand.withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= TOP_K)
        .select(
            "qid",
            "neighbor_id",
            "cos_sim",
            F.col("rnk").cast("bigint").alias("rnk"),
        )
    )


@register(
    "q_embedding_outliers",
    oracle="""
    WITH e AS (SELECT vec_id, label, embedding::DOUBLE[] AS v FROM embeddings),
    cent AS (
      SELECT label, LIST(m ORDER BY i) AS c FROM (
        SELECT label, i, AVG(v[i]) AS m
        FROM e, GENERATE_SERIES(1, 64) AS g(i)
        GROUP BY label, i) GROUP BY label),
    d AS (
      SELECT e.vec_id, e.label,
             ROUND(SQRT(LIST_SUM(LIST_TRANSFORM(GENERATE_SERIES(1, 64),
                    i -> (e.v[i] - c.c[i]) * (e.v[i] - c.c[i])))), 4) AS dist
      FROM e JOIN cent c USING (label)),
    r AS (
      SELECT vec_id, label, dist,
             ROW_NUMBER() OVER (PARTITION BY label
                                ORDER BY dist DESC, vec_id) AS rnk
      FROM d)
    SELECT label, vec_id, dist AS dist_to_centroid, CAST(rnk AS BIGINT) AS rnk
    FROM r WHERE rnk <= 3
    """,
    doc="Embedding outlier mining for data curation: per-label centroid "
    "(exact per-dimension mean via posexplode + partial agg), each "
    "vector's L2 distance to its own centroid, top-3 farthest per label. "
    "The centroid table is label-count-sized, so the join back to the "
    "corpus broadcasts at any scale; distances are JVM-side zip_with.",
    tags=("similarity", "quality"),
)
def q_embedding_outliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = emb(spark, sf_dir)
    comp = e.select("label", F.posexplode("v").alias("i", "x"))
    cent = (
        comp.groupBy("label", "i")
        .agg(F.avg("x").alias("m"))
        .groupBy("label")
        .agg(F.array_sort(F.collect_list(F.struct("i", "m"))).m.alias("c"))
    )
    j = e.join(cent, "label")
    dist = F.round(
        F.sqrt(
            F.aggregate(
                F.zip_with("v", "c", lambda x, c: (x - c) * (x - c)),
                F.lit(0.0),
                lambda acc, x: acc + x,
            )
        ),
        4,
    )
    d = j.select("vec_id", "label", dist.alias("dist"))
    w = W.partitionBy("label").orderBy(F.desc("dist"), F.asc("vec_id"))
    return (
        d.withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= 3)
        .select(
            "label",
            "vec_id",
            F.col("dist").alias("dist_to_centroid"),
            F.col("rnk").cast("bigint").alias("rnk"),
        )
    )


# -- multi-probe IVF (nprobe > 1: the standard recall lever) ----------------

N_PROBE = 2


def _nprobe_oracle_sql() -> str:
    dist = (
        "LIST_SUM(LIST_TRANSFORM(GENERATE_SERIES(1, {dim}), "
        "i -> (q.vq[i] - c.c[i]) * (q.vq[i] - c.c[i])))"
    ).format(dim=DIM)
    return f"""
    WITH {kmeans_oracle_prefix()},
    q AS (
      SELECT vec_id AS qid, v AS qv, vq FROM e WHERE vec_id < {N_QUERIES}),
    probes AS (
      SELECT qid, cid FROM (
        SELECT q.qid, c.cid,
               ROW_NUMBER() OVER (PARTITION BY q.qid
                 ORDER BY {dist}, c.cid) AS rn
        FROM (SELECT qid, vq FROM q) q CROSS JOIN c{KM_ITERS} c)
      WHERE rn <= {N_PROBE}),
    cand AS (
      SELECT q.qid, q.qv, af.vec_id AS neighbor_id, e.v
      FROM q JOIN probes p ON p.qid = q.qid
      JOIN af ON af.cid = p.cid AND af.vec_id <> q.qid
      JOIN e ON e.vec_id = af.vec_id),
    ranked AS (
      SELECT qid, neighbor_id, ROUND(LIST_COSINE_SIMILARITY(qv, v), 4) AS cos_sim,
             ROW_NUMBER() OVER (PARTITION BY qid
               ORDER BY ROUND(LIST_COSINE_SIMILARITY(qv, v), 4) DESC, neighbor_id) AS rnk
      FROM cand)
    SELECT qid, neighbor_id, cos_sim, CAST(rnk AS BIGINT) AS rnk
    FROM ranked WHERE rnk <= {TOP_K}
    """


@register(
    "ann_ivf_nprobe",
    oracle=_nprobe_oracle_sql(),
    doc=f"Multi-probe IVF (nprobe={N_PROBE}): each query vector probes its "
    f"{N_PROBE} nearest k-means cells instead of one — the standard "
    "recall/latency dial every IVF system exposes (a vector near a cell "
    "boundary finds neighbors that quantized into the adjacent list). "
    "Cell ranking is the same exact-integer distance as assignment, "
    "computed client-side from the persisted centroids; the candidate "
    "scan still carries a static cid IN-list, so partition pruning reads "
    f"only the probed lists ({N_PROBE}/{K_LISTS} of the corpus per query).",
    tags=("similarity",),
)
def ann_ivf_nprobe(spark: SparkSession, sf_dir: str) -> DataFrame:
    layout_dir, cents = ivf_layout(spark, sf_dir)
    qrows = (
        emb(spark, sf_dir)
        .filter(F.col("vec_id") < N_QUERIES)
        .withColumn("vq", _vq_col())
        .select("vec_id", "v", "vq")
        .collect()
    )
    # rank cells per query with the same exact integer distance the fit
    # uses (client-side: k x dim ints against <= N_QUERIES query vectors)
    probe_rows = []
    for r in qrows:
        vq = [int(x) for x in r.vq]
        by_dist = sorted(
            (sum((x - c) * (x - c) for x, c in zip(vq, cv)), cid)
            for cid, cv in cents
        )
        for _, cid in by_dist[:N_PROBE]:
            probe_rows.append((int(r.vec_id), [float(x) for x in r.v], int(cid)))
    q = spark.createDataFrame(
        probe_rows, "qid bigint, qv array<double>, probe_cid bigint"
    )
    probe_cids = sorted({cid for _, _, cid in probe_rows})
    cand_src = spark.read.parquet(layout_dir).filter(F.col("cid").isin(probe_cids))
    cand = cand_src.join(
        F.broadcast(q),
        (F.col("cid") == F.col("probe_cid")) & (F.col("vec_id") != F.col("qid")),
    ).select("qid", "qv", F.col("vec_id").alias("neighbor_id"), "v")
    w = W.partitionBy("qid").orderBy(
        F.round(cosine_expr("qv", "v"), 4).desc(), F.col("neighbor_id")
    )
    return (
        cand.withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= TOP_K)
        .select(
            "qid",
            "neighbor_id",
            F.round(cosine_expr("qv", "v"), 4).alias("cos_sim"),
            F.col("rnk").cast("bigint").alias("rnk"),
        )
    )
