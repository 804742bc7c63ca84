"""Cross-engine helpers.

``pround`` — portable round-half-up via floor(x*10^d + 0.5)/10^d, identical
on Spark and DuckDB. Needed for values derived from integer ratios (token
ratios, Jaccard) which can land *exactly* on a rounding half-boundary where
Spark (half-up) and DuckDB (half-even) disagree. Plain ROUND stays fine for
float aggregates (sums/stddev), where an exact decimal half never occurs.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F


def pround(col: Column, digits: int = 4) -> Column:
    scale = 10**digits
    return F.floor(col * scale + F.lit(0.5)) / float(scale)


def pround_sql(expr: str, digits: int = 4) -> str:
    scale = 10**digits
    return f"FLOOR(({expr}) * {scale} + 0.5) / {scale}.0"


def hash_bucket(col: Column, n: int) -> Column:
    """md5-prefix hash bucket in [0, n): the cross-engine deterministic
    hash used for splits, DSIR features, and shard ordering. Twin of
    :func:`hash_bucket_sql` — keep the two expressions in lockstep, a
    drift in either silently breaks oracle parity."""
    return F.conv(F.substring(F.md5(col), 1, 8), 16, 10).cast("bigint") % n


def hash_bucket_sql(expr: str, n: int) -> str:
    """DuckDB twin of :func:`hash_bucket` (expr must already be VARCHAR)."""
    return f"('0x' || SUBSTR(MD5({expr}), 1, 8))::BIGINT % {n}"


def jsonable(v: object) -> object:
    """Collapse DataFrame.collect() value shapes (Row, bytearray, nested
    containers) to plain JSON values — shared by the wire servers so
    complex columns render as JSON text, never Python reprs."""
    from pyspark.sql import Row

    if isinstance(v, Row):
        return {k: jsonable(x) for k, x in v.asDict().items()}
    if isinstance(v, dict):
        return {k: jsonable(x) for k, x in v.items()}
    if isinstance(v, (list, tuple)):
        return [jsonable(x) for x in v]
    if isinstance(v, (bytes, bytearray)):
        return bytes(v).hex()
    return v


# Whitespace class usable VERBATIM in both Java regex (Spark) and RE2
# (DuckDB): Java's \s is [ \t\n\x0B\f\r] but RE2's \s OMITS \x0B, so a
# literal '\s+' in paired expressions silently diverges on any text
# containing a vertical tab — spell the class out on both sides.
WS_CLASS = r"[ \t\n\x0B\f\r]"


def hash32(col: Column) -> Column:
    """First 4 md5 bytes as a bigint — the shared 32-bit content hash
    (minhash base, simhash token hash). Paired with hash32_sql; change
    BOTH or oracle parity silently breaks."""
    return F.conv(F.substring(F.md5(col), 1, 8), 16, 10).cast("bigint")


def hash32_sql(expr: str) -> str:
    """DuckDB twin of hash32."""
    return f"('0x' || SUBSTR(MD5({expr}), 1, 8))::BIGINT"


def serve_persist(df: "DataFrame") -> "DataFrame":  # noqa: F821
    """Persist a multiply-consumed intermediate for the lifetime of one
    query SERVE.

    Lifecycle contract: these blocks are NOT unpersisted by the query
    builder — the consumers live inside the returned lazy DataFrame, so
    there is no safe point to drop them before the caller's action.
    Spark never evicts the disk half of a MEMORY_AND_DISK block, so the
    caller that runs registry builders drops them between serves:

    * ``bench.py`` and ``tools/profile_queries.py`` call
      ``drop_persistent_blocks`` before every serve;
    * ``tools/check_correctness.py`` serves each query once in a
      short-lived process, and the blocks go with it.

    The HTTP/PG/MySQL/Flight servers never call a registry builder: they
    serve catalog SQL only, so they create no serve-scoped blocks. Their
    only persists are ``Catalog``'s pinned table generations, which
    unpersist generation n-2 themselves; a server-side sweep would drop
    those table caches.

    Use this wrapper (not bare ``.persist()``) for serve-scoped persists
    so the contract is greppable in one place.
    """
    return df.persist()


def drop_persistent_blocks(spark: "SparkSession") -> None:  # noqa: F821
    """Unpersist every persistent RDD of ``spark``'s context: the
    ``serve_persist`` blocks and the localCheckpoint intermediates of
    iterative queries, so one serve's blocks don't pressure the next
    serve's memory or local disk."""
    jsc = spark.sparkContext._jsc.sc()
    for rdd in spark.sparkContext._jvm.scala.collection.JavaConverters.mapAsJavaMap(
        jsc.getPersistentRDDs()
    ).values():
        rdd.unpersist(False)
