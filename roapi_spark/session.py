"""SparkSession factory.

Defaults target the driver environment (local[N], single JVM) but every
setting is chosen to also make sense on a real multi-executor cluster at
~100 TB: AQE on (runtime re-plan + skew-join handling), partition
coalescing, Arrow transfer for the Python boundary, and a shuffle
partition count that tracks cores locally (on a cluster you would size it
to ~2-3x total cores or rely on AQE coalescing from a high initial count).
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

DEFAULT_SHUFFLE_PARTITIONS = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))

# the checkout root: Python workers import roapi_spark (the worker daemon
# below and pickled UDF references) from here wherever the driver started
ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
WORKER_PYTHONPATH = "spark.executorEnv.PYTHONPATH"


def get_spark(
    app_name: str = "roapi_spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or reuse) the session.

    ``extra_conf`` mirrors the reference's ``datafusion.{key}`` engine
    passthrough (roapi/src/config.rs:246-260): arbitrary ``spark.*`` keys
    from user config land here.
    """
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    builder = (
        SparkSession.builder.appName(app_name)
        .master(master or f"local[{cpus}]")
        .config(
            "spark.sql.shuffle.partitions",
            str(shuffle_partitions or DEFAULT_SHUFFLE_PARTITIONS),
        )
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.parquet.mergeSchema", "false")
        .config("spark.sql.parquet.filterPushdown", "true")
        # events.parquet carries TIMESTAMP(NANOS); read ns-as-long globally
        # instead of toggling session state inside query builders
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        .config("spark.ui.enabled", "false")
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"))
        # skips the per-task re-read of Spark's own zips and jar
        # (see roapi_spark/pyworker.py)
        .config("spark.python.daemon.module", "roapi_spark.pyworker")
    )
    conf = dict(extra_conf or {})
    paths = conf.get(WORKER_PYTHONPATH, "").split(os.pathsep)
    conf[WORKER_PYTHONPATH] = os.pathsep.join(
        [ROOT] + [p for p in paths if p and p != ROOT]
    )
    for k, v in conf.items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark


def load_sf_tables(spark: SparkSession, sf_dir: str) -> None:
    """Register the driver testdata tables as temp views (lazy parquet scans).

    Lazy scan (not .cache()) is deliberate: at 100 TB the data cannot be
    materialized; Catalyst pushes filters/projections into the parquet scan.
    """
    for name in (
        "region",
        "nation",
        "customer",
        "supplier",
        "part",
        "orders",
        "lineitem",
        "events",
        "documents",
        "embeddings",
    ):
        path = os.path.join(sf_dir, f"{name}.parquet")
        if os.path.exists(path):
            spark.read.parquet(path).createOrReplaceTempView(name)
