"""SparkSession factory tuned for the engine.

Local-mode settings mirror what we would set on a real cluster:
AQE on (runtime re-planning, skew-join handling, partition coalescing),
Arrow on (fast pandas interchange for ingest and Pandas UDFs), and a
shuffle-partition count sized to the parallelism at hand rather than
the 200 default. On a 1000-executor cluster the same builder is used
with `master` unset and `spark.sql.shuffle.partitions` sized to
~2-3x total cores (or left to AQE's coalescing with a high initial
value).
"""
from __future__ import annotations

import os

from pyspark.sql import SparkSession


def get_spark(
    app_name: str = "qcache-spark",
    cpus: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    if cpus is None:
        cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "0")) or os.cpu_count() or 4
    # Python workers (Pandas UDF / mapInPandas) must be able to import
    # this package regardless of the driver's cwd. Local mode spawns
    # workers with the driver's environment → extend PYTHONPATH. On a
    # real cluster, ship a wheel via spark-submit --py-files instead.
    pkg_root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    existing = os.environ.get("PYTHONPATH", "")
    if pkg_root not in existing.split(os.pathsep):
        os.environ["PYTHONPATH"] = (
            f"{pkg_root}{os.pathsep}{existing}" if existing else pkg_root
        )
    builder = (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(cpus))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEMORY", "8g"))
        .config("spark.ui.enabled", "false")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark


TABLE_NAMES = (
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
)


def allow_parquet_nanos(spark: SparkSession) -> None:
    """Make parquet TIMESTAMP(NANOS) columns (pandas-written event
    files) readable on ``spark``, which may be a session not built by
    get_spark(). Older runtimes reject the type unless
    ``spark.sql.legacy.parquet.nanosAsLong`` is set and then surface a
    long; Spark ≥4.1 ignores the conf and reads timestamp_ntz.
    normalize_event_ts canonicalizes either form."""
    try:
        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    except Exception:
        pass  # conf removed entirely in some future runtime


def normalize_event_ts(df, col: str = "ts"):
    """Normalize a parquet TIMESTAMP(NANOS) column to the engine-wide
    canonical type, TimestampNTZType, regardless of how this runtime's
    parquet reader surfaced it:

    - Spark ≥4.1 reads TIMESTAMP(NANOS) natively as timestamp_ntz
      (micro-truncated) and ignores `nanosAsLong` → already canonical.
    - Older runtimes honor `spark.sql.legacy.parquet.nanosAsLong` and
      surface a long of epoch nanos → convert with an epoch-anchored
      timestampadd, which is session-timezone-independent (a plain
      CAST long→ntz would shift by the session zone).

    NTZ (naive wall time) is the right canonical type here: it is what
    both the native Spark reader and DuckDB produce for these files, so
    batch, streaming, fastpath-mirror and oracle paths all agree without
    any timezone coupling.
    """
    from pyspark.sql import functions as F
    from pyspark.sql import types as T

    dt = df.schema[col].dataType
    if isinstance(dt, T.LongType):
        return df.withColumn(
            col,
            F.expr(
                f"timestampadd(MICROSECOND, {col} div 1000,"
                " TIMESTAMP_NTZ '1970-01-01 00:00:00')"
            ),
        )
    if isinstance(dt, T.TimestampType):
        # A writer that produced micros-precision ltz: reinterpret as
        # naive UTC wall time. A plain ltz->ntz CAST renders the instant
        # in the *session* timezone, so a caller-supplied non-UTC session
        # (load_table explicitly supports sessions not built by
        # get_spark()) would silently shift every event time. Go through
        # unix_micros (timezone-independent) and anchor on the ntz epoch,
        # exactly like the long branch above.
        return df.withColumn(
            col,
            F.expr(
                f"timestampadd(MICROSECOND, unix_micros({col}),"
                " TIMESTAMP_NTZ '1970-01-01 00:00:00')"
            ),
        )
    return df


def load_table(spark: SparkSession, sf_dir: str, name: str):
    """Read one synthetic table. Parquet scan → Catalyst gets column
    pruning + predicate pushdown for free on every query we compile."""
    if name == "events":
        allow_parquet_nanos(spark)
    df = spark.read.parquet(os.path.join(sf_dir, f"{name}.parquet"))
    if name == "events":
        df = normalize_event_ts(df)
    return df


def load_tables(spark: SparkSession, sf_dir: str) -> dict:
    return {name: load_table(spark, sf_dir, name) for name in TABLE_NAMES}
