"""Table catalog over the driver's parquet fixtures.

Parquet + declarative reads give Catalyst predicate pushdown, column pruning
and partition pruning for free (the reference read inferred-schema CSV, which
forfeits all three — scripts/preprocess_cicids2017.py:103-115).
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

TABLES = (
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

#: columns written as parquet TIMESTAMP(NANOS), which Spark cannot read
#: natively — read as ns-since-epoch longs and convert to TimestampType.
_NANOS_TS_COLS: dict[str, tuple[str, ...]] = {"events": ("ts",)}


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Load one fixture table as a DataFrame (lazy parquet scan).

    The fixtures store some timestamps with NANOS precision; Spark rejects
    that annotation unless ``nanosAsLong`` is set, so we set it (runtime-safe)
    and rebuild a proper timestamp at microsecond precision. Session timezone
    is pinned to UTC so timestamp semantics match the (naive-UTC) fixtures
    regardless of host timezone.
    """
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    df = spark.read.parquet(os.path.join(sf_dir, f"{name}.parquet"))
    dtypes = dict(df.dtypes)
    for c in _NANOS_TS_COLS.get(name, ()):
        if dtypes.get(c) == "bigint":
            df = df.withColumn(c, F.expr(f"timestamp_micros({c} div 1000)"))
    return df


def spread_for_compute(df: DataFrame, *keys) -> DataFrame:
    """Hash-repartition to session parallelism before heavy per-row compute.

    The local fixtures are single-file single-row-group parquet, so every
    scan is exactly ONE task and per-row compute (tokenize, per-shingle md5,
    decimal casts) runs single-threaded regardless of ``local[N]`` — the
    "huge unsplittable input" pathology (optimization guide §2.5). The fix
    is the guide's: repartition immediately after the read. Guarded and
    scale-adaptive: a no-op whenever the input already has at least the
    session's default parallelism in partitions, which is the normal state
    of a real multi-file table on a cluster — this only fires when a scan
    cannot feed the cores it has.

    Keys must be deterministic, high-cardinality column names/exprs:
    hash-repartitioning avoids keyless round-robin's per-input-partition
    sort (``spark.sql.execution.sortBeforeRepartition``) and is retry-safe
    (rand-derived keys can duplicate/lose rows on fetch-failure recompute,
    SPARK-38388). Callers project to the needed columns FIRST so the
    exchange carries only those bytes (guide §2.3), and only call this
    where downstream results are partition-order independent (exact/decimal
    aggregates, equi-joins, per-row hash projections).
    """
    try:
        current = df.rdd.getNumPartitions()
    except Exception:  # noqa: BLE001 — e.g. streaming DataFrames: leave as-is
        return df
    p = df.sparkSession.sparkContext.defaultParallelism
    if current >= p:
        return df
    return df.repartition(p, *keys)
