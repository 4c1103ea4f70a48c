"""Loaders for the driver-generated parquet tables (TESTDATA.md).

Tables: region nation customer supplier part orders lineitem events
documents embeddings. One parquet file per table under an sf dir.

Reads go through ``spark.read.parquet`` so Catalyst keeps predicate
pushdown / column pruning / partition pruning on the scan — at 100 TB
these tables would be partitioned+bucketed parquet/iceberg and the same
code path applies.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession

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

DEFAULT_SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")


def table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    if name not in TABLES:
        raise KeyError(f"unknown table {name!r}; expected one of {TABLES}")
    path = os.path.join(sf_dir, f"{name}.parquet")
    if name == "events":
        # events.ts is parquet TIMESTAMP(NANOS) which Spark refuses by
        # default (PARQUET_TYPE_ILLEGAL). Read it as int64 nanos and
        # truncate to micros — the same truncation DuckDB applies — so
        # both engines see identical values.
        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
        from pyspark.sql import functions as F

        df = spark.read.parquet(path)
        if dict(df.dtypes).get("ts") == "bigint":
            # integer div — a double intermediate would lose precision at
            # ~1.7e18 ns epoch values (double mantissa is 53 bits).
            df = df.withColumn("ts", F.expr("timestamp_micros(ts div 1000)"))
        return df
    return spark.read.parquet(path)


def ensure_min_partitions(df: DataFrame, min_partitions: int | None = None) -> DataFrame:
    """Round-robin repartition ONLY when the scan is under-partitioned.

    Row-amplifying operators (shingle explode, LSH banding, self-joins)
    inherit the scan's partitioning; a small single-file table gives one
    task and serializes the whole map side. At 100 TB the scan arrives
    with thousands of splits and this is a no-op — the guard means we
    never pay a gratuitous full shuffle on a big input."""
    target = min_partitions or df.sparkSession.sparkContext.defaultParallelism
    if df.rdd.getNumPartitions() < target:
        return df.repartition(target)
    return df


def checkpoint_guarded(
    df: DataFrame, ctx: str, marks: tuple[str, ...], reason: str
) -> DataFrame:
    """``df.localCheckpoint()``, turning a per-row ``raise_error`` whose
    message carries one of ``marks`` into ``ValueError(f"{ctx}:
    {reason}")`` chained from the Spark exception — the refusal an
    operator's contract promises instead of a wrapped executor error.
    Any other failure propagates unchanged."""
    try:
        return df.localCheckpoint()
    except Exception as exc:
        if any(mark in str(exc) for mark in marks):
            raise ValueError(f"{ctx}: {reason}") from exc
        raise
