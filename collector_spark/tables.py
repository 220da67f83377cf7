"""Typed loaders for the synthetic test tables (TESTDATA.md).

Tables: region nation customer supplier part orders lineitem events
documents embeddings — one parquet file each under an ``sf_dir``.

Loaders return plain DataFrames; Catalyst handles column pruning and filter
pushdown into the parquet scan, so callers should select/filter on the
result rather than asking for pre-projected variants.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

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

DEFAULT_SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")

# The driver's parquet uses TIMESTAMP(NANOS), which Spark rejects by default
# and DuckDB silently coerces to microseconds (floor). We read nanos as LONG
# (legacy conf) and floor-divide to microseconds so both engines see the
# identical instant.
_TS_COLS = {
    "orders": ("o_orderdate",),
    "lineitem": ("l_shipdate",),
    "events": ("ts",),
}

# tables whose consumers do heavy per-row work (regex parsing of events ->
# log_raw, shingle/n-gram explosion of documents, vector math on
# embeddings) or that are the big fact inputs whose pre-shuffle
# project/filter work benefits from parallel scans (lineitem, orders).
# Dimension-sized tables stay narrow — they broadcast regardless, and an
# exchange per scan only adds latency to multi-input plans like S10.
_WIDEN_TABLES = {"lineitem", "orders", "events", "documents", "embeddings"}


def load(spark: SparkSession, name: str, sf_dir: str) -> DataFrame:
    if name not in TABLE_NAMES:
        raise ValueError(f"unknown table {name!r}; expected one of {TABLE_NAMES}")
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    df = spark.read.parquet(f"{sf_dir}/{name}.parquet")
    for c in _TS_COLS.get(name, ()):
        if dict(df.dtypes).get(c) == "bigint":
            df = df.withColumn(c, F.timestamp_micros(F.expr(f"{c} DIV 1000")))
    # The local test files are single-row-group parquet, so a scan is ONE
    # task no matter what maxPartitionBytes says — and every per-row stage
    # before the first shuffle (regex parse, shingle explode, n-gram
    # fan-out) serializes on one core. Fan narrow scans of the big/fan-out
    # tables out to the session's parallelism; the round-robin shuffle moves
    # only the tiny local file. The small dimension tables stay narrow —
    # they broadcast anyway, and an exchange per scan only adds latency to
    # multi-input plans like the S10 megascan. At production scale inputs
    # arrive in >= cores splits (many files / row groups) and this branch
    # never fires.
    if name in _WIDEN_TABLES:
        target = min(spark.sparkContext.defaultParallelism, 32)
        if df.rdd.getNumPartitions() < target:
            df = df.repartition(target)
    return df


# last sf_dir registered — lets source-path-needing operators (streaming
# readers) find the active dataset without threading sf_dir everywhere
LAST_SF_DIR = DEFAULT_SF_DIR


def register_views(spark: SparkSession, sf_dir: str) -> None:
    """Register every base table as a temp view (for the SQL-facing surface)."""
    global LAST_SF_DIR
    LAST_SF_DIR = sf_dir
    for name in TABLE_NAMES:
        load(spark, name, sf_dir).createOrReplaceTempView(name)
