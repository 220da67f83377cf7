"""The streaming harness every ``st*`` query runs through (SURVEY §3's
streaming lifecycle: source -> state pass -> emit -> per-window assembly).

Three pieces, one copy each:

  stage_replay      a batch relation written as an arrival-ordered file
                    log: range-partitioned and sorted on the arrival key,
                    one parquet file per arrival batch, file mtimes
                    staggered so the file source (which replays
                    oldest-modification-first) delivers the batches in key
                    order
  state_partitions  scopes ``spark.sql.shuffle.partitions`` to
                    STATE_PARTITIONS for a query start: streaming pins the
                    stateful shuffle width in the first checkpoint, and
                    each state-store partition pays a per-batch commit plus
                    a Python worker round trip, so the harness sizes it
                    down from the session default (8 beat 16 and 32 in an
                    A/B) and restores the session value afterwards
  run_to_completion the verification trigger: a memory sink under a unique
                    name with a per-run checkpoint and
                    ``trigger(availableNow=True)``; the run dir is removed
                    once the query stops, and the sink's table is returned

Production differs only in source and trigger: a live file/socket source
with ``trigger(processingTime=...)`` and a durable sink instead of the
memory table.
"""

from __future__ import annotations

import os
import shutil
import tempfile
import uuid
from collections.abc import Iterator, Sequence
from contextlib import contextmanager

from pyspark.sql import DataFrame, SparkSession

STATE_PARTITIONS = 8


def stage_replay(
    df: DataFrame,
    order_cols: str | Sequence[str],
    n_files: int,
    path: str,
    reverse: bool = False,
) -> str:
    """Write ``df`` to ``path`` as ``n_files`` arrival batches in
    ``order_cols`` order (descending batch order with ``reverse``) and
    return ``path``."""
    cols = [order_cols] if isinstance(order_cols, str) else list(order_cols)
    (
        df.repartitionByRange(n_files, *cols)
        .sortWithinPartitions(*cols)
        .write.mode("overwrite")
        .parquet(path)
    )
    parts = sorted(
        f for f in os.listdir(path) if f.startswith("part-") and f.endswith(".parquet")
    )
    if reverse:
        parts.reverse()
    base = os.path.getmtime(path)
    for i, name in enumerate(parts):
        os.utime(os.path.join(path, name), (base + 10 * i, base + 10 * i))
    return path


@contextmanager
def state_partitions(spark: SparkSession) -> Iterator[None]:
    """Start streaming queries inside this scope to pin their state width
    at STATE_PARTITIONS; the session value is restored on exit."""
    prev = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", str(STATE_PARTITIONS))
    try:
        yield
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", prev)


def run_to_completion(df: DataFrame, output_mode: str = "append") -> DataFrame:
    """Run the streaming query ``df`` over everything its sources hold now
    and return the memory sink's table."""
    spark = df.sparkSession
    run_dir = tempfile.mkdtemp(prefix="collector_spark_run_")
    name = "run_" + uuid.uuid4().hex[:12]
    try:
        with state_partitions(spark):
            query = (
                df.writeStream.format("memory")
                .queryName(name)
                .outputMode(output_mode)
                .option("checkpointLocation", os.path.join(run_dir, "ckpt"))
                .trigger(availableNow=True)
                .start()
            )
        try:
            query.awaitTermination()
        finally:
            query.stop()
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)
    return spark.table(name)
