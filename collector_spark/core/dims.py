"""Scalable dense-index assignment for star-schema dimensions (J10).

Reference: output/transform/util.go:25-150 assigns each distinct dimension
member a dense int32 idx. A distributed engine can't use insertion order, so
the contract here is *global sorted rank* — deterministic and
order-insensitive (SURVEY.md §7.4 hard part 5).

The naive Spark spelling, ``row_number().over(Window.orderBy(keys))``, is a
single-partition exchange: every key funnels through ONE task. Fine for a
dozen databases; a scale-killer for millions of query fingerprints or a
log window's lines.

One kernel, ``ranked_rows``, computes the same sorted rank as a two-level
rank over rows whose key is unique:

  1. range-partition the rows (partition i's keys all sort before
     partition i+1's);
  2. local ``row_number`` *within* each range partition — parallel;
  3. per-partition counts -> per-partition starting offsets via a tiny
     self-join over at most ``num_parts`` rows (no single-partition window,
     no driver collect);
  4. idx = offset + local rank - 1, guarded to int32.

The result is identical to the global window for any partition boundaries —
PROVIDED the rank and count branches observe the *same* boundaries. Exchange
reuse usually guarantees that, but it is not a correctness primitive: with a
cached relation upstream (core/pinned.py) plus AQE, the two branches were
observed to re-sample different range boundaries, silently producing
duplicate/missing idx values. The range-partitioned rows are therefore
materialized once via an eager ``localCheckpoint`` so both branches read one
physical partitioning. That checkpoint runs at DataFrame-construction time.

``dense_index`` is the dimension form: the distinct keys of a relation
passed through ``ranked_rows``. The plan contains no
``Exchange SinglePartition`` (pinned by tests/test_dense_dim.py).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

# Partition count for the dimension key space. Dimension key sets are orders
# of magnitude smaller than facts, so parallelism-sized (not data-sized) is
# right; raise via the argument for a billion-fingerprint dim.
DEFAULT_DIM_PARTS = 32


def _offsets_of(counts: DataFrame) -> DataFrame:
    """offset(p) = sum of counts of all partitions before p. ``counts`` has
    at most num_parts rows, so the theta-join is O(num_parts^2) over a
    broadcast-small relation — never a data-sized shuffle."""
    return (
        counts.alias("a")
        .join(
            F.broadcast(counts.alias("b")),
            F.col("b._pid") < F.col("a._pid"),
            "left",
        )
        .groupBy(F.col("a._pid").alias("_pid"))
        .agg(F.coalesce(F.sum("b._cnt"), F.lit(0)).alias("_off"))
    )


def ranked_rows(
    df: DataFrame,
    key_cols: list[str],
    idx_name: str,
    num_parts: int | None = None,
) -> tuple[DataFrame, DataFrame]:
    """Append ``idx_name`` = each row's 0-based global sorted rank over
    ``key_cols`` to EVERY row of ``df``; key_cols must be UNIQUE per row
    (a global line number over log lines, or a distinct dimension domain).

    Returns ``(ranged, ranked)``: ``ranged`` is the materialized
    range-partitioned relation WITHOUT the rank column — consumers that
    only need the rows (association windows, dimension builds) read it
    instead of re-deriving the staged subtree — and ``ranked`` adds
    ``idx_name``."""
    if num_parts is None:
        num_parts = df.sparkSession.sparkContext.defaultParallelism
    # NULLS LAST explicitly: Spark's default ascending order is nulls-first
    # while DuckDB's row_number ORDER BY (every oracle) is nulls-last; a
    # nullable key would silently rank differently without the pin.
    order = [F.col(c).asc_nulls_last() for c in key_cols]
    ranged = (
        df.repartitionByRange(num_parts, *order)
        .withColumn("_pid", F.spark_partition_id())
        .localCheckpoint()
    )
    local = ranged.withColumn(
        "_lrn",
        F.row_number()
        .over(Window.partitionBy("_pid").orderBy(*order))
        .cast("long"),
    )
    counts = ranged.groupBy("_pid").agg(F.count("*").alias("_cnt"))
    rank = F.col("_off") + F.col("_lrn") - 1
    # past 2^31 rows the int cast would silently wrap into negative or
    # duplicate refs; the guard is one row-local comparison
    guarded = F.when(rank <= F.lit(2147483647), rank).otherwise(
        F.raise_error(F.lit("ranked_rows: rank exceeds int32 range"))
    )
    ranked = (
        local.join(F.broadcast(_offsets_of(counts)), "_pid")
        .withColumn(idx_name, guarded.cast("int"))
        .drop("_pid", "_lrn", "_off")
    )
    return ranged.drop("_pid"), ranked


def dense_index(
    df: DataFrame,
    key_cols: list[str],
    idx_name: str,
    num_parts: int = DEFAULT_DIM_PARTS,
) -> DataFrame:
    """Distinct ``key_cols`` of ``df`` with a dense int32 ``idx_name`` column
    equal to each key's 0-based global sorted rank."""
    keys = df.select(*key_cols).distinct()
    _, ranked = ranked_rows(keys, key_cols, idx_name, num_parts)
    return ranked.select(*key_cols, idx_name)
