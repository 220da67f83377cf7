"""Structured Streaming log path (ST1-ST5, ST8, ST9).

Reference: the collector's log pipeline is continuous — source adapters push
lines into a bounded channel (state/logs.go:13), a 10 s ticker drains it
(runner/logs.go:30,177-229), and stream.AnalyzeStreamInGroups stitches
multi-line events with a 3 s arrival-readiness threshold
(logs/stream/stream.go:52-91, :202-277, threshold at :233).

Spark mapping:
  ST1  withWatermark("collected_at", "3 seconds") — the readiness threshold
  ST2/ST3 per-pid stateful sessionizer via applyInPandasWithState: lines
       buffer in state ordered by seq; a group (primary + its
       continuations) is emitted once a LATER primary for the same pid
       arrives (sequence-based sessions, not time-gap sessions)
  ST4  rows older than the watermark never reach the state function
       (late-data discard); unattributable leading continuations are
       dropped, mirroring stream.go:84-90
  ST5  trigger(processingTime="10 seconds") in production;
       trigger(availableNow) for run-to-completion verification
  ST8  maxFilesPerTrigger bounds per-tick intake (channel cap analog)
  ST9  event-time timeout (last buffered line + 3 s) flushes groups the
       stream will never close

Verification contract: ``stream_stitch`` appends one far-future sentinel
primary per pid before streaming, so every real group closes and the
run-to-completion output equals the batch stitcher (w3_log_stitch oracle)
exactly; sentinel groups themselves never close and are filtered by seq.

Harness: the sentinel-augmented corpus is staged once per session with
``stage_replay`` (arrival order == event-time order) and every query runs
with ``run_to_completion`` (streaming/replay.py), which also scopes the
state width.

Scale: state is per-pid (high cardinality, tiny per-key payload — the
reference caps one pending event at 10 MB); the only shuffle is the
groupBy(pid) exchange, identical to the batch stitcher's.
"""

from __future__ import annotations

import os
import pickle
import tempfile
from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout
from pyspark.sql.types import (
    BinaryType,
    IntegerType,
    LongType,
    StringType,
    StructField,
    StructType,
    TimestampType,
)

from collector_spark.logs.parse import parse_df
from collector_spark.streaming.replay import run_to_completion, stage_replay

READINESS_MS = 3_000           # logs/stream/stream.go:233
SENTINEL_SEQ_OFFSET = 10_000_000_000

RAW_SCHEMA = StructType(
    [
        StructField("collected_at", TimestampType()),
        StructField("pid", IntegerType()),
        StructField("seq", LongType()),
        StructField("raw_line", StringType()),
    ]
)

OUT_SCHEMA = StructType(
    [
        StructField("pid", IntegerType()),
        StructField("seq", LongType()),
        StructField("log_level", StringType()),
        StructField("username", StringType()),
        StructField("database", StringType()),
        StructField("application", StringType()),
        StructField("content", StringType()),
        StructField("line_count", LongType()),
        # the group's primary-line arrival timestamp (micros-exact), so
        # downstream per-snapshot assembly (dense log_line_ref order,
        # occurred_at) composes onto the stream output without a batch
        # join back to the parsed relation
        StructField("collected_at", TimestampType()),
    ]
)

# Buffered lines ride in ONE binary cell: pickled tuple of 7 parallel
# lists. Replaces the r3 \x1f-packed per-column string codec — pickle
# round-trips the lists directly (no str()/int()/split per value per
# microbatch) and the state row stays a single Arrow binary scalar.
STATE_SCHEMA = StructType([StructField("buf", BinaryType())])


def _pack(cols: tuple) -> bytes:
    return pickle.dumps(cols, protocol=pickle.HIGHEST_PROTOCOL)


def _unpack(b) -> tuple:
    return pickle.loads(bytes(b))


def _stitch_state_fn(
    key: tuple, pdf_iter: Iterator[pd.DataFrame], state: GroupState
) -> Iterator[pd.DataFrame]:
    (pid,) = key
    if state.exists:
        (buf,) = state.get
        seqs, cts, levels, users, dbs, apps, contents = _unpack(buf)
    else:
        seqs, cts, levels, users, dbs, apps, contents = [], [], [], [], [], [], []

    for pdf in pdf_iter:
        if not len(pdf):
            continue
        # column-at-a-time ingest: .tolist() converts in C; the former
        # per-value int()/str()/pd.isna() loop was the batch's hottest
        # Python, paid for EVERY buffered line per microbatch
        seqs += pdf["seq"].astype("int64").tolist()
        cts += (pdf["collected_at"].astype("int64") // 1_000).tolist()  # ns->us
        for col, acc in (
            ("log_level", levels),
            ("username", users),
            ("database", dbs),
            ("application", apps),
            ("content", contents),
        ):
            s = pdf[col]
            acc += s.astype(object).where(s.notna(), None).tolist()

    order = sorted(range(len(seqs)), key=lambda i: seqs[i])
    groups: list[list[int]] = []
    for i in order:
        if levels[i] != "UNKNOWN":
            groups.append([i])
        elif groups:
            groups[-1].append(i)
        # else: leading continuation with no possible parent -> dropped (ST4)

    # Emission mirrors the reference's readiness deferral (stream.go:52-91):
    # a group is emitted once it is READY — the watermark has passed its
    # newest line, so no straggler continuation inside the readiness window
    # can still arrive. (Like the reference, a continuation arriving later
    # than the readiness threshold would misfile; the sentinel-closed
    # verification run has none.) Unready groups stay buffered; the
    # event-time timeout re-invokes this function as the watermark
    # advances, draining them.
    wm = state.getCurrentWatermarkMs()

    def ready(g: list[int]) -> bool:
        # cts are micros; the watermark clock is millis
        return max(cts[i] for i in g) // 1_000 < wm

    emit = [g for g in groups if ready(g)]
    keep = [g for g in groups if not ready(g)]

    rows = [
        (
            pid,
            seqs[g[0]],
            levels[g[0]],
            users[g[0]],
            dbs[g[0]],
            apps[g[0]],
            "\n".join(contents[i] for i in g),
            len(g),
            pd.Timestamp(cts[g[0]], unit="us"),
        )
        for g in emit
    ]

    if keep:
        flat = [i for g in keep for i in g]
        state.update(
            (
                _pack(
                    (
                        [seqs[i] for i in flat],
                        [cts[i] for i in flat],
                        [levels[i] for i in flat],
                        [users[i] for i in flat],
                        [dbs[i] for i in flat],
                        [apps[i] for i in flat],
                        [contents[i] for i in flat],
                    )
                ),
            )
        )
        # ST9: fire when the EARLIEST kept group becomes ready
        # (setTimeoutTimestamp must exceed the current watermark; ms clock)
        next_deadline = min(
            max(cts[i] for i in g) for g in keep
        ) // 1_000 + READINESS_MS
        state.setTimeoutTimestamp(max(next_deadline, wm + 1))
    else:
        if state.exists:
            state.remove()

    if rows:
        yield pd.DataFrame(rows, columns=[f.name for f in OUT_SCHEMA.fields])


def _with_sentinels(log_raw: DataFrame) -> DataFrame:
    """One far-future primary per pid so run-to-completion closes every real
    group; sentinel seq offset keeps them filterable."""
    gmax = log_raw.agg(F.max("collected_at").alias("__gm"))
    future = F.col("__gm") + F.expr("INTERVAL 10 MINUTES")
    sentinels = (
        log_raw.groupBy("pid")
        .agg(F.max("seq").alias("__mseq"))
        .crossJoin(F.broadcast(gmax))
        .select(
            future.alias("collected_at"),
            F.col("pid"),
            (F.col("__mseq") + F.lit(SENTINEL_SEQ_OFFSET)).alias("seq"),
            F.concat(
                F.date_format(future, "yyyy-MM-dd HH:mm:ss"),
                F.lit(" UTC ["),
                F.col("pid").cast("string"),
                F.lit("] [user=s,db=s,app=s] LOG:  sentinel flush"),
            ).alias("raw_line"),
        )
    )
    return log_raw.select("collected_at", "pid", "seq", "raw_line").unionByName(sentinels)


def stitch_stream(
    raw_stream: DataFrame,
) -> DataFrame:
    """The streaming stitcher: parse -> watermark -> stateful sessionize."""
    parsed = parse_df(raw_stream).select(
        "collected_at",
        "pid",
        "seq",
        "log_level",
        "username",
        "database",
        "application",
        "content",
    )
    return (
        parsed.withWatermark("collected_at", "3 seconds")
        .groupBy("pid")
        .applyInPandasWithState(
            _stitch_state_fn,
            OUT_SCHEMA,
            STATE_SCHEMA,
            "append",
            GroupStateTimeout.EventTimeTimeout,
        )
    )


# sentinel-augmented replay source, staged once per (session, prepared
# input dir): the dataset-to-event-stream conversion is harness setup, not
# part of the streaming operator under measurement; every stream query over
# the same prepared corpus replays the same files with a fresh checkpoint
_SOURCE_DIRS: dict[tuple[int, str], str] = {}


def _stream_source_dir(spark: SparkSession) -> str:
    from collector_spark import registry

    key = (id(spark), registry.active_dir(spark))
    cached = _SOURCE_DIRS.get(key)
    if cached is not None and os.path.isdir(cached):
        return cached
    # arrival order == event-time order (as for a real log stream), so the
    # watermark never drops a live row
    src_dir = stage_replay(
        _with_sentinels(spark.table("log_raw")),
        "collected_at",
        8,
        tempfile.mkdtemp(prefix="collector_spark_stream_src_"),
    )
    _SOURCE_DIRS[key] = src_dir
    return src_dir


def _run_stream(
    spark: SparkSession,
    transform,
    max_files_per_trigger: int | None = None,
) -> DataFrame:
    """Run ``transform(raw_stream)`` over the replayed log corpus to
    completion and return the sentinel-filtered result; maxFilesPerTrigger
    bounds per-tick intake (ST8)."""
    reader = spark.readStream.schema(RAW_SCHEMA)
    if max_files_per_trigger:
        reader = reader.option("maxFilesPerTrigger", max_files_per_trigger)
    out = run_to_completion(transform(reader.parquet(_stream_source_dir(spark))))
    return out.filter(F.col("seq") < SENTINEL_SEQ_OFFSET).orderBy("pid", "seq")


def stream_stitch(spark: SparkSession, max_files_per_trigger: int | None = None) -> DataFrame:
    """Run the streaming stitcher to completion over the log_raw fixture and
    return the (batch-equal) result. The sessionizer's collected_at carrier
    column (added for the full-pipeline composition) is projected off to
    keep the w3 oracle contract."""
    return _run_stream(spark, stitch_stream, max_files_per_trigger).drop(
        "collected_at"
    )


def pipeline_stream(raw_stream: DataFrame) -> DataFrame:
    """§3.2's log lifecycle as ONE streaming query: parse -> watermark ->
    stateful sessionize -> classify -> redact (logs/stream/stream.go:240 ->
    logs/analyze.go dispatch -> logs/replace.go splice, as one continuous
    dataflow). Classification and redaction are stateless projections, so
    they compose directly onto the sessionizer's stream output — the same
    rule chains and redaction expression run batch and streaming."""
    from collector_spark.logs.classify import classify_wide
    from collector_spark.operators.snapshot_logs import redact_content_expr

    wide = classify_wide(stitch_stream(raw_stream))
    return wide.withColumn("content", redact_content_expr())


def stream_log_pipeline(
    spark: SparkSession, max_files_per_trigger: int | None = None
) -> DataFrame:
    """`st_log_pipeline_full`: run the full streaming lifecycle to
    completion, then assemble the CompactLogSnapshot fact over the closed
    window (dense log_line_ref, parent association, role/database refs —
    the transform stage the reference runs per 10 s tick over exactly the
    lines the stream emitted, output/transform/logs.go:17-163). Shares the
    batch composition's oracle: any arrival batching yields the same
    per-line records, so the assembled fact is batch-equal."""
    from collector_spark.operators.snapshot_logs import log_pipeline_fact

    # the assembly self-joins its input (refs twice, association), which a
    # bare memory-sink MemoryPlan cannot serve across self-join branches
    # (the repo's memory-sink self-join discipline) — satisfied by
    # log_pipeline_fact's ranked_rows, whose eager localCheckpoint of the
    # range-partitioned rows is the one relation every branch reads (r13
    # ADVICE fix: the former lazy checkpoint here duplicated that copy).
    out = _run_stream(spark, pipeline_stream, max_files_per_trigger)
    # timestamp_ntz: the batch side reads parquet TIMESTAMP_NTZ while the
    # streaming state schema carries TimestampType — value-identical under
    # the session's pinned UTC; align the flavor so the two compositions
    # share one schema (and one oracle hash)
    out = out.withColumn("collected_at", F.col("collected_at").cast("timestamp_ntz"))
    return log_pipeline_fact(out)


def stream_classify(spark: SparkSession, max_files_per_trigger: int | None = None) -> DataFrame:
    """The ENTIRE log-analytics path as one streaming query: parse ->
    watermark -> stateful sessionize -> classify — the classification
    projection (stateless) composes directly onto the sessionizer's stream
    output, so the same rule table runs batch and streaming."""
    from collector_spark.logs.classify import classify_df

    return _run_stream(
        spark,
        lambda raw: classify_df(stitch_stream(raw)),
        max_files_per_trigger,
    )
