"""The lifecycles the benchmark drives, each through the package's public
functions.

A cycle is construction plus action plus sink: the lifecycle's outputs are
built, the registered queries' oracle-only global sort is elided through
``registry.drop_trailing_sort`` (the production sink surface), and the rows
are written as parquet. Construction is inside the cycle because eager
checkpoints (``core/dims.ranked_rows``, ``core/dims.dense_index``) run while
the DataFrame is built.

A cycle returns ``checks``: ``(oracle key, kind, target)`` triples that
``run.py`` compares with the DuckDB oracle after the timed cycles. ``kind``
is ``parquet`` (a sink dir), ``partitioned`` (a partitioned sink dir) or
``summary`` (rows already reduced with ``inputs.summary``).

``traced`` runs the same composition once more with each layer in its own
span (a Spark job group). Where a layer reads the previous layer's output,
that output is staged (checkpointed) first, so a span holds that layer's
work alone.

``log_batch`` and ``log_stream`` are the workloads. ``Snapshot`` runs only
in ``log_batch``'s traced run and ``Export`` only in ``log_stream``'s, once
each, after the workload's own lifecycle (``EXTRAS``): their spans hold a
first cycle, and they have no end-to-end metric.
"""

from __future__ import annotations

import contextlib
import os
import statistics
import threading
import time

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

# files per micro-batch in the stream replay. The source is staged as 8
# files, so 4 gives 2 data ticks plus the closing watermark tick per cycle;
# 1 (9 ticks) costs about twice the cycle time at the same input.
STREAM_FILES_PER_TRIGGER = 4

LOG_FACT_ORACLE = "log_pipeline_full"
MB = 1024 * 1024


def sink(df: DataFrame, path: str) -> None:
    from collector_spark import registry

    registry.drop_trailing_sort(df).write.mode("overwrite").parquet(path)


class Span:
    """Times one layer under a Spark job group named after it. The whole
    ``with`` block is the span's ``self_s``; calls through ``build()`` are
    its construction time, ``build_s``."""

    def __init__(self, spark: SparkSession, name: str, record: dict):
        self.spark, self.name, self.record = spark, name, record

    def __enter__(self) -> Span:
        self.spark.sparkContext.setJobGroup(self.name, self.name)
        self.record.setdefault(self.name, {"build_s": 0.0, "self_s": 0.0})
        self._t0 = time.perf_counter()
        return self

    def build(self, fn, *args):
        t0 = time.perf_counter()
        out = fn(*args)
        self.record[self.name]["build_s"] += time.perf_counter() - t0
        return out

    def __exit__(self, *exc) -> None:
        self.record[self.name]["self_s"] += time.perf_counter() - self._t0
        self.spark.sparkContext.setJobGroup("stage", "untimed staging")


class _Untimed:
    """Stands in for a ``Span`` in an untraced cycle."""

    def __enter__(self) -> _Untimed:
        return self

    def __exit__(self, *exc) -> None:
        pass

    @staticmethod
    def build(fn, *args):
        return fn(*args)


def _noop(df: DataFrame) -> None:
    df.write.mode("overwrite").format("noop").save()


def _staged(df: DataFrame) -> DataFrame:
    return df.localCheckpoint(eager=True)


class _LogFact:
    """The log fact check both log workloads share."""

    def oracles(self) -> dict:
        return {LOG_FACT_ORACLE: None}

    def seed_free_key(self, input_dir: str) -> str:
        """The corpus renders from ``events``, which the seed only permutes
        (``inputs.py``), so the fact is the same for every seed."""
        from perfbench import inputs

        return inputs.rank_fingerprint(input_dir, "events", "event_id", drop_id=False)


class LogBatch(_LogFact):
    """parse -> stitch -> classify -> redact -> compact log fact, as one
    batch composition (``operators.snapshot_logs.log_pipeline_full``)."""

    name = "log_batch"
    # the traced run warms up with one cycle before the fused reference:
    # cold, the fused cycle is about twice its split spans (0.56 seen)
    traced_warmup = True
    spans = (
        "logs.parse",
        "logs.stitch",
        "logs.classify",
        "logs.redact",
        "operators.snapshot_logs",
    )

    def stage(self, spark: SparkSession) -> None:
        pass

    def cycle(self, spark: SparkSession, out: str) -> dict:
        from collector_spark.operators.snapshot_logs import log_pipeline_full

        sink(log_pipeline_full(spark), out)
        return {"checks": [(LOG_FACT_ORACLE, "parquet", out)]}

    def traced(self, spark: SparkSession, out: str) -> tuple[dict, dict, dict]:
        """(spans, counters, cycle extra) of one traced cycle; a span is
        ``{"self_s", "build_s"}`` and names a Spark job group."""
        from collector_spark.logs.classify import classify_wide
        from collector_spark.logs.parse import parse_lines
        from collector_spark.logs.stitch import stitch_df
        from collector_spark.operators.snapshot_logs import (
            log_pipeline_fact,
            redact_content_expr,
        )

        spans: dict = {}
        counts: dict = {}
        spark.sparkContext.setJobGroup("stage", "untimed staging")
        with Span(spark, "logs.parse", spans) as s:
            parsed = s.build(parse_lines, spark)
            _noop(parsed)
        parsed = _staged(parsed)
        n_lines = parsed.count()
        counts["logs.parse.hit_frac"] = (
            parsed.filter(F.col("log_level") != "UNKNOWN").count() / max(1, n_lines)
        )
        with Span(spark, "logs.stitch", spans) as s:
            stitched = s.build(stitch_df, parsed)
            _noop(stitched)
        stitched = _staged(stitched)
        counts["logs.stitch.events_out"] = stitched.count()
        lines = _staged(
            stitched.join(parsed.select("pid", "seq", "collected_at"), ["pid", "seq"])
        )
        with Span(spark, "logs.classify", spans) as s:
            classified = s.build(classify_wide, lines)
            _noop(classified)
        classified = _staged(classified)
        primaries = classified.filter(F.col("classification").isNotNull())
        counts["logs.classify.classified_frac"] = primaries.filter(
            F.col("classification") != "UNCLASSIFIED"
        ).count() / max(1, primaries.count())
        with Span(spark, "logs.redact", spans) as s:
            wide = s.build(
                lambda: classified.withColumn("content", redact_content_expr())
            )
            _noop(wide)
        counts["logs.redact.redacted_rows"] = classified.filter(
            redact_content_expr() != F.col("content")
        ).count()
        wide = _staged(wide)
        with Span(spark, "operators.snapshot_logs", spans) as s:
            fact = s.build(log_pipeline_fact, wide)
            sink(fact, out)
        return spans, counts, {"checks": [(LOG_FACT_ORACLE, "parquet", out)]}


class StreamTicks:
    """StreamingQueryListener capture: one record per micro-batch progress,
    and the set of started query run ids."""

    def __init__(self):
        self.ticks: list[dict] = []
        self.run_ids: set[str] = set()
        self.started = 0
        self.terminated = 0
        self._cv = threading.Condition()

    def listener(self):
        from pyspark.sql.streaming import StreamingQueryListener

        owner = self

        class _Listener(StreamingQueryListener):
            def onQueryStarted(self, event):
                with owner._cv:
                    owner.started += 1
                    owner.run_ids.add(str(event.runId))

            def onQueryProgress(self, event):
                p = event.progress
                d = dict(p.durationMs)
                ops = p.stateOperators or []
                with owner._cv:
                    owner.ticks.append(
                        {
                            "input_rows": p.numInputRows,
                            "trigger_s": d.get("triggerExecution", 0) / 1000,
                            "add_batch_s": d.get("addBatch", 0) / 1000,
                            "commit_s": (d.get("commitOffsets", 0) + d.get("walCommit", 0))
                            / 1000,
                            "planning_s": d.get("queryPlanning", 0) / 1000,
                            "state_rows": sum(o.numRowsTotal for o in ops),
                            "state_bytes": sum(o.memoryUsedBytes for o in ops),
                            "dropped_rows": sum(o.numRowsDroppedByWatermark for o in ops),
                        }
                    )

            def onQueryIdle(self, event):
                pass

            def onQueryTerminated(self, event):
                with owner._cv:
                    owner.terminated += 1
                    owner._cv.notify_all()

        return _Listener()

    def mark(self) -> int:
        with self._cv:
            return len(self.ticks)

    def settle(self, timeout: float = 30.0) -> None:
        """Wait until every started query's termination event arrived (the
        listener bus is asynchronous)."""
        deadline = time.monotonic() + timeout
        with self._cv:
            while self.terminated < self.started and time.monotonic() < deadline:
                self._cv.wait(0.1)

    def since(self, mark: int) -> list[dict]:
        with self._cv:
            return list(self.ticks[mark:])


class LogStream(_LogFact):
    """The same lifecycle as one Structured Streaming query
    (``streaming.log_stream.stream_log_pipeline``): parse, the
    ``applyInPandasWithState`` sessionizer, classify and redact in-stream,
    then the compact fact over the closed window."""

    name = "log_stream"
    # no warm-up cycle in the traced run: this cycle and its extra are the
    # longest, and cold its spans still reconcile (0.76 seen)
    traced_warmup = False
    spans = ("streaming.log_stream", "operators.snapshot_logs")

    def __init__(self):
        self.capture = StreamTicks()

    def stage(self, spark: SparkSession) -> None:
        # replay source files: the dataset-to-stream conversion is staging,
        # not the lifecycle (the stream reuses them per session)
        from collector_spark.streaming import log_stream

        spark.streams.addListener(self.capture.listener())
        log_stream._stream_source_dir(spark)

    def _replay(self, run) -> dict:
        """Runs ``run()`` (which runs the stream to completion) and returns
        the cycle's ticks, dropped rows and the new queries' run ids."""
        mark = self.capture.mark()
        known = set(self.capture.run_ids)
        run()
        self.capture.settle()
        ticks = self.capture.since(mark)
        return {
            "ticks": ticks,
            "dropped_rows": sum(t["dropped_rows"] for t in ticks),
            "run_ids": sorted(self.capture.run_ids - known),
        }

    def cycle(self, spark: SparkSession, out: str) -> dict:
        from collector_spark.streaming.log_stream import stream_log_pipeline

        extra = self._replay(
            lambda: sink(stream_log_pipeline(spark, STREAM_FILES_PER_TRIGGER), out)
        )
        extra["checks"] = [(LOG_FACT_ORACLE, "parquet", out)]
        return extra

    def traced(self, spark: SparkSession, out: str) -> tuple[dict, dict, dict]:
        """``stream_log_pipeline`` split in two: ``streaming.log_stream``
        runs the stream to completion (its micro-batch jobs carry the query's
        run id as job group, mapped to the span through ``extra["aliases"]``),
        then ``operators.snapshot_logs`` builds the fact over its output and
        sinks it. The split repeats ``stream_log_pipeline``'s own two steps."""
        from collector_spark.operators.snapshot_logs import log_pipeline_fact
        from collector_spark.streaming import log_stream

        spans: dict = {}
        emitted: list = []

        def run_stream():
            with Span(spark, "streaming.log_stream", spans) as s:
                emitted.append(
                    s.build(
                        log_stream._run_stream,
                        spark,
                        log_stream.pipeline_stream,
                        STREAM_FILES_PER_TRIGGER,
                    )
                )

        extra = self._replay(run_stream)
        with Span(spark, "operators.snapshot_logs", spans) as s:
            wide = emitted[0].withColumn(
                "collected_at", F.col("collected_at").cast("timestamp_ntz")
            )
            sink(s.build(log_pipeline_fact, wide), out)
        extra["aliases"] = dict.fromkeys(extra["run_ids"], "streaming.log_stream")
        extra["checks"] = [(LOG_FACT_ORACLE, "parquet", out)]
        return spans, {}, extra


# the snapshot cycle's steps: (span, registered query); each query's output
# is sunk and checked against its oracle
SNAPSHOT_STEPS = (
    ("operators.statements.diff", "a1_statement_diff"),
    ("operators.statements.rollup", "a2_statement_rollup"),
    ("operators.snapshot", None),
    ("operators.historic", "a12_bucket_accumulation"),
    ("operators.activity", "activity_snapshot"),
    ("operators.relation_scan", "s10_relation_scan"),
)
# write_snapshot writes the registered statement fact, partitioned
SNAPSHOT_FACT_ORACLE = "snapshot_statement_fact"


class Snapshot:
    """One full-snapshot cycle: statement diff, rollup with fingerprints,
    ``operators.snapshot.write_snapshot`` (dense dims, integrity check,
    partitioned parquet write), 1-minute buckets, activity snapshot and
    relation scan."""

    name = "snapshot"
    spans = tuple(span for span, _ in SNAPSHOT_STEPS)

    def oracles(self) -> dict:
        return {q or SNAPSHOT_FACT_ORACLE: None for _, q in SNAPSHOT_STEPS}

    def stage(self, spark: SparkSession) -> None:
        pass

    def _steps(self, spark: SparkSession, out: str, spans: dict | None) -> dict:
        from collector_spark import registry
        from collector_spark.operators.snapshot import write_snapshot

        checks = []
        for name, query in SNAPSHOT_STEPS:
            path = os.path.join(out, name)
            with Span(spark, name, spans) if spans is not None else _Untimed() as s:
                if query is None:
                    write_snapshot(spark, path)
                    checks.append((SNAPSHOT_FACT_ORACLE, "partitioned", path))
                else:
                    sink(s.build(registry.REGISTRY[query].spark_fn, spark), path)
                    checks.append((query, "parquet", path))
        return {"checks": checks}

    def cycle(self, spark: SparkSession, out: str) -> dict:
        return self._steps(spark, out, None)

    def traced(self, spark: SparkSession, out: str) -> tuple[dict, dict, dict]:
        spans: dict = {}
        extra = self._steps(spark, out, spans)
        return spans, {}, extra


# the export check: the audit's per-source rows against the manifest's
EXPORT_ORACLE = "ml_export_manifest"
EXPORT_COLUMNS = ("source", "n_docs")


@contextlib.contextmanager
def _keep_lists(dedup_keep, quality_keep):
    """Serve staged keep-lists to ``ml.export.curated_docs``, which imports
    ``dedup_keep_list`` and ``quality_keep_list`` when called."""
    from collector_spark.ml import curation, dedup

    saved = dedup.dedup_keep_list, curation.quality_keep_list
    dedup.dedup_keep_list = lambda *a, **k: dedup_keep
    curation.quality_keep_list = lambda *a, **k: quality_keep
    try:
        yield
    finally:
        dedup.dedup_keep_list, curation.quality_keep_list = saved


class Export:
    """``ml.export.export_corpus``: dedup and quality keep-lists, manifest,
    range-partitioned parquet write, read-back audit."""

    name = "export"
    spans = ("ml.dedup", "ml.curation", "ml.export")

    def oracles(self) -> dict:
        return {EXPORT_ORACLE: EXPORT_COLUMNS}

    def seed_free_key(self, input_dir: str) -> str:
        """The manifest depends on ``documents`` only up to the order of
        ``doc_id``, which the seeded remap keeps (``inputs.py``)."""
        from perfbench import inputs

        return inputs.rank_fingerprint(input_dir, "documents", "doc_id")

    def stage(self, spark: SparkSession) -> None:
        pass

    def _audit(self, audit: DataFrame) -> dict:
        from perfbench import inputs

        rows = [tuple(r[c] for c in EXPORT_COLUMNS) for r in audit.collect()]
        return {"checks": [(EXPORT_ORACLE, "summary", inputs.summary(list(EXPORT_COLUMNS), rows))]}

    def cycle(self, spark: SparkSession, out: str) -> dict:
        from collector_spark.ml.export import export_corpus

        return self._audit(export_corpus(spark, out))

    def traced(self, spark: SparkSession, out: str) -> tuple[dict, dict, dict]:
        """Each keep-list is built and checkpointed in its own span, then
        ``export_corpus`` runs on the staged keep-lists (``ml.export``)."""
        from collector_spark.ml.curation import quality_keep_list
        from collector_spark.ml.dedup import dedup_keep_list
        from collector_spark.ml.export import export_corpus

        spans: dict = {}
        with Span(spark, "ml.dedup", spans) as s:
            dk = _staged(s.build(dedup_keep_list, spark))
        with Span(spark, "ml.curation", spans) as s:
            qk = _staged(s.build(quality_keep_list, spark))
        counts = {
            "ml.dedup.keep_frac": dk.filter(F.col("keep")).count() / max(1, dk.count())
        }
        with _keep_lists(dk, qk), Span(spark, "ml.export", spans):
            extra = self._audit(export_corpus(spark, out))
        files = [
            os.path.join(d, n)
            for d, _, names in os.walk(out)
            for n in names
            if n.endswith(".parquet")
        ]
        counts["ml.export.files"] = len(files)
        counts["ml.export.written_mb"] = sum(os.path.getsize(f) for f in files) / MB
        return spans, counts, extra


WORKLOADS = {"log_batch": LogBatch, "log_stream": LogStream}
# the lifecycle a workload's traced run adds after its own: one each, so
# that the two traced runs take about as long
EXTRAS = {"log_batch": (Snapshot,), "log_stream": (Export,)}


def tick_stats(ticks: list[dict]) -> dict:
    """Median ``triggerExecution`` over the ticks that read input (the
    closing watermark tick reads none)."""
    durs = [t["trigger_s"] for t in ticks if t["input_rows"] > 0]
    return {"n": len(durs), "p50": statistics.median(durs) if durs else 0.0}
