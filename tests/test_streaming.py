"""Streaming stitcher must equal the batch stitcher run-to-completion,
including when micro-batches split the source (state carried across
triggers); the S31 file-tail source must survive kill/restart, marker
loss, and rotation with no line lost or duplicated."""

from __future__ import annotations

import os
import tempfile

import pytest

from collector_spark.streaming.file_tail import FileTailSource


def test_stream_stitch_multibatch_equals_batch(prepared_spark):
    from collector_spark.logs.stitch import stitch_lines_q
    from collector_spark.streaming.log_stream import stream_stitch

    stream_rows = sorted(
        map(tuple, stream_stitch(prepared_spark, max_files_per_trigger=4).collect())
    )
    batch_rows = sorted(map(tuple, stitch_lines_q(prepared_spark).collect()))
    assert len(stream_rows) > 0
    assert stream_rows == batch_rows


# --- S31 file-tail source ---------------------------------------------------


@pytest.fixture
def tail_dirs(tmp_path):
    log_dir = tmp_path / "logs"
    staging = tmp_path / "staging"
    log_dir.mkdir()
    return str(log_dir), str(staging), str(tmp_path / "markers.json")


def _staged_content(staging: str) -> dict[str, bytes]:
    """Reassemble staged chunks per (source file, generation) in offset
    order; asserts chunk ranges are contiguous and non-overlapping."""
    from collector_spark.streaming.file_tail import _CHUNK_RE

    per_src: dict[str, list[tuple[int, int, int, str]]] = {}
    for name in sorted(os.listdir(staging)):
        m = _CHUNK_RE.match(name)
        assert m, name
        per_src.setdefault(m.group("src"), []).append(
            (int(m.group("gen")), int(m.group("start")), int(m.group("end")), name)
        )
    out = {}
    for src, chunks in per_src.items():
        chunks.sort()
        data = b""
        pos: dict[int, int] = {}
        for gen, start, end, name in chunks:
            assert start == pos.get(gen, 0), (src, name, "gap or overlap")
            pos[gen] = end
            with open(os.path.join(staging, name), "rb") as f:
                data += f.read()
        out[src] = data
    return out


def test_file_tail_restart_resume_no_loss_no_dup(tail_dirs):
    log_dir, staging, markers = tail_dirs
    lines = [f"2024-01-01 00:00:{i % 60:02d} UTC [{i}] LOG:  event {i}\n" for i in range(100)]
    path = os.path.join(log_dir, "postgresql.log")

    def append(chunk):
        with open(path, "a") as f:
            f.writelines(chunk)

    append(lines[:30])
    tailer = FileTailSource(log_dir, staging, markers)
    tailer.poll()

    append(lines[30:55])
    tailer.poll()

    # kill: drop the tailer entirely; restart from persisted markers
    del tailer
    append(lines[55:80])
    tailer2 = FileTailSource(log_dir, staging, markers)
    tailer2.poll()

    # crash harder: lose the marker file itself — recovery must rebuild
    # offsets from the staged chunk names and still not duplicate
    os.remove(markers)
    append(lines[80:])
    tailer3 = FileTailSource(log_dir, staging, markers)
    tailer3.poll()

    assert _staged_content(staging)["postgresql.log"] == "".join(lines).encode()


def test_file_tail_partial_line_stays_unconsumed(tail_dirs):
    log_dir, staging, markers = tail_dirs
    path = os.path.join(log_dir, "postgresql.log")
    with open(path, "w") as f:
        f.write("complete line\npartial without newl")
    tailer = FileTailSource(log_dir, staging, markers)
    tailer.poll()
    assert _staged_content(staging)["postgresql.log"] == b"complete line\n"
    # writer completes the line -> next poll picks up exactly the rest
    with open(path, "a") as f:
        f.write("ine\n")
    tailer.poll()
    assert (
        _staged_content(staging)["postgresql.log"]
        == b"complete line\npartial without newline\n"
    )


def test_file_tail_rotation_bumps_generation(tail_dirs):
    log_dir, staging, markers = tail_dirs
    path = os.path.join(log_dir, "postgresql.log")
    with open(path, "w") as f:
        f.write("old gen line 1\nold gen line 2\n")
    tailer = FileTailSource(log_dir, staging, markers)
    tailer.poll()
    # rotate: same name, smaller new content
    with open(path, "w") as f:
        f.write("new gen A\n")
    tailer.poll()
    content = _staged_content(staging)["postgresql.log"]
    assert content == b"old gen line 1\nold gen line 2\nnew gen A\n"
    assert tailer.markers["postgresql.log"]["gen"] == 1


def test_file_tail_feeds_spark_stream_across_restarts(tail_dirs, spark, tmp_path):
    """End-to-end: staged chunks consumed by a standard streaming text
    source with one shared checkpoint across two runs — the second run
    picks up only the newly staged chunks (no loss, no duplication)."""
    from collector_spark.streaming.file_tail import staged_lines_stream

    log_dir, staging, markers = tail_dirs
    path = os.path.join(log_dir, "postgresql.log")
    ckpt = str(tmp_path / "ckpt")
    out = str(tmp_path / "out")
    all_lines = [f"line {i}" for i in range(40)]

    def run_query():
        # parquet sink: supports checkpoint recovery (memory sink does not),
        # so the two runs model a real kill/restart of the same query
        q = (
            staged_lines_stream(spark, staging)
            .writeStream.format("parquet")
            .outputMode("append")
            .option("path", out)
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
        q.stop()
        return [r["value"] for r in spark.read.parquet(out).collect()]

    with open(path, "w") as f:
        f.writelines(line + "\n" for line in all_lines[:25])
    FileTailSource(log_dir, staging, markers).poll()
    first = run_query()
    assert sorted(first) == sorted(all_lines[:25])

    with open(path, "a") as f:
        f.writelines(line + "\n" for line in all_lines[25:])
    FileTailSource(log_dir, staging, markers).poll()
    second = run_query()
    # exactly-once across the restart: every line once, none twice
    assert sorted(second) == sorted(all_lines)


def test_stream_buckets_append_mode_emits_only_closed_windows(prepared_spark):
    """ST9 eviction, observed directly: in ``append`` output mode a window
    row reaches the sink only after the watermark passes window end +
    delay — so the append run must emit exactly the complete-mode result
    MINUS windows the final watermark never closed. The state store cannot
    retain evicted windows, which is the bounded-state contract at scale."""
    from pyspark.sql import functions as F

    from collector_spark.streaming import stat_buckets as SB
    from collector_spark.streaming.replay import run_to_completion

    spark = prepared_spark
    complete = SB.stream_stat_buckets(spark, None).collect()
    appended = run_to_completion(
        SB.windowed_counts(SB.events_stream(spark)).select(
            F.col("w.start").alias("window_start"), "key", "calls", "rows"
        ),
        "append",
    ).collect()

    ckey = {(r["window_start"], r["key"]): (r["calls"], r["rows"]) for r in complete}
    akey = {(r["window_start"], r["key"]): (r["calls"], r["rows"]) for r in appended}
    # every appended (closed) window must match the complete-mode value
    for k, v in akey.items():
        assert ckey[k] == v, k
    # the only missing windows are the ones the final watermark left open:
    # at or after (max event time - watermark delay) truncated to the window
    missing = set(ckey) - set(akey)
    assert missing, "append run should have at least one still-open window"
    max_open_start = max(ws for ws, _ in missing)
    for ws, key in missing:
        # all missing windows cluster at the stream tail
        assert (max_open_start - ws).total_seconds() <= 120, (ws, key)


def test_manifest_score_stream_kill_resume_idempotent(prepared_spark, tmp_path):
    """Exactly-once for the st_ml_curation_manifest landing sink: the
    foreachBatch scoring stream dies after draining half the arrival log
    (deterministic kill point: the newer files are hidden), restarts from
    the same checkpoint, and the landing table must hold every document
    exactly once — the restarted query processes only the new files, and a
    replayed epoch would overwrite its own deterministic directory instead
    of appending duplicates. The composed manifest from the resumed run
    must still equal the batch manifest."""
    import os

    from collector_spark.ml.curation import curation_manifest
    from collector_spark.streaming.doc_stream import (
        compose_manifest,
        start_manifest_streams,
    )
    from collector_spark.streaming.replay import stage_replay

    spark = prepared_spark
    run_dir = str(tmp_path / "manifest_run")
    src = os.path.join(run_dir, "src")
    stage_replay(spark.table("documents"), "doc_id", 6, src)

    # deterministic kill point: hide the newest half of the arrival log, so
    # leg 1's availableNow drains exactly the first 3 files and terminates
    # (equivalent to a crash after epoch 2's commit)
    hidden = str(tmp_path / "hidden")
    os.makedirs(hidden)
    parts = sorted(
        f for f in os.listdir(src)
        if f.startswith("part-") and f.endswith(".parquet")
    )
    stashed = []
    for name in parts[3:]:
        meta = os.stat(os.path.join(src, name))
        os.rename(os.path.join(src, name), os.path.join(hidden, name))
        stashed.append((name, meta.st_mtime))
    q = start_manifest_streams(spark, run_dir, which=("score",))["score"]
    q.awaitTermination()
    land = os.path.join(run_dir, "land")
    epochs_first = set(os.listdir(land))
    assert len(epochs_first) == 3, epochs_first

    # resumed leg: restore the remainder (original mtimes), same checkpoint
    # — the restarted query must process ONLY the new files
    for name, mtime in stashed:
        dst = os.path.join(src, name)
        os.rename(os.path.join(hidden, name), dst)
        os.utime(dst, (mtime, mtime))
    q2 = start_manifest_streams(spark, run_dir, which=("score",))["score"]
    q2.awaitTermination()
    assert len(set(os.listdir(land))) == 6, os.listdir(land)

    landed = spark.read.parquet(land)
    n_docs = spark.table("documents").count()
    assert landed.count() == n_docs
    assert landed.select("doc_id").distinct().count() == n_docs

    # the state streams still run clean against the same arrival log, and
    # the composed manifest equals the batch manifest
    rest = start_manifest_streams(spark, run_dir, which=("exact", "lsh"))
    for qq in rest.values():
        qq.awaitTermination()
    streamed = compose_manifest(spark, run_dir).orderBy("doc_id")
    batch = curation_manifest(spark).orderBy("doc_id")
    assert streamed.exceptAll(batch).count() == 0
    assert batch.exceptAll(streamed).count() == 0


def test_manifest_state_leg_update_sink_kill_resume(prepared_spark, tmp_path):
    """Production-sink pin for the STATE legs (r8 verdict item 5): the
    exact-dup and LSH folds run with outputMode('update') + foreachBatch
    into an epoch-keyed changelog; the exact leg is killed after draining
    half the arrival log and resumed from the same checkpoint. The
    compacted changelog (latest epoch per key) must equal the batch
    aggregate exactly, and the LSH changelog must expand to the batch
    candidate-pair set — batch-equal through a crash."""
    import os

    from pyspark.sql import functions as F

    from collector_spark.ml.dedup import minhash_candidate_pairs
    from collector_spark.streaming.doc_stream import (
        _expand_bucket_pairs,
        compact_state_updates,
        start_manifest_state_updates,
    )
    from collector_spark.streaming.replay import stage_replay

    spark = prepared_spark
    run_dir = str(tmp_path / "state_run")
    src = os.path.join(run_dir, "src")
    stage_replay(spark.table("documents"), "doc_id", 6, src)

    # kill point: hide the newest half, drain, then restore and resume
    hidden = str(tmp_path / "hidden")
    os.makedirs(hidden)
    parts = sorted(
        f for f in os.listdir(src)
        if f.startswith("part-") and f.endswith(".parquet")
    )
    stashed = []
    for name in parts[3:]:
        meta = os.stat(os.path.join(src, name))
        os.rename(os.path.join(src, name), os.path.join(hidden, name))
        stashed.append((name, meta.st_mtime))
    qs = start_manifest_state_updates(spark, run_dir)
    for q in qs.values():
        q.awaitTermination()
    for name, mtime in stashed:
        dst = os.path.join(src, name)
        os.rename(os.path.join(hidden, name), dst)
        os.utime(dst, (mtime, mtime))
    qs2 = start_manifest_state_updates(spark, run_dir)
    for q in qs2.values():
        q.awaitTermination()

    # exact leg: compacted changelog == batch aggregate
    got = {
        r["content_hash"]: (r["canonical_doc_id"], r["group_size"])
        for r in compact_state_updates(
            spark, os.path.join(run_dir, "upd_exact"), ["content_hash"]
        ).collect()
    }
    want = {
        r["content_hash"]: (r["canonical_doc_id"], r["group_size"])
        for r in spark.table("documents")
        .select(
            "doc_id",
            F.md5(
                F.trim(F.regexp_replace(F.lower(F.col("text")), r"\s+", " "))
            ).alias("content_hash"),
        )
        .groupBy("content_hash")
        .agg(
            F.min("doc_id").alias("canonical_doc_id"),
            F.count("*").cast("long").alias("group_size"),
        )
        .collect()
    }
    assert got == want

    # lsh leg: compacted changelog expands to the batch candidate pairs
    lsh_state = compact_state_updates(
        spark, os.path.join(run_dir, "upd_lsh"), ["bucket", "content_hash"]
    )
    got_pairs = sorted(
        (r["doc_a"], r["doc_b"]) for r in _expand_bucket_pairs(lsh_state).collect()
    )
    want_pairs = sorted(
        (r["doc_a"], r["doc_b"]) for r in minhash_candidate_pairs(spark).collect()
    )
    assert got_pairs == want_pairs


def test_incremental_screen_kill_resume_idempotent(prepared_spark, tmp_path):
    """r9 E68b: the incremental screening stream dies after draining half
    the incoming arrival log (kill point: newer files hidden), resumes
    from the same checkpoint, and the changelog must hold every incoming
    document exactly once with the resumed total equal to the batch
    screen's answer — replayed epochs overwrite their own batch=N
    directory instead of appending duplicates."""
    import os

    from collector_spark.ml.dedup import _inc_is_incoming, incremental_dedup
    from collector_spark.streaming.doc_stream import (
        collect_incremental_results,
        start_incremental_screen,
    )
    from collector_spark.streaming.replay import stage_replay

    spark = prepared_spark
    run_dir = str(tmp_path / "inc_run")
    src = os.path.join(run_dir, "src")
    stage_replay(spark.table("documents").filter(_inc_is_incoming()), "doc_id", 4, src)

    hidden = str(tmp_path / "hidden")
    os.makedirs(hidden)
    parts = sorted(
        f for f in os.listdir(src)
        if f.startswith("part-") and f.endswith(".parquet")
    )
    stashed = []
    for name in parts[2:]:
        meta = os.stat(os.path.join(src, name))
        os.rename(os.path.join(src, name), os.path.join(hidden, name))
        stashed.append((name, meta.st_mtime))

    q = start_incremental_screen(spark, run_dir)
    q.awaitTermination()
    out_dir = os.path.join(run_dir, "out")
    first_epochs = set(os.listdir(out_dir))
    assert len(first_epochs) == 2, first_epochs

    for name, mtime in stashed:
        dst = os.path.join(src, name)
        os.rename(os.path.join(hidden, name), dst)
        os.utime(dst, (mtime, mtime))
    q2 = start_incremental_screen(spark, run_dir)
    q2.awaitTermination()
    assert len(set(os.listdir(out_dir))) == 4, os.listdir(out_dir)

    streamed = collect_incremental_results(spark, run_dir)
    batch = incremental_dedup(spark)
    assert streamed.count() == batch.count()
    assert streamed.select("doc_id").distinct().count() == batch.count()
    assert streamed.exceptAll(batch).count() == 0
    assert batch.exceptAll(streamed).count() == 0


def test_harness_restores_partitions_and_removes_run_dirs(
    prepared_spark, tmp_path, monkeypatch
):
    """The streaming harness (collector_spark/streaming/replay.py) scopes
    the state width to one query start and leaves nothing behind: the
    session's ``spark.sql.shuffle.partitions`` is unchanged after a run
    and after a query that fails at ``start()``, and the run's checkpoint
    and staged source dirs are gone once the result is returned."""
    from pyspark.errors import AnalysisException

    from collector_spark.streaming.doc_stream import stream_exact_dedup
    from collector_spark.streaming.replay import run_to_completion
    from collector_spark.streaming.stat_buckets import stream_stat_buckets

    spark = prepared_spark
    scratch = tmp_path / "tmp"
    scratch.mkdir()
    monkeypatch.setattr(tempfile, "tempdir", str(scratch))
    key = "spark.sql.shuffle.partitions"
    prev = spark.conf.get(key)
    spark.conf.set(key, "13")
    try:
        assert stream_stat_buckets(spark).count() > 0
        assert stream_exact_dedup(spark, 3).count() > 0
        assert spark.conf.get(key) == "13"
        assert os.listdir(scratch) == []

        # append mode over an unwatermarked aggregation fails at start()
        bad = spark.readStream.format("rate").load().groupBy("value").count()
        with pytest.raises(AnalysisException):
            run_to_completion(bad, "append")
        assert spark.conf.get(key) == "13"
        assert os.listdir(scratch) == []
    finally:
        spark.conf.set(key, prev)
    assert not spark.streams.active


def test_stage_replay_mtimes_follow_key_order(spark, tmp_path):
    """The file source replays oldest-modification-first, so the staged
    files' mtimes must rise strictly in key order (fall with reverse)."""
    import pyarrow.parquet as pq

    from collector_spark.streaming.replay import stage_replay

    df = spark.range(200).selectExpr("(id * 7919) % 200 AS k", "id")
    for reverse in (False, True):
        path = stage_replay(df, "k", 4, str(tmp_path / f"rev{reverse}"), reverse)
        files = [f for f in os.listdir(path) if f.endswith(".parquet")]
        assert len(files) == 4
        by_mtime = sorted(files, key=lambda f: os.path.getmtime(os.path.join(path, f)))
        mtimes = [os.path.getmtime(os.path.join(path, f)) for f in by_mtime]
        assert all(a < b for a, b in zip(mtimes, mtimes[1:])), mtimes
        keys = [pq.read_table(os.path.join(path, f)).column("k").to_pylist() for f in by_mtime]
        for ks in keys:
            assert ks == sorted(ks)  # sorted within each arrival batch
        order = list(reversed(keys)) if reverse else keys
        assert all(a[-1] < b[0] for a, b in zip(order, order[1:])), order


def test_stream_staging_and_state_width_live_only_in_the_harness():
    """One harness: under collector_spark/, only streaming/replay.py sets
    ``spark.sql.shuffle.partitions`` at runtime or staggers file mtimes
    (the SparkSession default that session.py configures is not a runtime
    set)."""
    import re

    root = os.path.join(os.path.dirname(os.path.dirname(__file__)), "collector_spark")
    harness = os.path.join(root, "streaming", "replay.py")
    sets_width = re.compile(
        r"""(?:\.set\(|\bSET\s)\s*['"]?spark\.sql\.shuffle\.partitions"""
    )
    utime = re.compile(r"\butime\(")
    offenders = []
    for dirpath, _, names in os.walk(root):
        for name in names:
            path = os.path.join(dirpath, name)
            if not name.endswith(".py") or path == harness:
                continue
            with open(path, encoding="utf-8") as f:
                src = f.read()
            if sets_width.search(src) or utime.search(src):
                offenders.append(os.path.relpath(path, root))
    assert not offenders, offenders
