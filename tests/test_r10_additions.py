"""Round-10 additions: line-dedup intra/cross attribution, Gopher
line-rule fixture coverage, IVF tuning curve invariants, and the
driver-window rotation pin."""

from pyspark.sql import functions as F


# ---------------------------------------------------------------------------
# E88 — corpus line-level dedup
# ---------------------------------------------------------------------------


def test_line_dedup_intra_vs_cross_attribution(prepared_spark):
    """Independent Python re-implementation of the first-owner rule over
    the same doc_lines fixture: every drop is attributed intra-doc iff the
    earliest (doc_id, line_no) owner is the same document."""
    from collector_spark.ml.dedup import line_dedup

    spark = prepared_spark
    lines = spark.table("doc_lines").select(
        "doc_id", "line_no", "line_text"
    ).collect()
    first = {}
    for r in sorted(lines, key=lambda r: (r.doc_id, r.line_no)):
        first.setdefault(r.line_text, (r.doc_id, r.line_no))
    expect = {}
    for r in lines:
        e = expect.setdefault(
            r.doc_id, {"n": 0, "kept": 0, "intra": 0, "cross": 0}
        )
        e["n"] += 1
        fdoc, fline = first[r.line_text]
        if (fdoc, fline) == (r.doc_id, r.line_no):
            e["kept"] += 1
        elif fdoc == r.doc_id:
            e["intra"] += 1
        else:
            e["cross"] += 1

    got = {r.doc_id: r for r in line_dedup(spark).collect()}
    assert set(got) == set(expect)
    for doc_id, e in expect.items():
        g = got[doc_id]
        assert (g.n_lines, g.n_kept, g.n_dropped_intra, g.n_dropped_cross) == (
            e["n"],
            e["kept"],
            e["intra"],
            e["cross"],
        ), doc_id
    # the fixture must exercise BOTH drop classes corpus-wide
    assert any(e["intra"] > 0 for e in expect.values())
    assert any(e["cross"] > 0 for e in expect.values())


# ---------------------------------------------------------------------------
# E87 — Gopher line-structure rules
# ---------------------------------------------------------------------------


def test_gopher_line_filters_exercises_every_leg(prepared_spark):
    """Each of the four line rules must have both passing and failing
    documents in the fixture (a rule nothing fails is untested), and some
    documents must survive all four."""
    from collector_spark.ml.curation import gopher_line_filters

    rows = gopher_line_filters(prepared_spark).collect()
    assert rows
    for flag in ("bullet_ok", "ellipsis_ok", "dup_line_ok", "dup_char_ok", "keep"):
        vals = {getattr(r, flag) for r in rows}
        assert vals == {True, False}, f"{flag} never varies: {vals}"


# ---------------------------------------------------------------------------
# E90 — IVF probe-tuning curve
# ---------------------------------------------------------------------------


def test_ivf_tuning_curve_invariants(prepared_spark):
    """Recall and scan cost are non-decreasing in nprobe at fixed nlist;
    probing every list (nlist=4, nprobe=4) recovers ALL truth candidates
    (recall exactly 1 — each corpus vector lives in some probed list)."""
    from collector_spark.ml.similarity import (
        IVF_TUNE_NLISTS,
        IVF_TUNE_NPROBES,
        ivf_tuning,
    )

    rows = ivf_tuning(prepared_spark).collect()
    assert len(rows) == len(IVF_TUNE_NLISTS) * len(IVF_TUNE_NPROBES)
    by_cfg = {(r.nlist, r.nprobe): r for r in rows}
    for L in IVF_TUNE_NLISTS:
        curve = [by_cfg[(L, p)] for p in sorted(IVF_TUNE_NPROBES)]
        for a, b in zip(curve, curve[1:]):
            assert a.recall <= b.recall + 1e-12
            assert a.avg_scanned <= b.avg_scanned + 1e-12
        for r in curve:
            assert 0.0 <= r.recall <= 1.0
    assert by_cfg[(4, 4)].recall == 1.0


# ---------------------------------------------------------------------------
# Driver-window rotation
# ---------------------------------------------------------------------------


def test_driver_window_is_registry_front():
    from collector_spark import registry
    from collector_spark.queries_catalog import DRIVER_WINDOW

    registry.load_all()
    assert len(DRIVER_WINDOW) == 50
    assert len(set(DRIVER_WINDOW)) == 50
    assert list(registry.REGISTRY)[:50] == DRIVER_WINDOW


# ---------------------------------------------------------------------------
# E92 — quality-aware cluster representative selection (session 2)
# ---------------------------------------------------------------------------


def test_cluster_keep_best_invariants(prepared_spark):
    """Exactly one keeper per cluster; the keeper carries the cluster's
    max quality; qrank is a 1..cluster_size permutation; and
    canonical_is_best is true exactly when the min-id canonical IS the
    quality argmax."""
    from collector_spark.ml.curation import cluster_keep_best

    df = cluster_keep_best(prepared_spark).localCheckpoint()
    per = df.groupBy("cluster_id").agg(
        F.sum(F.col("keep_best").cast("int")).alias("keepers"),
        F.count("*").alias("n"),
        F.max("cluster_size").alias("size"),
        F.min("qrank").alias("rmin"),
        F.max("qrank").alias("rmax"),
        F.count_distinct("qrank").alias("rdistinct"),
        F.max("quality_score").alias("qmax"),
        F.max(F.when(F.col("keep_best"), F.col("quality_score"))).alias("qkeep"),
        F.max(F.when(F.col("keep_best"), F.col("is_canonical"))).alias(
            "keeper_is_canon"
        ),
        F.max("canonical_is_best").alias("canon_best"),
    )
    assert df.count() > 0
    assert per.filter(F.col("keepers") != 1).count() == 0
    assert per.filter(F.col("n") != F.col("size")).count() == 0
    assert (
        per.filter(
            (F.col("rmin") != 1)
            | (F.col("rmax") != F.col("n"))
            | (F.col("rdistinct") != F.col("n"))
        ).count()
        == 0
    )
    assert per.filter(F.col("qkeep") != F.col("qmax")).count() == 0
    assert per.filter(F.col("keeper_is_canon") != F.col("canon_best")).count() == 0


# ---------------------------------------------------------------------------
# ST19 — streaming line dedup twin (session 2)
# ---------------------------------------------------------------------------


def test_stream_line_dedup_batch_equal(prepared_spark):
    """MIN over the position key is a monotone fold, so the streamed
    first-owner state must reproduce the batch window exactly — row-for-row
    against ml_line_dedup, at an arrival batching the batch form never saw."""
    from collector_spark.ml.dedup import line_dedup
    from collector_spark.streaming.doc_stream import stream_line_dedup

    batch = line_dedup(prepared_spark).collect()
    streamed = stream_line_dedup(prepared_spark, n_arrival_batches=3).collect()
    assert [tuple(r) for r in streamed] == [tuple(r) for r in batch]


# ---------------------------------------------------------------------------
# E93 — decontamination n-gram sensitivity sweep (session 2)
# ---------------------------------------------------------------------------


def test_decontaminate_sweep_monotone_and_exact(prepared_spark):
    """Contaminated-doc counts are monotone non-increasing in n (a shared
    n-gram's subwindows are shared too) — pinned on a crafted corpus where
    the decrease is STRICT: train docs overlapping the eval text on
    exactly 5, 8, and 13 consecutive words contaminate at n<=5 / n<=8 /
    n<=13 respectively."""
    from collector_spark.ml.curation import EVAL_SOURCE, decontaminate_sweep

    spark = prepared_spark
    eval_words = " ".join(f"e{i}" for i in range(20))
    docs = spark.createDataFrame(
        [
            (1, eval_words, EVAL_SOURCE),
            # shares words e0..e4 (5), padded with unique tokens
            (2, " ".join(f"e{i}" for i in range(5)) + " x1 x2 x3 x4 x5 x6 x7 x8 x9", "train"),
            # shares e0..e7 (8)
            (3, " ".join(f"e{i}" for i in range(8)) + " y1 y2 y3 y4 y5 y6", "train"),
            # shares e0..e12 (13)
            (4, " ".join(f"e{i}" for i in range(13)) + " z1", "train"),
            # no overlap
            (5, "q1 q2 q3 q4 q5 q6 q7 q8 q9 q10 q11 q12 q13 q14", "train"),
        ],
        "doc_id long, text string, source string",
    )
    rows = {r["n"]: r for r in decontaminate_sweep(spark, docs).collect()}
    assert rows[5]["n_contaminated_docs"] == 3
    assert rows[8]["n_contaminated_docs"] == 2
    assert rows[13]["n_contaminated_docs"] == 1
    assert all(rows[n]["n_train_docs"] == 4 for n in rows)
    assert rows[13]["contaminated_frac"] == 0.25


# ---------------------------------------------------------------------------
# E94 — curated-corpus parquet export (session 2)
# ---------------------------------------------------------------------------


def test_export_corpus_matches_manifest(prepared_spark, tmp_path):
    """The sink write is reconciled against the relational plan: exact
    per-source row totals, every file under the record cap, and the
    actual shard count within the range-straddle bound of the planned
    count (each of the n_parts range partitions can straddle at most one
    source boundary and add one extra file there)."""
    from collector_spark.ml.export import (
        EXPORT_MAX_RECORDS,
        export_corpus,
        export_manifest,
    )

    spark = prepared_spark
    plan = {r["source"]: r for r in export_manifest(spark).collect()}
    out = str(tmp_path / "corpus")
    audit = {r["source"]: r for r in export_corpus(spark, out).collect()}

    assert set(audit) == set(plan)
    n_parts = sum(r["n_shards"] for r in plan.values())
    for src, p in plan.items():
        a = audit[src]
        assert a["n_docs"] == p["n_docs"], src
        assert a["n_files"] >= p["n_shards"] or p["n_docs"] < EXPORT_MAX_RECORDS, src
    total_files = sum(a["n_files"] for a in audit.values())
    assert total_files <= n_parts + len(plan), (total_files, n_parts)

    # per-file cap: no parquet file exceeds EXPORT_MAX_RECORDS rows
    back = spark.read.parquet(out)
    from pyspark.sql import functions as FF

    per_file = (
        back.withColumn("_f", FF.input_file_name())
        .groupBy("_f")
        .count()
        .agg(FF.max("count"))
        .first()[0]
    )
    assert per_file <= EXPORT_MAX_RECORDS


# ---------------------------------------------------------------------------
# ST20 — streaming sequence packing (applyInPandasWithState)
# ---------------------------------------------------------------------------


def test_stream_sequence_packing_batch_equal(prepared_spark):
    """The running pack offset is a true carry-over state (the offset a
    doc receives depends on everything packed before it) — the streamed
    applyInPandasWithState form must equal the batch cumulative-window
    form row-for-row, at an arrival batching the batch form never saw."""
    from collector_spark.ml.curation import sequence_packing
    from collector_spark.streaming.doc_stream import stream_sequence_packing

    batch = sequence_packing(prepared_spark).collect()
    streamed = stream_sequence_packing(prepared_spark, n_arrival_batches=3).collect()
    assert [tuple(r) for r in streamed] == [tuple(r) for r in batch]


# ---------------------------------------------------------------------------
# E95 — video frame-level dedup (session 2)
# ---------------------------------------------------------------------------


def test_frame_dedup_attribution(prepared_spark):
    """Crafted clips pin both drop legs (the driver fixture has duplicate
    payloads only at sf0.1+): clip 10 repeats its own frame (intra), clip
    11 re-uses clip 10's frames (cross, a re-upload), clip 12 is unique.
    Frames are FRAME_BYTES-sized payload blocks."""
    from collector_spark.ml.multimodal import FRAME_BYTES, frame_dedup

    a, b = b"\x01" * FRAME_BYTES, b"\x02" * FRAME_BYTES
    c, d = b"\x03" * FRAME_BYTES, b"\x04" * FRAME_BYTES
    media = prepared_spark.createDataFrame(
        [
            (10, "video/mp4", a + b + a),  # frame 2 repeats frame 0: intra
            (11, "video/mp4", b + a),      # both frames first seen in 10: cross
            (12, "video/mp4", c + d),
            (13, "image/png", a + b),      # non-video: excluded
        ],
        "doc_id long, media_type string, payload binary",
    )
    rows = {r["doc_id"]: r for r in frame_dedup(prepared_spark, media).collect()}
    assert set(rows) == {10, 11, 12}
    assert (rows[10]["n_frames"], rows[10]["n_kept"], rows[10]["n_dup_intra"], rows[10]["n_dup_cross"]) == (3, 2, 1, 0)
    assert (rows[11]["n_frames"], rows[11]["n_kept"], rows[11]["n_dup_intra"], rows[11]["n_dup_cross"]) == (2, 0, 0, 2)
    assert (rows[12]["n_frames"], rows[12]["n_kept"]) == (2, 2)
    assert rows[11]["dup_frame_frac"] == 1.0


def test_stream_frame_dedup_batch_equal(prepared_spark):
    """ST21: the streamed MIN first-owner frame state must reproduce the
    batch window row-for-row, at an arrival batching the batch form never
    saw."""
    from collector_spark.ml.multimodal import frame_dedup
    from collector_spark.streaming.doc_stream import stream_frame_dedup

    batch = frame_dedup(prepared_spark).collect()
    streamed = stream_frame_dedup(prepared_spark, n_arrival_batches=3).collect()
    assert [tuple(r) for r in streamed] == [tuple(r) for r in batch]
