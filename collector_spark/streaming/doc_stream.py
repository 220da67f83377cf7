"""Streaming incremental corpus dedup — the training-data ingest shape.

A production pipeline deduplicates documents AS THEY ARRIVE: each batch of
crawled/ingested docs folds into a running per-content-hash state instead
of re-running a full-corpus groupBy. This is the streaming twin of the E1
exact-dedup operator (ml/dedup.py exact_dup_groups): same md5 content hash
over whitespace-normalized lowered text, same canonical = min(doc_id)
semantics — expressed as a Structured Streaming stateful aggregation, so
the final state equals the batch answer regardless of arrival batching
(min/count are order-insensitive monotone folds; that equivalence is what
the DuckDB oracle checks).

Scale notes: state is O(distinct hashes) in the state store, keyed and
shuffled once per microbatch on the 16-byte hash; at 100 TB the same query
runs with RocksDB state store + watermark-based state TTL if the dedup
horizon is bounded (dropDuplicatesWithinWatermark is the bounded-horizon
variant). Every stream here runs through the streaming harness
(streaming/replay.py): the input is staged with ``stage_replay`` as an
arrival log in doc_id order, read one arrival batch per micro-batch, and
run with ``run_to_completion``; the kill/resume starters scope their state
width with ``state_partitions``. Production uses
trigger(processingTime=...) with an update-mode sink feeding the
keep/drop decision table.
"""

from __future__ import annotations

import os
import shutil
import tempfile

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from collector_spark.ml.dedup import (
    LSH_BUCKET_CAP,
    _bucket_pairs,
    _n_tokens,
    _norm_hash,
    _tokens,
)
from collector_spark.streaming.replay import (
    run_to_completion,
    stage_replay,
    state_partitions,
)

DOC_SCHEMA = "doc_id long, text string, lang string, source string, n_chars long"


def _doc_reader(spark: SparkSession, src_dir: str) -> DataFrame:
    """A staged arrival log as a stream, one arrival batch per micro-batch."""
    return (
        spark.readStream.schema(DOC_SCHEMA)
        .option("maxFilesPerTrigger", 1)
        .parquet(src_dir)
    )


def _doc_fold(
    spark: SparkSession,
    n_arrival_batches: int,
    fold,
    output_mode: str = "complete",
    docs: DataFrame | None = None,
) -> DataFrame:
    """Run ``fold(raw)`` to completion over the documents table (or a
    caller-filtered subset) replayed as ``n_arrival_batches`` arrival
    batches in doc_id order (a crawler's append log); returns the sink
    table."""
    with tempfile.TemporaryDirectory(prefix="collector_spark_docs_") as src:
        stage_replay(
            spark.table("documents") if docs is None else docs,
            "doc_id",
            n_arrival_batches,
            src,
        )
        return run_to_completion(fold(_doc_reader(spark, src)), output_mode)


def _exact_fold(raw: DataFrame) -> DataFrame:
    """The exact-dedup state: content hash -> canonical (min) doc_id and
    group size."""
    return (
        raw.select("doc_id", _norm_hash().alias("content_hash"))
        .groupBy("content_hash")
        .agg(
            F.min("doc_id").alias("canonical_doc_id"),
            F.count("*").cast("long").alias("group_size"),
        )
    )


def _lsh_fold(raw: DataFrame) -> DataFrame:
    """The LSH bucket state: (band bucket, content hash) -> min doc_id."""
    buckets = raw.select(
        "doc_id",
        _norm_hash().alias("content_hash"),
        F.explode(_row_signature_cols()).alias("bucket"),
    )
    return buckets.groupBy("bucket", "content_hash").agg(
        F.min("doc_id").alias("min_doc")
    )


# the two state legs of the curation manifest (ST13 below)
_STATE_FOLDS = {"exact": _exact_fold, "lsh": _lsh_fold}


def stream_exact_dedup(spark: SparkSession, n_arrival_batches: int = 8) -> DataFrame:
    """Run the streaming dedup aggregation to completion over the documents
    table delivered as ``n_arrival_batches`` arrival-ordered files, and
    return the final per-hash state (content_hash, canonical_doc_id,
    group_size) — batch-equal by construction."""
    return _doc_fold(spark, n_arrival_batches, _exact_fold).orderBy(
        "canonical_doc_id"
    )


def oracle_stream_exact_dedup() -> str:
    return """
SELECT md5(trim(regexp_replace(lower(text), '\\s+', ' ', 'g'))) AS content_hash,
       MIN(doc_id) AS canonical_doc_id,
       CAST(COUNT(*) AS BIGINT) AS group_size
FROM documents
GROUP BY 1
ORDER BY canonical_doc_id
"""


def _row_signature_cols():
    """Per-ROW minhash signature + band keys as pure expressions — the
    streaming-safe form of ml/dedup.py's explode+groupBy signature build
    (identical values: same shingles, same distinct, same permutations).
    Stateless per document, so signatures stream without an aggregation."""
    from collector_spark.ml.dedup import A, B, BANDS, K, P31, SHINGLE

    words = F.split(F.lower(F.col("text")), " ")
    n = F.size(words)
    idx = F.sequence(F.lit(0), F.greatest(n - SHINGLE, F.lit(0)))
    shingles = F.array_distinct(
        F.transform(idx, lambda i: F.array_join(F.slice(words, i + 1, SHINGLE), " "))
    )
    hs = F.transform(
        shingles,
        lambda s: F.conv(F.substring(F.md5(s), 1, 15), 16, 10).cast("long") % P31,
    )
    sig = [
        F.array_min(F.transform(hs, lambda h: (h * A[i] + B[i]) % P31))
        for i in range(K)
    ]
    rows = K // BANDS
    keys = [
        F.md5(
            F.concat_ws(
                ",",
                F.lit(str(b)),
                *[sig[b * rows + r].cast("string") for r in range(rows)],
            )
        )
        for b in range(BANDS)
    ]
    return F.array(*keys)


def stream_minhash_candidates(
    spark: SparkSession, n_arrival_batches: int = 8
) -> DataFrame:
    """Streaming LSH candidate discovery — the near-dup twin of
    stream_exact_dedup: documents arrive in batches, each row's minhash
    signature and band keys compute STATELESS (per-row expressions), and
    the running membership folds in a streaming min keyed by (band bucket,
    content hash) — ONE state row per bucket per distinct content, so an
    exact-duplicate flood adds ZERO state growth (the min-doc_id fold is
    an order-insensitive monotone the replayed batches can't corrupt).
    The final state expands to candidate pairs after filtering each
    content's rows to its global canonical (min doc over all its buckets
    = the exact-dedup canonical, since every doc lands in all its own
    band buckets) and applying the LSH_BUCKET_CAP bound — exactly the
    batch operator's canonical-first capped semantics, so availableNow
    equals ml_minhash_candidate_pairs' oracle regardless of batching.

    Scale: state is O(buckets x distinct contents), bounded per bucket by
    the cap at expansion; bucket size is the same skew knob as the batch
    path. Production bounds state age with a watermark TTL on the bucket
    key when the dedup horizon is bounded.
    """
    final = _doc_fold(spark, n_arrival_batches, _lsh_fold)
    return _expand_bucket_pairs(final).orderBy("doc_a", "doc_b")


def stream_dsir_weights(spark: SparkSession, n_arrival_batches: int = 8) -> DataFrame:
    """Streaming DSIR scoring — the stream-STATIC-join ingest shape: the
    bucket ratio table is trained in batch (a bounded B-row relation,
    broadcast), and arriving documents are scored against it as they land.
    This is how importance weighting actually deploys: distributions train
    on yesterday's corpus; today's crawl is scored on ingest. The per-doc
    aggregation is a streaming groupBy over stateless row-local
    projections, so trigger(availableNow) over any arrival batching equals
    the batch ml_dsir_weights answer row-for-row (same oracle) — with the
    one documented difference that the batch operator's ratio also counts
    the scored doc itself; here BOTH sides read the same fixture corpus,
    preserving that identity exactly.

    Scale: state is O(documents in flight) for the per-doc sums; the
    static side re-plans per microbatch but is B rows. Production swaps
    the memory sink for an update-mode table feeding the sampler.
    """
    from collector_spark.ml.curation import (
        _dsir_bigram_buckets,
        _dsir_ratio_table,
        dsir_from_ratio,
    )

    # STATIC side: ratio table trained in batch over the full corpus
    ratio = _dsir_ratio_table(
        _dsir_bigram_buckets(spark.table("documents"))
    )

    def scored(raw: DataFrame) -> DataFrame:
        # stream-static join inside the shared stage
        return dsir_from_ratio(_dsir_bigram_buckets(raw), ratio)

    return _doc_fold(spark, n_arrival_batches, scored).orderBy("doc_id")


EMB_SCHEMA = "vec_id long, embedding array<float>, label int"


def stream_embedding_join(spark: SparkSession, n_arrival_batches: int = 4) -> DataFrame:
    """Late-arriving embedding attach — the stream-STREAM join ingest
    shape: documents and their embeddings arrive on SEPARATE streams (a
    crawler and an embedding service rarely land in lockstep), and the
    join buffers whichever side arrives first until its partner shows up.
    Both sides carry a deterministic event time derived from their id and
    a watermark, plus an event-time equality in the join condition, so the
    state store provably evicts matched-and-expired rows — the bounded
    form Spark requires for production stream-stream joins. The two
    sources are staggered in OPPOSITE id order, so early-batch documents
    meet their embeddings only several micro-batches later and the
    cross-batch buffering path actually executes; under availableNow the
    result equals the batch inner join on doc_id = vec_id (append mode —
    inner-join rows are final once emitted).

    Scale: state is O(unmatched rows inside the watermark horizon) per
    side, keyed and shuffled once on the join id; widen the watermark to
    tolerate a slower embedding service at the cost of state size.
    """
    event_ts = lambda idcol: F.timestamp_seconds(  # noqa: E731
        F.lit(1700000000) + F.col(idcol) % 3600
    )
    with tempfile.TemporaryDirectory(prefix="collector_spark_docs_") as run:
        # docs arrive id-ascending, embeddings id-DESCENDING: the first doc
        # batch waits until the LAST embedding batch for its partners
        doc_dir = stage_replay(
            spark.table("documents"),
            "doc_id",
            n_arrival_batches,
            os.path.join(run, "docs"),
        )
        emb_dir = stage_replay(
            spark.table("embeddings"),
            "vec_id",
            n_arrival_batches,
            os.path.join(run, "embs"),
            reverse=True,
        )
        docs = (
            _doc_reader(spark, doc_dir)
            .select("doc_id", "source", "lang", event_ts("doc_id").alias("doc_ts"))
            .withWatermark("doc_ts", "2 hours")
        )
        embs = (
            spark.readStream.schema(EMB_SCHEMA)
            .option("maxFilesPerTrigger", 1)
            .parquet(emb_dir)
            .select(
                "vec_id",
                "label",
                F.size("embedding").alias("emb_dim"),
                event_ts("vec_id").alias("emb_ts"),
            )
            .withWatermark("emb_ts", "2 hours")
        )
        joined = docs.join(
            embs,
            (F.col("doc_id") == F.col("vec_id")) & (F.col("doc_ts") == F.col("emb_ts")),
            "inner",
        ).select("doc_id", "source", "lang", "label", "emb_dim")
        return run_to_completion(joined).orderBy("doc_id")


def oracle_stream_embedding_join() -> str:
    return """
SELECT d.doc_id, d.source, d.lang, e.label,
  CAST(len(e.embedding) AS INT) AS emb_dim
FROM documents d JOIN embeddings e ON e.vec_id = d.doc_id
ORDER BY d.doc_id
"""


# ---------------------------------------------------------------------------
# ST13 — incremental curation manifest: the multi-input stateful
# composition a streaming ingest pipeline actually deploys. Three
# concurrent streaming queries consume ONE arrival log:
#
#   1. exact-dup state   (stateful complete-mode agg: content_hash ->
#                         min doc_id / group size — st_ml_stream_dedup's
#                         fold, consumed here as a state input),
#   2. LSH bucket state  (stateful complete-mode agg: (band bucket,
#                         content hash) -> min doc_id — st_ml_stream_lsh's
#                         exact-dup-safe fold; one state row per bucket
#                         per distinct content),
#   3. per-doc scoring   (foreachBatch: each micro-batch of arriving docs
#                         is scored THROUGH THE BATCH OPERATORS — quality
#                         ladder, static-eval-set decontamination,
#                         content-keyed split — and appended to an
#                         epoch-keyed parquet landing table; the epoch
#                         directory is overwritten deterministically, so
#                         a replayed batch after restart lands idempotent
#                         = the exactly-once sink contract).
#
# A batch COMPACTION then folds the final states through the *same*
# composition operators the batch manifest uses (dedup ladder, disposition
# ladder) via their injectable inputs — so trigger(availableNow) over any
# arrival batching equals ml_curation_manifest row-for-row and the SAME
# DuckDB oracle verifies both. The two inherently corpus-global dedup
# stages (pair verify + connected components, span dedup) run in the
# compaction — exactly where a production incremental pipeline runs them
# (a periodic job over the accumulated state, not per-arriving-doc).
#
# Scale: streaming state is O(distinct hashes) + O(bucket members); the
# landing table appends one row per doc; compaction cost is the batch
# dedup composition it already pins. Production swaps the memory sinks
# for update-mode tables and runs compaction on a schedule.
# ---------------------------------------------------------------------------


def _expand_bucket_pairs(state: DataFrame) -> DataFrame:
    """Final LSH bucket state (bucket, content_hash, min_doc) -> distinct
    candidate pairs with the batch operator's canonical-first + capped
    semantics: a content's rows are kept only where min_doc equals its
    GLOBAL canonical (min over every bucket the content appears in — every
    doc lands in all of its own band buckets, so this is the exact-dedup
    min-doc_id canonical), then the batch path's capped bucket expansion
    (ml/dedup.py's _bucket_pairs) pairs the surviving members."""
    from pyspark.sql import Window

    w = Window.partitionBy("content_hash")
    members = state.withColumn("canon", F.min("min_doc").over(w)).filter(
        F.col("min_doc") == F.col("canon")
    )
    return _bucket_pairs(members, "bucket", "min_doc", LSH_BUCKET_CAP).distinct()


def _score_batch_fn(land_dir: str, eval_grams: DataFrame | None = None):
    """foreachBatch body for the per-doc scoring stream: run the arriving
    micro-batch through the batch quality/decontamination/split operators
    (their ``docs`` parameter exists for exactly this) and overwrite the
    batch's OWN epoch directory — deterministic output per epoch, so a
    restart that replays the epoch is a no-op (idempotent sink).

    ``eval_grams``: the precomputed (checkpointed) eval n-gram set —
    computed ONCE before the stream starts; without it every trigger
    would re-derive the eval explode+distinct from the full documents
    table (wasted recomputation that grows with the eval split)."""

    def _score(mb: DataFrame, batch_id: int) -> None:
        from collector_spark.ml.curation import (
            decontaminate,
            quality_keep_list,
            split_assign,
        )

        sess = mb.sparkSession
        base = mb.select(
            "doc_id", "source", "lang", _norm_hash().alias("content_hash")
        )
        qk = quality_keep_list(sess, docs=mb).select(
            "doc_id",
            F.col("keep").alias("quality_keep"),
            F.col("drop_reason").alias("quality_reason"),
        )
        ct = decontaminate(sess, docs=mb, eval_grams=eval_grams).select(
            "doc_id", "contaminated"
        )
        sp = split_assign(sess, docs=mb).select("doc_id", "split")
        out = (
            base.join(qk, "doc_id", "left")
            .join(ct, "doc_id", "left")
            .join(sp, "doc_id", "left")
        )
        out.write.mode("overwrite").parquet(
            os.path.join(land_dir, f"epoch={batch_id}")
        )

    return _score


def start_manifest_streams(
    spark: SparkSession, run_dir: str, which: tuple[str, ...] = ("exact", "lsh", "score")
):
    """Start the three manifest streams against run_dir's arrival log and
    return {name: StreamingQuery}. Exposed separately so the resume test
    can stop/restart an individual stream against the same checkpoints."""
    queries = {}
    for leg in which:
        raw = _doc_reader(spark, os.path.join(run_dir, "src"))
        if leg == "score":
            from collector_spark.ml.curation import eval_gram_set

            # materialized ONCE per stream start: every micro-batch screens
            # against this checkpointed set instead of re-deriving the eval
            # explode+distinct per trigger
            eval_grams = eval_gram_set(spark).localCheckpoint()
            sink = raw.writeStream.foreachBatch(
                _score_batch_fn(os.path.join(run_dir, "land"), eval_grams)
            )
        else:
            sink = (
                _STATE_FOLDS[leg](raw)
                .writeStream.format("memory")
                .queryName(f"manifest_{leg}")
                .outputMode("complete")
            )
        queries[leg] = (
            sink.option("checkpointLocation", os.path.join(run_dir, f"ckpt_{leg}"))
            .trigger(availableNow=True)
            .start()
        )
    return queries


def _state_update_fn(dirpath: str):
    """foreachBatch body for an update-mode state leg: land each trigger's
    UPDATED state rows in that epoch's own directory (deterministic
    overwrite — a replayed epoch after restart rewrites itself instead of
    appending duplicates, the same exactly-once contract the score leg
    pins)."""

    def _upd(mb: DataFrame, batch_id: int) -> None:
        mb.write.mode("overwrite").parquet(
            os.path.join(dirpath, f"epoch={batch_id}")
        )

    return _upd


def start_manifest_state_updates(
    spark: SparkSession, run_dir: str, which: tuple[str, ...] = ("exact", "lsh")
):
    """PRODUCTION-sink variant of the two stateful manifest legs: the same
    folds as start_manifest_streams, but outputMode('update') + foreachBatch
    landing each trigger's changed state rows in an epoch-keyed changelog —
    the object-store-native spelling of an update-mode table (upsert log +
    compaction view, see compact_state_updates), swapped in for the
    memory-sink oracle harness. Checkpoints are separate from the memory
    legs', so both harnesses can run against one arrival log."""
    return {
        leg: _STATE_FOLDS[leg](_doc_reader(spark, os.path.join(run_dir, "src")))
        .writeStream.outputMode("update")
        .foreachBatch(_state_update_fn(os.path.join(run_dir, f"upd_{leg}")))
        .option("checkpointLocation", os.path.join(run_dir, f"ckpt_upd_{leg}"))
        .trigger(availableNow=True)
        .start()
        for leg in which
    }


def compact_state_updates(
    spark: SparkSession, dirpath: str, key_cols: list[str]
) -> DataFrame:
    """Compaction view over an update-mode changelog: the CURRENT state is
    each key's row from its highest epoch (update mode re-emits a key's
    full aggregated row whenever it changes, so latest-wins is exact). One
    window over the key — at scale the changelog is also periodically
    rewritten to a compacted base table by exactly this query."""
    from pyspark.sql import Window

    df = spark.read.option("basePath", dirpath).parquet(dirpath)
    w = Window.partitionBy(*key_cols).orderBy(F.col("epoch").desc())
    return (
        df.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") == 1)
        .drop("_rn", "epoch")
    )


def compose_manifest(spark: SparkSession, run_dir: str) -> DataFrame:
    """Compaction: fold the final streaming states through the batch
    composition operators (via their injectable inputs) into the manifest.
    Eagerly localCheckpoints the landing table so run_dir can be removed
    before the caller consumes the result."""
    from collector_spark.ml.curation import curation_manifest
    from collector_spark.ml.dedup import dedup_keep_list, dup_clusters

    landed = (
        spark.read.parquet(os.path.join(run_dir, "land"))
        .drop("epoch")
        .localCheckpoint()
    )
    exact_state = spark.table("manifest_exact")
    exact = (
        landed.select("doc_id", "content_hash")
        .join(exact_state, "content_hash")
        .select(
            "doc_id", (F.col("doc_id") == F.col("canonical_doc_id")).alias("keep")
        )
        .localCheckpoint()
    )
    cand = _expand_bucket_pairs(spark.table("manifest_lsh")).localCheckpoint()
    near = dup_clusters(spark, cand=cand)
    d = dedup_keep_list(spark, exact=exact, near=near)
    q = landed.select(
        "doc_id",
        F.col("quality_keep").alias("keep"),
        F.col("quality_reason").alias("drop_reason"),
    )
    c = landed.select("doc_id", "contaminated")
    s = landed.select("doc_id", "split")
    return curation_manifest(spark, dedup=d, quality=q, contam=c, splits=s)


def stream_curation_manifest(
    spark: SparkSession, n_arrival_batches: int = 6
) -> DataFrame:
    run_dir = tempfile.mkdtemp(prefix="collector_spark_manifest_")
    try:
        stage_replay(
            spark.table("documents"),
            "doc_id",
            n_arrival_batches,
            os.path.join(run_dir, "src"),
        )
        with state_partitions(spark):
            queries = start_manifest_streams(spark, run_dir)
        try:
            for q in queries.values():
                q.awaitTermination()
        finally:
            for q in queries.values():
                q.stop()
        return compose_manifest(spark, run_dir)
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)


def start_incremental_screen(spark: SparkSession, run_dir: str):
    """Start (or resume, from the checkpoint under run_dir) the screening
    stream over run_dir/src, writing decisions to run_dir/out as an
    idempotent per-batch changelog (each epoch overwrites its own
    deterministic batch=N directory — a replayed epoch rewrites instead of
    duplicating, which is what makes kill/resume exactly-once)."""
    from collector_spark.ml.dedup import _inc_is_incoming, incremental_dedup
    from collector_spark.registry import drop_trailing_sort

    out_dir = os.path.join(run_dir, "out")
    os.makedirs(out_dir, exist_ok=True)

    # pin the static corpus once — the foreachBatch kernel must not chase
    # live lineage back through the source per trigger
    existing = (
        spark.table("documents").filter(~_inc_is_incoming()).localCheckpoint()
    )
    cols = existing.columns

    def screen_batch(batch_df: DataFrame, batch_id: int) -> None:
        if batch_df.isEmpty():
            return
        res = drop_trailing_sort(
            incremental_dedup(
                spark, existing.unionByName(batch_df.select(*cols))
            )
        )
        res.write.mode("overwrite").parquet(
            os.path.join(out_dir, f"batch={batch_id}")
        )

    with state_partitions(spark):
        return (
            _doc_reader(spark, os.path.join(run_dir, "src"))
            .writeStream.foreachBatch(screen_batch)
            .option("checkpointLocation", os.path.join(run_dir, "ckpt"))
            .trigger(availableNow=True)
            .start()
        )


def collect_incremental_results(spark: SparkSession, run_dir: str) -> DataFrame:
    return spark.read.parquet(os.path.join(run_dir, "out", "batch=*")).select(
        "doc_id", "keep", "drop_reason", "matched_doc_id", "best_jaccard"
    )


def stream_incremental_dedup(
    spark: SparkSession, n_arrival_batches: int = 4
) -> DataFrame:
    """Streaming incremental cross-batch dedup — the ingest deployment of
    ml/dedup.py's E68 screen: the EXISTING corpus is a pinned static side;
    each arriving micro-batch of new documents runs the batch screen
    kernel against it inside foreachBatch and appends its decisions to an
    idempotent per-batch changelog (overwrite keyed by batch_id, so a
    replayed epoch rewrites rather than duplicates — kill/resume
    exactly-once is test-pinned in tests/test_streaming.py). Every
    decision is content-determined (exact hash hit / canonical-first LSH
    + Jaccard vs a FIXED corpus), so the union over micro-batches equals
    the one-shot batch answer for ANY arrival batching — the same DuckDB
    oracle checks both.

    Scale notes: the static relations (content-hash dimension, canonical
    shingles, capped band buckets) are re-derived per micro-batch here
    because the harness corpus is small; production pins them once as
    bucketed tables (the eval-grams checkpoint in _score_batch_fn is the
    same discipline) and refreshes them on corpus compaction. Steady-state
    per-trigger cost is O(batch), never O(corpus). Divergence from a
    LIVE state fold: this screen does not admit kept incoming docs into
    the reference corpus mid-stream — that accumulation is exactly what
    st_ml_stream_dedup / st_ml_stream_lsh demonstrate; composing the two
    is a state-compaction policy choice, not a new operator.
    """
    from collector_spark.ml.dedup import _inc_is_incoming

    run_dir = tempfile.mkdtemp(prefix="collector_spark_incdedup_")
    try:
        stage_replay(
            spark.table("documents").filter(_inc_is_incoming()),
            "doc_id",
            n_arrival_batches,
            os.path.join(run_dir, "src"),
        )
        query = start_incremental_screen(spark, run_dir)
        try:
            query.awaitTermination()
        finally:
            query.stop()
        out = collect_incremental_results(spark, run_dir).localCheckpoint()
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)
    return out.orderBy("doc_id")


# ---------------------------------------------------------------------------
# ST15 / E73b — streaming corpus-health monitor: the per-(source, word)
# count state folds incrementally over arriving document batches (counts
# are additive — the canonical streaming aggregation), and the Zipf fit
# reads the final state through the IDENTICAL rank/regression stage as the
# batch operator (curation.zipf_fit_from_counts). Batch-equal by
# construction, so it shares ml_zipf_fit's oracle. Production shape: the
# count state lives in the state store (RocksDB at vocab scale), the fit
# re-evaluates per trigger off the update stream — a live per-source
# corpus-health dashboard during a crawl ingest.
# ---------------------------------------------------------------------------


def stream_zipf_fit(spark: SparkSession, n_arrival_batches: int = 6) -> DataFrame:
    from collector_spark.ml.curation import _source_word_counts, zipf_fit_from_counts

    return zipf_fit_from_counts(
        _doc_fold(spark, n_arrival_batches, _source_word_counts)
    )


# ---------------------------------------------------------------------------
# ST16 / E77b — streaming Bloom filter: the bitset state folds
# incrementally as existing-corpus documents arrive (bit_or is a monotone
# fold — bits only turn on, so ANY arrival batching yields the identical
# filter), then the arrival batch is screened against the final state
# through the same probe/truth stages as the batch operator. Shares E77's
# oracle. Production shape: the (w_idx, bits) state lives in the state
# store and the probe side reads it as a stream-static join per trigger.
# ---------------------------------------------------------------------------


def stream_bloom_screen(spark: SparkSession, n_arrival_batches: int = 6) -> DataFrame:
    from collector_spark.ml.dedup import (
        _bloom_positions,
        _bloom_mask,
        _inc_is_incoming,
        BLOOM_WORD,
        bloom_screen_from_bits,
    )

    def bits(raw: DataFrame) -> DataFrame:
        return (
            raw.select(F.explode(_bloom_positions()).alias("pos"))
            .select(
                F.floor(F.col("pos") / BLOOM_WORD).alias("w_idx"),
                _bloom_mask().alias("m"),
            )
            .groupBy("w_idx")
            .agg(F.bit_or("m").alias("bits"))
        )

    docs = spark.table("documents")
    return bloom_screen_from_bits(
        _doc_fold(
            spark, n_arrival_batches, bits, docs=docs.filter(~_inc_is_incoming())
        ),
        docs.filter(~_inc_is_incoming()),
        docs.filter(_inc_is_incoming()),
    )


# ---------------------------------------------------------------------------
# ST17 / E79b-E80b — streaming sketches: the HLL registers (max rho per
# bucket — monotone) and the CMS counters (counts — additive) fold
# incrementally over arriving documents, so both final states equal the
# batch sketch under ANY arrival batching; the estimate/report stages
# read the final state through the batch operators' own math and check
# against the SAME oracles. Production shape: both states live in the
# state store and the dashboards re-evaluate per trigger — live
# distinct-gram cardinality and heavy-hitter tracking during a crawl.
# ---------------------------------------------------------------------------


def _fixture_over(raw: DataFrame, sql: str) -> DataFrame:
    """A documents-derived fixture rendered on the STREAM with its exact
    fixture SQL (the derivation is the input contract — re-expressing it in
    DataFrame ops here would let the two drift); only the source relation
    is swapped."""
    assert sql.count("FROM documents") == 1, "fixture SQL shape changed"
    raw.createOrReplaceTempView("docstream_src")
    return raw.sparkSession.sql(sql.replace("FROM documents", "FROM docstream_src"))


def stream_hll_distinct(spark: SparkSession, n_arrival_batches: int = 6) -> DataFrame:
    from collector_spark.ml.dedup import (
        HLL_B,
        HLL_HASH_BITS,
        HLL_M,
        HLL_RHO_CAP,
        _shingle_hashes,
        hll_distinct,
    )
    from collector_spark.ml import dedup as _dedup

    bucket = (F.col("h") % HLL_M).cast("long")
    w = F.floor(F.col("h") / HLL_M).cast("long")
    rho = (
        F.when(
            F.col("w") > 0,
            F.lit(HLL_HASH_BITS - HLL_B)
            - F.floor(F.log2(F.col("w").cast("double"))),
        )
        .otherwise(F.lit(HLL_RHO_CAP))
        .cast("long")
    )

    def regs(raw: DataFrame) -> DataFrame:
        return (
            _shingle_hashes(raw)
            .select(bucket.alias("bucket"), w.alias("w"))
            .select("bucket", rho.alias("rho"))
            .groupBy("bucket")
            .agg(F.max("rho").alias("reg"))
        )

    # estimate off the streamed registers through the batch math; the
    # exact-count audit column recomputes batch-side (it is the audit, not
    # the sketch)
    return _dedup.hll_from_regs(spark, _doc_fold(spark, n_arrival_batches, regs))


def stream_cms_heavy_hitters(
    spark: SparkSession, n_arrival_batches: int = 6
) -> DataFrame:
    from collector_spark.ml.dedup import CMS_D, CMS_W, _hash60
    from collector_spark.ml import dedup as _dedup

    positions = F.array(
        *[
            F.struct(
                F.lit(d).alias("d"),
                (_hash60(F.concat(F.lit(f"cms{d}:"), F.col("w"))) % CMS_W).alias("col"),
            )
            for d in range(CMS_D)
        ]
    )

    def sketch(raw: DataFrame) -> DataFrame:
        words = raw.select(F.explode(_tokens()).alias("w"))
        pos = words.select(F.explode(positions).alias("p")).select("p.d", "p.col")
        return pos.groupBy("d", "col").agg(F.count("*").cast("long").alias("cnt"))

    return _dedup.cms_report_from_sketch(
        spark, _doc_fold(spark, n_arrival_batches, sketch)
    )


# ---------------------------------------------------------------------------
# ST18 / E78b — streaming novelty curve: the per-gram first-owner batch is
# a MIN fold (monotone), so the streamed (gram -> first_batch) state
# equals the batch attribution under any arrival batching; per-batch
# distinct-gram counts are additive. The curve reads both final states
# through the batch operator's own aggregation; shares E78's oracle.
# ---------------------------------------------------------------------------


def stream_novelty_curve(spark: SparkSession, n_arrival_batches: int = 6) -> DataFrame:
    from collector_spark.ml.dedup import NOVELTY_BATCH_SPAN, _shingle_hashes
    from collector_spark.ml import dedup as _dedup

    def batch_grams(raw: DataFrame) -> DataFrame:
        return (
            _shingle_hashes(raw)
            .select(
                F.floor(F.col("doc_id") / NOVELTY_BATCH_SPAN).alias("batch"), "h"
            )
            .groupBy("h")
            .agg(
                F.min("batch").alias("first_batch"),
                F.collect_set("batch").alias("batches"),
            )
        )

    state = _doc_fold(spark, n_arrival_batches, batch_grams)
    return _dedup.novelty_from_state(
        state.select("h", "first_batch", F.explode("batches").alias("batch"))
    )


# ---------------------------------------------------------------------------
# ST19 / E88b — streaming corpus line dedup: the first-owner key per line
# (MIN over doc_id * stride + line_no) is a monotone fold, so the streamed
# (line_text -> first_key) state equals the batch window's min under ANY
# arrival batching; the final state drives the batch report stage
# (ml/dedup.py line_dedup_from_first_keys) and shares E88's oracle.
# Production shape: the first-owner state lives in the state store keyed
# on a 128-bit line hash; arriving documents render lines, probe the
# state, and the kept-span audit streams out per trigger — the ingest
# form of the C4/Dolma line-dedup cut.
# ---------------------------------------------------------------------------


def stream_line_dedup(spark: SparkSession, n_arrival_batches: int = 6) -> DataFrame:
    from collector_spark.fixtures.defs import _doc_lines_sql
    from collector_spark.ml.dedup import LINE_POS_STRIDE, line_dedup_from_first_keys

    def first_keys(raw: DataFrame) -> DataFrame:
        return (
            _fixture_over(raw, _doc_lines_sql("spark"))
            .select(
                "line_text",
                (F.col("doc_id") * LINE_POS_STRIDE + F.col("line_no"))
                .cast("long")
                .alias("pos_key"),
            )
            .groupBy("line_text")
            .agg(F.min("pos_key").alias("first_key"))
        )

    return line_dedup_from_first_keys(
        spark, _doc_fold(spark, n_arrival_batches, first_keys)
    )


# ---------------------------------------------------------------------------
# ST20 / E54b — streaming sequence packing via applyInPandasWithState:
# the per-(source, shard) running token offset is a genuine CARRY-OVER
# state (not a monotone fold like ST11-ST19's states — the offset a doc
# receives depends on everything packed before it), so this is the doc
# pipeline's custom stateful operator, the same Spark surface as the log
# sessionizer (log_stream.py). Arrival order is doc_id-ascending per
# group by construction (the staged source range-partitions on doc_id
# and replays files oldest-first), and rows are sorted by doc_id inside
# each batch, so the streamed offsets equal the batch window's cumulative
# sum exactly — shares E54's oracle.
#
# Production shape: state is one BIGINT per open (source, shard) group in
# the state store; each trigger packs the arriving docs of a group in one
# Arrow batch and emits their pack assignments append-mode — the live
# form of the pre-training pack step, sized O(open shards), not O(docs).
# ---------------------------------------------------------------------------

_PACK_OUT_FIELDS = [
    "doc_id",
    "source",
    "shard",
    "n_tokens",
    "stream_offset",
    "pack_id",
    "offset_in_pack",
    "crosses_boundary",
]


def _pack_out_schema():
    from pyspark.sql.types import (
        BooleanType,
        LongType,
        StringType,
        StructField,
        StructType,
    )

    return StructType(
        [
            StructField("doc_id", LongType()),
            StructField("source", StringType()),
            StructField("shard", LongType()),
            StructField("n_tokens", LongType()),
            StructField("stream_offset", LongType()),
            StructField("pack_id", LongType()),
            StructField("offset_in_pack", LongType()),
            StructField("crosses_boundary", BooleanType()),
        ]
    )


def _pack_state_schema():
    from pyspark.sql.types import LongType, StructField, StructType

    return StructType([StructField("cum", LongType())])


def _pack_state_fn(key, pdf_iter, state):
    import pandas as pd

    from collector_spark.ml.curation import PACK_BUDGET

    source, shard = key
    cum = int(state.get[0]) if state.exists else 0
    frames = [p for p in pdf_iter if len(p)]
    rows = []
    if frames:
        pdf = pd.concat(frames).sort_values("doc_id")
        for doc_id, n in zip(pdf["doc_id"], pdf["n_tokens"]):
            n = int(n)
            rows.append(
                (
                    int(doc_id),
                    source,
                    int(shard),
                    n,
                    cum,
                    cum // PACK_BUDGET,
                    cum % PACK_BUDGET,
                    (cum % PACK_BUDGET) + n > PACK_BUDGET,
                )
            )
            cum += n
    state.update((cum,))
    yield pd.DataFrame(rows, columns=_PACK_OUT_FIELDS)


def stream_sequence_packing(
    spark: SparkSession, n_arrival_batches: int = 6
) -> DataFrame:
    from pyspark.sql.streaming.state import GroupStateTimeout

    from collector_spark.ml.curation import PACK_SHARD_DOCS

    def packed(raw: DataFrame) -> DataFrame:
        base = raw.select(
            "doc_id",
            "source",
            F.floor(F.col("doc_id") / PACK_SHARD_DOCS).cast("long").alias("shard"),
            _n_tokens().alias("n_tokens"),
        )
        return base.groupBy("source", "shard").applyInPandasWithState(
            _pack_state_fn,
            _pack_out_schema(),
            _pack_state_schema(),
            "append",
            GroupStateTimeout.NoTimeout,
        )

    return _doc_fold(spark, n_arrival_batches, packed, "append").orderBy("doc_id")


# ---------------------------------------------------------------------------
# ST21 / E95b — streaming frame dedup: the per-frame first-owner key is a
# MIN fold (monotone), so the streamed (frame_key -> first pos_key) state
# equals the batch window under ANY arrival batching; media rows are
# rendered on the stream with the exact F22 fixture SQL (the same
# source-swap discipline as ST19), the fold state drives the batch report
# stage, and the query shares E95's oracle. Production shape: the
# first-owner state keys on the frame hash in the state store; arriving
# media explode to frames, probe/fold the state, and the retained-frame
# audit streams out per trigger — frame-level dedup during a video crawl.
# ---------------------------------------------------------------------------


def stream_frame_dedup(spark: SparkSession, n_arrival_batches: int = 6) -> DataFrame:
    from collector_spark.fixtures.defs import ALL_FIXTURES
    from collector_spark.ml.multimodal import (
        _frame_pos_key,
        frame_dedup_from_first_keys,
        video_frames,
    )

    def first_keys(raw: DataFrame) -> DataFrame:
        return (
            video_frames(_fixture_over(raw, ALL_FIXTURES["media_rows"]))
            .select("frame_key", _frame_pos_key().alias("pos_key"))
            .groupBy("frame_key")
            .agg(F.min("pos_key").alias("first_key"))
        )

    return frame_dedup_from_first_keys(
        spark, _doc_fold(spark, n_arrival_batches, first_keys)
    )


def stream_decontaminate(spark: SparkSession, n_arrival_batches: int = 6) -> DataFrame:
    """ST22 — streaming benchmark decontamination (the twin of E19
    ml_decontaminate): the eval-split 8-gram set is derived in batch (the
    bounded static side — benchmarks are MBs next to a crawl), and each
    arriving training document is screened on ingest via a stream-static
    broadcast join. Per-doc gram dedup happens INSIDE the row
    (array_distinct on the gram array) so the per-doc matched count is a
    plain streaming SUM — no distinct aggregation, which Structured
    Streaming disallows; explode_outer keeps short docs (< 8 tokens) in
    the result with matched_grams = 0, matching the batch left join.

    State is O(docs in flight) for the per-doc sums; arrival batching
    cannot change the answer (each doc's rows land in one microbatch and
    the fold is additive), so the query shares E19's DuckDB oracle. The
    static gram set is persisted for the run — production would
    checkpoint it once per benchmark release, not per trigger.
    """
    from collector_spark.ml.curation import (
        EVAL_SOURCE,
        NGRAM_N,
        _word_ngrams,
        eval_gram_set,
    )

    eval_grams = eval_gram_set(spark).withColumn("_hit", F.lit(1)).persist()

    def scored(raw: DataFrame) -> DataFrame:
        grams = (
            raw.filter(F.col("source") != EVAL_SOURCE)
            .select("doc_id", "source", F.split(F.col("text"), " ").alias("t"))
            .select(
                "doc_id",
                "source",
                F.explode_outer(
                    F.array_distinct(_word_ngrams("t", NGRAM_N))
                ).alias("gram"),
            )
        )
        return (
            grams.join(F.broadcast(eval_grams), "gram", "left")
            .groupBy("doc_id", "source")
            .agg(
                F.sum(F.coalesce(F.col("_hit"), F.lit(0)))
                .cast("long")
                .alias("matched_grams")
            )
            .select(
                "doc_id",
                "source",
                "matched_grams",
                (F.col("matched_grams") > 0).alias("contaminated"),
            )
        )

    try:
        out = _doc_fold(spark, n_arrival_batches, scored)
    finally:
        eval_grams.unpersist()
    return out.orderBy("doc_id")


# ---------------------------------------------------------------------------
# ST23 / E103b — streaming source-divergence monitor: the per-(source,
# token) count state folds incrementally over arriving document batches
# (counts are ADDITIVE — the canonical streaming aggregation, same class
# as ST15's Zipf counts), and the pairwise total-variation-distance
# report reads the final state through the IDENTICAL report stage as the
# batch operator (textstats.tvd_from_counts). Batch-equal by
# construction, so it shares ml_source_tvd's oracle. Production shape:
# the count state lives in the state store keyed on (source, token), the
# TVD matrix re-evaluates per trigger — a live "did this crawl batch
# shift a source's distribution?" dashboard that complements the
# score-drift PSI monitor with a distribution-level signal.
# ---------------------------------------------------------------------------


def stream_source_tvd(spark: SparkSession, n_arrival_batches: int = 6) -> DataFrame:
    from collector_spark.ml.textstats import tvd_from_counts

    def counts(raw: DataFrame) -> DataFrame:
        return (
            raw.select(
                "source",
                F.explode(
                    F.regexp_extract_all(F.lower(F.col("text")), F.lit("[a-z0-9]+"), 0)
                ).alias("tok"),
            )
            .groupBy("source", "tok")
            .agg(F.count("*").cast("long").alias("c"))
        )

    return tvd_from_counts(_doc_fold(spark, n_arrival_batches, counts))


# ---------------------------------------------------------------------------
# ST24 / E107b — streaming chunk-store monitor: the (media_type, chunk
# hash, chunk bytes) copy counts fold incrementally over arriving media
# (counts are ADDITIVE; chunking itself is row-local, so each payload's
# chunks land in its own microbatch), and the dedup report reads the
# final state through the IDENTICAL report stage as the batch operator
# (multimodal.cdc_dedup_from_counts). Batch-equal by construction, so it
# shares mm_cdc_dedup's oracle. Production shape: the chunk-count state
# IS the content-addressed store's index — arriving blobs chunk on
# ingest, probe/fold the state, and the live dedup ratio streams out per
# trigger.
# ---------------------------------------------------------------------------


def stream_cdc_dedup(spark: SparkSession, n_arrival_batches: int = 6) -> DataFrame:
    from collector_spark.fixtures.defs import ALL_FIXTURES
    from collector_spark.ml.multimodal import _cdc_exploded, cdc_dedup_from_counts

    def copies(raw: DataFrame) -> DataFrame:
        return (
            _cdc_exploded(spark, _fixture_over(raw, ALL_FIXTURES["media_rows"]))
            .groupBy("media_type", "chash", "cbytes")
            .agg(F.count("*").cast("long").alias("copies"))
        )

    return cdc_dedup_from_counts(_doc_fold(spark, n_arrival_batches, copies))


# ---------------------------------------------------------------------------
# ST25 / E108b — streaming boilerplate monitor: the per-(source, doc,
# line) row-count state folds incrementally over arriving documents
# (counts are ADDITIVE and a document arrives whole in one microbatch, so
# the folded relation equals the batch fold under ANY arrival batching —
# the ST22 row-local-dedup argument applied to the line fold), and the
# per-source template flag + per-doc strip audit read the final state
# through the IDENTICAL report stage as the batch operator
# (curation.boilerplate_from_doc_line_counts). Batch-equal by
# construction, so it shares ml_boilerplate_lines's oracle. Lines are
# rendered on the STREAM with the exact F27 fixture SQL (the ST19
# discipline — the line derivation is the input contract). Production
# shape: the state is the live per-domain template index — arriving pages
# render lines, fold the counts, and the strip audit streams out per
# trigger as new nav-bar/footer templates cross the frequency threshold.
# ---------------------------------------------------------------------------


def stream_boilerplate(spark: SparkSession, n_arrival_batches: int = 6) -> DataFrame:
    from collector_spark.fixtures.defs import _doc_lines_sql
    from collector_spark.ml.curation import (
        _doc_line_counts,
        boilerplate_from_doc_line_counts,
    )

    def counts(raw: DataFrame) -> DataFrame:
        return _doc_line_counts(_fixture_over(raw, _doc_lines_sql("spark")))

    return boilerplate_from_doc_line_counts(
        spark, _doc_fold(spark, n_arrival_batches, counts)
    )


# ---------------------------------------------------------------------------
# ST26 / E109b — streaming collocation monitor: the (w1, w2) adjacent-pair
# count state folds incrementally over arriving documents (bigrams are
# row-local per document — a document arrives whole, so counts are a
# plain ADDITIVE aggregation), and the PMI/lift report reads the final
# state through the IDENTICAL report stage as the batch operator
# (curation.pmi_from_pair_counts). Batch-equal by construction, so it
# shares ml_pmi_collocations's oracle. Production shape: the pair-count
# state is the live collocation table — vocab-bounded, not corpus-
# bounded — re-graded per trigger as a crawl's phrase distribution grows.
# ---------------------------------------------------------------------------


def stream_pmi_collocations(
    spark: SparkSession, n_arrival_batches: int = 6
) -> DataFrame:
    from collector_spark.ml.curation import (
        _bigram_pair_counts,
        pmi_from_pair_counts,
    )

    return pmi_from_pair_counts(
        _doc_fold(spark, n_arrival_batches, _bigram_pair_counts)
    )


# ---------------------------------------------------------------------------
# ST27 / E110b — streaming Naive-Bayes trainer: the (lang, tok) count
# state — token rows PLUS one marker row per document, so the unigram
# model AND the class priors live in ONE additive fold — accumulates
# over arriving documents, and the scoring/confusion stage reads the
# final state through the IDENTICAL report stage as the batch operator
# (textstats.nb_langid_from_counts, scoring the static corpus).
# Batch-equal by construction, so it shares ml_nb_langid's oracle.
# Production shape: the state is the live classifier — model counts
# refresh per trigger as labeled documents stream in, and the
# re-evaluated confusion matrix is the drift monitor that says when the
# classifier needs retraining attention.
# ---------------------------------------------------------------------------


def stream_nb_langid(spark: SparkSession, n_arrival_batches: int = 6) -> DataFrame:
    from collector_spark.ml.textstats import (
        _nb_counts,
        _nb_token_rows,
        nb_langid_from_counts,
    )

    state = _doc_fold(spark, n_arrival_batches, lambda raw: _nb_counts(_nb_token_rows(raw)))
    return nb_langid_from_counts(spark, state, spark.table("documents"))


# ---------------------------------------------------------------------------
# ST28 / E113b — streaming QUALITY-classifier trainer: the E71 rule label
# is a ROW-LOCAL expression (curation._gopher_exprs), so arriving
# documents label themselves inline — no stream-stream label join — and
# the (label, tok) count state (token rows + per-doc marker rows for the
# class priors, the ST27 trick) is ONE additive fold. The scoring stage
# reads the final state through the IDENTICAL report as the batch
# operator (curation.nb_quality_from_counts, scoring the static corpus);
# batch-equal by construction, shares ml_nb_quality's oracle.
# Production shape: the crawl-filter classifier retrains continuously as
# labeled pages stream in — the per-trigger agree-rate is the live
# rule-vs-model drift signal.
# ---------------------------------------------------------------------------


def stream_nb_quality(spark: SparkSession, n_arrival_batches: int = 6) -> DataFrame:
    from collector_spark.ml.curation import (
        _nbq_counts,
        _nbq_token_rows,
        nb_quality_from_counts,
    )

    state = _doc_fold(
        spark, n_arrival_batches, lambda raw: _nbq_counts(_nbq_token_rows(raw))
    )
    return nb_quality_from_counts(spark, state, spark.table("documents")).orderBy(
        "doc_id"
    )


# ---------------------------------------------------------------------------
# ST29 / E115b — streaming skip-gram co-occurrence monitor: window pairs
# are row-local per document (the E115 generator), so the (w1, w2) count
# state is a plain additive fold; the PMI/lift report reads the final
# state through the shared pmi_from_pair_counts stage. Batch-equal,
# shares ml_skipgram_pmi's oracle — the live co-occurrence matrix a
# GloVe-style embedding refresh would consume.
# ---------------------------------------------------------------------------


def stream_skipgram_pmi(
    spark: SparkSession, n_arrival_batches: int = 6
) -> DataFrame:
    from collector_spark.ml.curation import (
        _skipgram_pair_counts,
        pmi_from_pair_counts,
    )

    return pmi_from_pair_counts(
        _doc_fold(spark, n_arrival_batches, _skipgram_pair_counts)
    )


# ---------------------------------------------------------------------------
# ST30 / E118b — streaming ROC monitor for the quality classifier: the
# (label, tok) count state is ST28's additive fold unchanged; on the
# final state the margins are scored by the IDENTICAL stage as the batch
# operator (curation.nb_quality_from_counts) and the curve is read
# through curation.quality_roc_from_margins — batch-equal by
# construction, shares ml_quality_roc's oracle. Production shape: the
# live discrimination (tpr/fpr per margin bin) of the continuously
# retrained crawl filter.
# ---------------------------------------------------------------------------


def stream_quality_roc(spark: SparkSession, n_arrival_batches: int = 6) -> DataFrame:
    from collector_spark.ml.curation import (
        _nbq_counts,
        _nbq_token_rows,
        nb_quality_from_counts,
        quality_roc_from_margins,
    )

    state = _doc_fold(
        spark, n_arrival_batches, lambda raw: _nbq_counts(_nbq_token_rows(raw))
    )
    margins = nb_quality_from_counts(spark, state, spark.table("documents"))
    return quality_roc_from_margins(margins)


# ---------------------------------------------------------------------------
# ST31 / E120b — streaming duplicate-n-gram monitor: per-document
# distinct shingle hashes are row-local arrays (the shared machinery), so
# the (source, h) incidence count state is ONE additive fold; the
# per-source duplication report reads the final state through the shared
# dedup.dup_ngram_from_counts stage. Batch-equal, shares
# ml_dup_ngram_fraction's oracle — the live "how duplicated is what we
# are ingesting" gauge a crawl pipeline alarms on.
# ---------------------------------------------------------------------------


def stream_dup_ngrams(spark: SparkSession, n_arrival_batches: int = 6) -> DataFrame:
    from collector_spark.ml.dedup import _shingle_hashes, dup_ngram_from_counts

    def counts(raw: DataFrame) -> DataFrame:
        return (
            _shingle_hashes(raw, carry=("source",))
            .groupBy("source", "h")
            .agg(F.count("*").cast("long").alias("n_inc"))
        )

    return dup_ngram_from_counts(_doc_fold(spark, n_arrival_batches, counts))


# ---------------------------------------------------------------------------
# ST32 / E124b — streaming padding-waste gauge: the per-bucket
# (len_log2, counts) state is E124's additive fold unchanged (row-local
# bucket projection, <=63 keys), read through the shared
# padding_waste_from_counts report. Batch-equal, shares
# ml_padding_waste's oracle — the live "what would padding cost on what
# we are ingesting" gauge next to the ST20 packing monitor.
# ---------------------------------------------------------------------------


def stream_padding_waste(spark: SparkSession, n_arrival_batches: int = 6) -> DataFrame:
    from collector_spark.ml.curation import (
        _padwaste_counts,
        padding_waste_from_counts,
    )

    return padding_waste_from_counts(
        _doc_fold(spark, n_arrival_batches, _padwaste_counts)
    )


# ---------------------------------------------------------------------------
# ST33 / E125b — streaming weighted-sample maintainer: a TRUE
# carry-over-state operator (the third, after the ST3 sessionizer and
# the ST20 packer): per source, the state is the current top-WSAMPLE_K
# A-ES entries — BOUNDED at K rows per group no matter how much data
# streams past, the production shape of "keep a fair weighted sample of
# an unbounded crawl". Arriving docs carry their JVM-computed integer
# (w_tokens, lnu_q) pair (curation._wsample_keyed — no hashing in
# Python); the pandas state fn merges, reranks by the exact float key
# lnu/w (one IEEE division of int64s — identical in every engine), and
# emits the group's current top-K tagged with a per-group sequence
# number. The report keeps each group's LAST emission (append-sink
# last-wins) and must equal the batch sampler row-for-row — shares
# ml_token_weighted_sample's oracle.
# ---------------------------------------------------------------------------

_WS_OUT_FIELDS = [
    "source", "seq", "sample_rank", "doc_id", "w_tokens", "lnu_q", "key",
]


def _ws_out_schema() -> str:
    return (
        "source string, seq long, sample_rank long, doc_id long,"
        " w_tokens long, lnu_q long, key double"
    )


def _ws_state_schema() -> str:
    return "seq long, doc_ids array<long>, ws array<long>, lnus array<long>"


def _ws_state_fn(key, pdf_iter, state):
    import pandas as pd

    from collector_spark.ml.curation import WSAMPLE_K

    (source,) = key
    if state.exists:
        seq, doc_ids, ws, lnus = state.get
        seq = int(seq)
        cur = list(zip(doc_ids, ws, lnus))
    else:
        seq, cur = 0, []
    for p in pdf_iter:
        if len(p):
            cur.extend(
                zip(
                    (int(x) for x in p["doc_id"]),
                    (int(x) for x in p["w_tokens"]),
                    (int(x) for x in p["lnu_q"]),
                )
            )
    # exact IEEE key; ties (byte-identical texts) break by doc_id asc
    cur.sort(key=lambda t: (-(t[2] / t[1]), t[0]))
    cur = cur[:WSAMPLE_K]
    seq += 1
    state.update(
        (seq, [t[0] for t in cur], [t[1] for t in cur], [t[2] for t in cur])
    )
    rows = [
        (source, seq, i + 1, d, w, l, l / w)
        for i, (d, w, l) in enumerate(cur)
    ]
    yield pd.DataFrame(rows, columns=_WS_OUT_FIELDS)


def stream_weighted_sample(
    spark: SparkSession, n_arrival_batches: int = 6
) -> DataFrame:
    from pyspark.sql import Window
    from pyspark.sql.streaming.state import GroupStateTimeout

    from collector_spark.ml.curation import _wsample_keyed

    def topk(raw: DataFrame) -> DataFrame:
        keyed = _wsample_keyed(raw).drop("key")  # ints travel; key re-derived
        return keyed.groupBy("source").applyInPandasWithState(
            _ws_state_fn,
            _ws_out_schema(),
            _ws_state_schema(),
            "append",
            GroupStateTimeout.NoTimeout,
        )

    emitted = _doc_fold(spark, n_arrival_batches, topk, "append")
    last = Window.partitionBy("source")
    return (
        emitted.withColumn("_max_seq", F.max("seq").over(last))
        .filter(F.col("seq") == F.col("_max_seq"))
        .select("source", "sample_rank", "doc_id", "w_tokens", "lnu_q", "key")
        .orderBy("source", "sample_rank")
    )


def stream_langid_kappa(spark: SparkSession, n_arrival_batches: int = 6) -> DataFrame:
    """ST34 / E128b — Cohen's kappa scored from the STREAMED (lang, tok)
    count state: the confusion matrix comes out of the same run-to-
    completion fold as st_ml_nb_langid and the kappa fold is the shared
    batch report (textstats.kappa_from_confusion) — batch-equal by
    construction, shares ml_langid_kappa's oracle. Production shape: the
    live agreement gauge that says when the declared-language labels and
    the trained detector drift apart on the incoming crawl."""
    from collector_spark.ml.textstats import kappa_from_confusion

    return kappa_from_confusion(stream_nb_langid(spark, n_arrival_batches))


def stream_corpus_validate(spark: SparkSession, n_arrival_batches: int = 6) -> DataFrame:
    """ST35 / E129b — the validation gate as a LIVE gauge over arriving
    documents: the streamed state is per-doc_id (count, row-check
    violation sums) — an additive complete-mode fold — and the report
    stage folds that state batch-side, deriving the uniqueness
    constraint as sum(count) - rows over non-null doc_ids (streaming
    forbids countDistinct; the per-key state IS the distinct set).
    Batch-equal by construction => shares E129's oracle. Production
    shape: the data-quality dashboard that flips a constraint to
    failed the moment a bad crawl batch lands."""
    from collector_spark.ml.export import _VALIDATE_ROW_CHECKS, validate_report

    viol = [
        F.sum(F.expr(expr).cast("long")).alias(name)
        for name, expr in _VALIDATE_ROW_CHECKS
    ]
    st = _doc_fold(
        spark,
        n_arrival_batches,
        lambda raw: raw.groupBy("doc_id").agg(
            F.count(F.lit(1)).cast("long").alias("cnt"), *viol
        ),
    )
    names = [n for n, _ in _VALIDATE_ROW_CHECKS]
    base = st.agg(
        F.sum("cnt").cast("long").alias("n_checked"),
        *[F.sum(n).cast("long").alias(n) for n in names],
        (
            F.coalesce(
                F.sum(F.when(F.col("doc_id").isNotNull(), F.col("cnt"))),
                F.lit(0),
            )
            - F.count(F.when(F.col("doc_id").isNotNull(), F.lit(1)))
        ).cast("long").alias("doc_id_unique"),
    )
    return validate_report(base)
