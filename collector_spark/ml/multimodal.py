"""Multimodal columns: opaque binary payloads + typed metadata (training-
data pipeline extension; BASELINE.json north star).

Media bytes live in an opaque ``binary`` column with typed metadata
alongside (media_type, width/height, sample_rate, caption). Two stages:

  media_metadata   — JVM-side projection over the binary column (sizes,
                     magic bytes, pixel math); fully oracle-checked.
  decode_features  — the decode/feature-extract stage as an Arrow-batched
                     ``mapInPandas``. The image/audio libraries are not in
                     this container, so the actual decode is STUBBED: if
                     PIL/soundfile were importable the real path would
                     raise NotImplementedError for these synthetic
                     payloads; the deterministic fallback computes exact
                     byte statistics so tests pin the full Spark plumbing
                     (schema, batching, partitioning) against golden
                     values.

Scale: both stages are embarrassingly parallel per-row maps — no shuffle;
payload bytes stream through Arrow in batches, never through the driver.
At 100 TB the only knobs are parquet row-group sizing for the binary
column and ``spark.sql.execution.arrow.maxRecordsPerBatch`` for decode
memory.
"""

from __future__ import annotations

from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import (
    DoubleType,
    IntegerType,
    LongType,
    StringType,
    StructField,
    StructType,
)


def media_metadata(spark: SparkSession) -> DataFrame:
    """Typed metadata projection over the opaque payload column."""
    m = spark.table("media_rows")
    hexp = F.hex(F.col("payload"))
    return m.select(
        "doc_id",
        "media_type",
        F.octet_length("payload").alias("payload_bytes"),
        F.substring(hexp, 1, 8).alias("magic_hex"),
        "width",
        "height",
        "sample_rate",
        (F.col("width").cast("long") * F.col("height")).alias("pixels"),
        "caption",
    ).orderBy("doc_id")


def oracle_media_metadata() -> str:
    return """
SELECT doc_id, media_type,
  CAST(octet_length(payload) AS INT) AS payload_bytes,
  substr(hex(payload), 1, 8) AS magic_hex,
  width, height, sample_rate,
  CAST(width AS BIGINT) * height AS pixels,
  caption
FROM media_rows ORDER BY doc_id
"""


RESIZE_BOX = 64  # target bounding box for image resize planning
FRAME_BYTES = 4  # fake bytes-per-frame for the synthetic payloads


def resize_frame_plan(spark: SparkSession) -> DataFrame:
    """Resize / frame-sample planning over typed metadata — the pure-
    arithmetic half of the transform stage (the pixel work itself would run
    in the decode UDF): aspect-preserving fit into RESIZE_BOX for images,
    every-kth frame selection for videos. All JVM expressions."""
    m = spark.table("media_rows")
    w = F.col("width").cast("double")
    h = F.col("height").cast("double")
    scale = F.least(F.lit(float(RESIZE_BOX)) / w, F.lit(float(RESIZE_BOX)) / h)
    is_image = F.col("media_type").startswith("image/")
    is_video = F.col("media_type").startswith("video/")
    n_frames = (F.octet_length("payload") / FRAME_BYTES).cast("long")
    step = (F.lit(1) + F.col("doc_id") % 3).cast("long")
    frames = F.when(
        is_video,
        F.array_join(
            F.transform(
                F.sequence(F.lit(0).cast("long"), n_frames - 1, step),
                lambda x: x.cast("string"),
            ),
            ",",
        ),
    )
    return m.select(
        "doc_id",
        "media_type",
        F.when(is_image, F.floor(w * scale).cast("int")).alias("resize_w"),
        F.when(is_image, F.floor(h * scale).cast("int")).alias("resize_h"),
        F.when(is_video, n_frames).alias("n_frames"),
        frames.alias("sampled_frames"),
    ).orderBy("doc_id")


def oracle_resize_frame_plan() -> str:
    return f"""
SELECT doc_id, media_type,
  CASE WHEN starts_with(media_type, 'image/')
       THEN CAST(floor(CAST(width AS DOUBLE)
            * least({RESIZE_BOX}.0 / CAST(width AS DOUBLE), {RESIZE_BOX}.0 / CAST(height AS DOUBLE))) AS INT)
  END AS resize_w,
  CASE WHEN starts_with(media_type, 'image/')
       THEN CAST(floor(CAST(height AS DOUBLE)
            * least({RESIZE_BOX}.0 / CAST(width AS DOUBLE), {RESIZE_BOX}.0 / CAST(height AS DOUBLE))) AS INT)
  END AS resize_h,
  CASE WHEN starts_with(media_type, 'video/')
       THEN CAST(octet_length(payload) / {FRAME_BYTES} AS BIGINT) END AS n_frames,
  CASE WHEN starts_with(media_type, 'video/')
       THEN array_to_string(list_transform(
            generate_series(0, CAST(octet_length(payload) / {FRAME_BYTES} AS BIGINT) - 1,
                            1 + doc_id % 3),
            x -> CAST(x AS VARCHAR)), ',')
  END AS sampled_frames
FROM media_rows ORDER BY doc_id
"""


# ---------------------------------------------------------------------------
# E95 — video frame-level dedup (the multimodal twin of E88's line dedup,
# and what video pipelines run before paying decode/embedding cost on
# near-identical footage): explode every video payload into FRAME_BYTES
# frames, key each frame on its content, and keep only the corpus-wide
# first (doc_id, frame_no) occurrence; later copies are attributed as
# intra-media (a repeated frame inside the same clip) or cross-media (the
# same frame in another clip — re-uploads, clipped copies). Emits the
# per-media retained-frame audit.
#
# The frame key here is the frame's hex content itself (frames are tiny
# in the synthetic payloads, and hex() is byte-identical across engines);
# a production run keys on a 128-bit frame hash — or a perceptual hash
# computed in the decode UDF (mm_decode_features' seam) for near-dup
# rather than exact-dup frames. Same first-owner / one-shuffle shape
# either way: ONE shuffle on the frame key, then one media-keyed rollup.
# A flooded identical frame is one window key with a linear fold — the
# same canonical-first discipline as E1/E88, never pairs.
# ---------------------------------------------------------------------------

FRAME_POS_STRIDE = 1024  # frame_no < 1024 by construction (payload caps)


def video_frames(m: DataFrame) -> DataFrame:
    """(doc_id, frame_no, frame_key) for every FRAME_BYTES frame of every
    video payload — the shared derivation of the batch window, the
    state-driven report, and the streaming twin's fold."""
    m = m.filter(F.col("media_type").startswith("video/"))
    n_frames = (F.octet_length("payload") / FRAME_BYTES).cast("long")
    hexchars = 2 * FRAME_BYTES
    return m.select(
        "doc_id",
        F.hex("payload").alias("hx"),
        F.explode(F.sequence(F.lit(0).cast("long"), n_frames - 1)).alias("frame_no"),
    ).select(
        "doc_id",
        "frame_no",
        F.expr(
            f"substring(hx, CAST(frame_no * {hexchars} + 1 AS INT), {hexchars})"
        ).alias("frame_key"),
    )


def _frame_pos_key():
    return (F.col("doc_id") * FRAME_POS_STRIDE + F.col("frame_no")).cast("long")


def frame_dedup(spark: SparkSession, media: DataFrame | None = None) -> DataFrame:
    from pyspark.sql import Window

    frames = video_frames(spark.table("media_rows") if media is None else media)
    pos_key = _frame_pos_key()
    keyed = frames.select(
        "doc_id",
        "frame_no",
        pos_key.alias("pos_key"),
        F.min(pos_key).over(Window.partitionBy("frame_key")).alias("first_key"),
    )
    return _frame_dedup_report(keyed).orderBy("doc_id")


def frame_dedup_from_first_keys(
    spark: SparkSession, first_keys: DataFrame
) -> DataFrame:
    """E95's report stage driven by an externally-folded first-owner state
    (frame_key -> MIN pos_key) — the streaming twin feeds its final state
    through here and shares the batch oracle (MIN is monotone, so the
    streamed fold equals the batch window under any arrival batching).
    Plain key join on the frame key (O(distinct frames) state)."""
    frames = video_frames(spark.table("media_rows"))
    keyed = frames.join(first_keys, "frame_key").select(
        "doc_id", "frame_no", _frame_pos_key().alias("pos_key"), "first_key"
    )
    return _frame_dedup_report(keyed).orderBy("doc_id")


def _frame_dedup_report(keyed: DataFrame) -> DataFrame:
    kept = F.col("pos_key") == F.col("first_key")
    first_doc = F.floor(F.col("first_key") / FRAME_POS_STRIDE)
    return (
        keyed.groupBy("doc_id")
        .agg(
            F.count("*").cast("long").alias("n_frames"),
            F.sum(F.when(kept, 1).otherwise(0)).cast("long").alias("n_kept"),
            F.sum(F.when(~kept & (first_doc == F.col("doc_id")), 1).otherwise(0))
            .cast("long")
            .alias("n_dup_intra"),
            F.sum(F.when(~kept & (first_doc != F.col("doc_id")), 1).otherwise(0))
            .cast("long")
            .alias("n_dup_cross"),
        )
        .select(
            "doc_id",
            "n_frames",
            "n_kept",
            "n_dup_intra",
            "n_dup_cross",
            (
                (F.col("n_frames") - F.col("n_kept")).cast("double")
                / F.col("n_frames").cast("double")
            ).alias("dup_frame_frac"),
        )
    )


def oracle_frame_dedup() -> str:
    hexchars = 2 * FRAME_BYTES
    return f"""
WITH vids AS (
  SELECT doc_id, hex(payload) AS hx,
         CAST(octet_length(payload) / {FRAME_BYTES} AS BIGINT) AS nf
  FROM media_rows WHERE starts_with(media_type, 'video/')
),
frames AS (
  SELECT doc_id, CAST(u.frame_no AS BIGINT) AS frame_no,
    substr(hx, CAST(frame_no * {hexchars} + 1 AS INT), {hexchars}) AS frame_key
  FROM vids, LATERAL (SELECT unnest(generate_series(0, nf - 1)) AS frame_no) u
),
keyed AS (
  SELECT doc_id, frame_no,
    CAST(doc_id * {FRAME_POS_STRIDE} + frame_no AS BIGINT) AS pos_key,
    MIN(CAST(doc_id * {FRAME_POS_STRIDE} + frame_no AS BIGINT))
      OVER (PARTITION BY frame_key) AS first_key
  FROM frames
)
SELECT doc_id,
  CAST(COUNT(*) AS BIGINT) AS n_frames,
  CAST(SUM(CASE WHEN pos_key = first_key THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
  CAST(SUM(CASE WHEN pos_key <> first_key
                 AND CAST(first_key // {FRAME_POS_STRIDE} AS BIGINT) = doc_id
            THEN 1 ELSE 0 END) AS BIGINT) AS n_dup_intra,
  CAST(SUM(CASE WHEN pos_key <> first_key
                 AND CAST(first_key // {FRAME_POS_STRIDE} AS BIGINT) <> doc_id
            THEN 1 ELSE 0 END) AS BIGINT) AS n_dup_cross,
  CAST(COUNT(*) - SUM(CASE WHEN pos_key = first_key THEN 1 ELSE 0 END) AS DOUBLE)
    / CAST(COUNT(*) AS DOUBLE) AS dup_frame_frac
FROM keyed
GROUP BY doc_id
ORDER BY doc_id
"""


FEATURE_SCHEMA = StructType(
    [
        StructField("doc_id", LongType()),
        StructField("media_type", StringType()),
        StructField("n_bytes", IntegerType()),
        StructField("byte_sum", LongType()),
        StructField("mean_byte", DoubleType()),
        StructField("decoder", StringType()),
    ]
)


def _decode_batch(pdf: pd.DataFrame) -> pd.DataFrame:
    """Decode one Arrow batch. Real decoders are gated behind imports the
    container doesn't ship; the deterministic fallback extracts exact byte
    statistics so the pipeline stays testable end to end."""
    decoder = "bytestats-fake"
    try:  # pragma: no cover - libs absent in this environment
        import PIL.Image  # noqa: F401

        # A real deployment would decode image payloads here; synthetic
        # md5-chain payloads are not decodable media.
        raise NotImplementedError("synthetic payloads are not real media")
    except ImportError:
        pass
    except NotImplementedError:
        pass

    rows = []
    for doc_id, mtype, payload in zip(pdf["doc_id"], pdf["media_type"], pdf["payload"]):
        b = bytes(payload)
        total = sum(b)
        rows.append(
            (
                int(doc_id),
                str(mtype),
                len(b),
                total,
                total / len(b) if b else 0.0,
                decoder,
            )
        )
    return pd.DataFrame(
        rows, columns=[f.name for f in FEATURE_SCHEMA.fields]
    )


def decode_features(spark: SparkSession) -> DataFrame:
    """Arrow-batched decode/feature-extract over the binary column."""
    src = spark.table("media_rows").select("doc_id", "media_type", "payload")

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            if len(pdf):
                yield _decode_batch(pdf)

    return src.mapInPandas(run, FEATURE_SCHEMA).orderBy("doc_id")


# DuckDB has no blob element access, so the oracle parses each payload byte
# out of the hex encoding: value = 16*hv(high nibble) + hv(low nibble).
_ORACLE_BYTE_SUM = """COALESCE(list_sum(list_transform(
      generate_series(1, octet_length(payload)),
      i -> (strpos('0123456789ABCDEF', substr(hex(payload), 2*i-1, 1)) - 1) * 16
           + strpos('0123456789ABCDEF', substr(hex(payload), 2*i, 1)) - 1)), 0)"""


def oracle_decode_features() -> str:
    """Exact SQL twin of the deterministic byte-stat fallback in
    ``_decode_batch`` — same n_bytes/byte_sum/mean_byte per payload."""
    return f"""
SELECT doc_id, media_type,
  CAST(octet_length(payload) AS INT) AS n_bytes,
  CAST({_ORACLE_BYTE_SUM} AS BIGINT) AS byte_sum,
  CASE WHEN octet_length(payload) > 0
       THEN CAST({_ORACLE_BYTE_SUM} AS DOUBLE) / octet_length(payload)
       ELSE 0.0 END AS mean_byte,
  'bytestats-fake' AS decoder
FROM media_rows ORDER BY doc_id
"""


# ---------------------------------------------------------------------------
# mm_caption_align — caption<->document alignment score (the LAION-style
# caption filter): share of caption tokens that appear in the document's
# own text, plus a keep flag at CAPTION_ALIGN_MIN. A production pipeline
# scores this with a cross-modal embedding (CLIP image<->caption cosine) —
# exactly the `embedding` column path the similarity operators already
# implement; the lexical overlap here is the deterministic stand-in that
# pins the plumbing (per-row set math, no shuffle, keep-list shape) while
# the container has no vision model. Captions come from the media table,
# document text joins by doc_id — one plain hash join, both sides
# O(corpus), never forced broadcast.
# ---------------------------------------------------------------------------

CAPTION_ALIGN_MIN = 0.5


def caption_align(spark: SparkSession) -> DataFrame:
    from collector_spark.ml.dedup import _tokens

    media = spark.table("media_rows").select("doc_id", "media_type", "caption")
    docs = spark.table("documents").select("doc_id", "text")
    cap_toks = F.array_distinct(_tokens("caption"))
    doc_toks = F.array_distinct(_tokens())
    joined = media.join(docs, "doc_id").select(
        "doc_id",
        "media_type",
        F.size(cap_toks).cast("long").alias("caption_tokens"),
        F.size(F.array_intersect(cap_toks, doc_toks)).cast("long").alias(
            "aligned_tokens"
        ),
    )
    score = F.col("aligned_tokens").cast("double") / F.col("caption_tokens").cast(
        "double"
    )
    return joined.select(
        "doc_id",
        "media_type",
        "caption_tokens",
        "aligned_tokens",
        score.alias("align_score"),
        (score >= CAPTION_ALIGN_MIN).alias("keep"),
    ).orderBy("doc_id")


def oracle_caption_align() -> str:
    return rf"""
WITH j AS (
  SELECT m.doc_id, m.media_type,
    CAST(len(list_distinct(regexp_split_to_array(trim(lower(m.caption)), '\s+'))) AS BIGINT) AS caption_tokens,
    CAST(len(list_intersect(
      list_distinct(regexp_split_to_array(trim(lower(m.caption)), '\s+')),
      list_distinct(regexp_split_to_array(trim(lower(d.text)), '\s+'))
    )) AS BIGINT) AS aligned_tokens
  FROM media_rows m JOIN documents d USING (doc_id)
)
SELECT doc_id, media_type, caption_tokens, aligned_tokens,
  CAST(aligned_tokens AS DOUBLE) / CAST(caption_tokens AS DOUBLE) AS align_score,
  CAST(aligned_tokens AS DOUBLE) / CAST(caption_tokens AS DOUBLE)
    >= {CAPTION_ALIGN_MIN} AS keep
FROM j
ORDER BY doc_id
"""


# ---------------------------------------------------------------------------
# mm_audio_chunk_plan — fixed-window audio chunk manifest (the Whisper-
# style 30 s segmentation, scaled to the synthetic payloads): for each
# audio row, derive total samples from the payload size (BYTES_PER_SAMPLE
# synthetic encoding), then emit one row per AUDIO_CHUNK_SEC window with
# sample offsets and a short-tail flag — the audio twin of ml_doc_chunks.
# Pure per-row sequence explode: map-only, the decode stays behind the
# stubbed feature stage.
# ---------------------------------------------------------------------------

BYTES_PER_SAMPLE = 2
AUDIO_CHUNK_SEC = 1


def audio_chunk_plan(spark: SparkSession) -> DataFrame:
    audio = spark.table("media_rows").filter(F.col("media_type") == "audio/wav")
    n_samples = (F.octet_length("payload") / BYTES_PER_SAMPLE).cast("long")
    chunk_samples = (F.col("sample_rate") * AUDIO_CHUNK_SEC).cast("long")
    n_chunks = F.ceil(n_samples.cast("double") / chunk_samples.cast("double")).cast(
        "long"
    )
    # zero-length payload guard: Spark's sequence(0, -1) defaults to step -1
    # and would emit bogus [0, -1] chunk rows where DuckDB's
    # generate_series(0, -1) is empty — filter before the explode so empty
    # payloads produce no chunk rows on either engine.
    planned = audio.filter(n_samples > 0).select(
        "doc_id",
        "sample_rate",
        n_samples.alias("total_samples"),
        chunk_samples.alias("chunk_samples"),
        F.explode(F.sequence(F.lit(0).cast("long"), n_chunks - 1)).alias("chunk_idx"),
    )
    start = F.col("chunk_idx") * F.col("chunk_samples")
    end = F.least(start + F.col("chunk_samples"), F.col("total_samples"))
    return planned.select(
        "doc_id",
        "chunk_idx",
        "sample_rate",
        start.alias("start_sample"),
        end.alias("end_sample"),
        ((end - start) < F.col("chunk_samples")).alias("is_short_tail"),
    ).orderBy("doc_id", "chunk_idx")


def oracle_audio_chunk_plan() -> str:
    return f"""
WITH a AS (
  SELECT doc_id, sample_rate,
    CAST(octet_length(payload) / {BYTES_PER_SAMPLE} AS BIGINT) AS total_samples,
    CAST(sample_rate * {AUDIO_CHUNK_SEC} AS BIGINT) AS chunk_samples
  FROM media_rows
  WHERE media_type = 'audio/wav' AND octet_length(payload) > 0
),
planned AS (
  SELECT doc_id, sample_rate, total_samples, chunk_samples,
    unnest(generate_series(0,
      CAST(CEIL(CAST(total_samples AS DOUBLE) / chunk_samples) AS BIGINT) - 1)) AS chunk_idx
  FROM a
)
SELECT doc_id, chunk_idx, sample_rate,
  chunk_idx * chunk_samples AS start_sample,
  LEAST(chunk_idx * chunk_samples + chunk_samples, total_samples) AS end_sample,
  LEAST(chunk_idx * chunk_samples + chunk_samples, total_samples)
    - chunk_idx * chunk_samples < chunk_samples AS is_short_tail
FROM planned
ORDER BY doc_id, chunk_idx
"""


# ---------------------------------------------------------------------------
# E106/E107 — content-defined chunking (CDC) over opaque binary payloads:
# the storage-side dedup primitive (rsync/LBFS/ssdeep lineage — Muthitacharoen
# et al. 2001, "A Low-Bandwidth Network File System") that the blob store
# under a 100 TB multimodal corpus runs. Chunk boundaries are set where a
# rolling hash of the trailing CDC_W-byte window hits 0 mod CDC_D, so an
# insertion near the front of a payload re-aligns within one window
# instead of shifting every fixed-size block — the property that makes
# chunk-level dedup robust where frame/offset dedup (E95) is not.
#
# Boundary detection and chunk hashing are row-local array expressions
# over hex(payload) (the winnowing idiom — no UDF, identical bytes on
# both engines); the corpus-wide dedup report is ONE groupBy on the
# chunk hash. E106 emits the bounded per-payload summary (chunk count,
# max chunk, order-insensitive checksum — the E59 convention); E107 is
# the per-media-type chunk-store report: total vs distinct chunks and
# the byte dedup ratio a content-addressed store would realize.
# ---------------------------------------------------------------------------

CDC_W = 8      # rolling window, bytes
CDC_D = 8      # boundary divisor: expected chunk = CDC_D bytes
_CDC_P = 1_000_000_007


def _cdc_chunk_arrays():
    """(hx, bounds, chunks) column SQL: boundaries where the trailing
    CDC_W-byte window's md5-60bit hash is 0 mod CDC_D, plus the forced
    final boundary; chunks as (start, bytes, hash-mod-P) structs."""
    from collector_spark.ml.dedup import P31  # noqa: F401  (doc parity)

    win_hash = (
        f"CAST(conv(substring(md5(substring(hx, 2 * (p - {CDC_W}) + 1, "
        f"{2 * CDC_W})), 1, 15), 16, 10) AS BIGINT) % {CDC_D}"
    )
    # interior boundaries only (< L), then the forced final boundary —
    # no array_distinct: DuckDB's list_distinct does not guarantee order
    bounds = (
        f"concat(filter(transform(sequence({CDC_W}, L), "
        f"p -> CASE WHEN ({win_hash}) = 0 THEN p ELSE -1 END), "
        f"x -> x > 0 AND x < L), array(L))"
    )
    chunks = (
        "transform(sequence(1, size(bounds) - 1), i -> struct("
        "element_at(bounds, i) AS cstart, "
        "element_at(bounds, i + 1) - element_at(bounds, i) AS cbytes, "
        "CAST(conv(substring(md5(substring(hx, 2 * element_at(bounds, i) + 1, "
        "2 * (element_at(bounds, i + 1) - element_at(bounds, i)))), 1, 15), "
        f"16, 10) AS BIGINT) % {_CDC_P} AS chash))"
    )
    return bounds, chunks


def _cdc_exploded(spark: SparkSession, media: DataFrame | None = None) -> DataFrame:
    """(doc_id, media_type, cstart, cbytes, chash): one row per chunk.
    The boundary array is prefixed with the implicit 0 start via
    sequence index 1 handling below (bounds holds END positions; chunk i
    spans [bounds[i-1], bounds[i]) with bounds[0] treated as the first
    end — so prepend 0)."""
    m = spark.table("media_rows") if media is None else media
    bounds, chunks = _cdc_chunk_arrays()
    return (
        m.select(
            "doc_id",
            "media_type",
            F.hex(F.col("payload")).alias("hx"),
            F.octet_length("payload").alias("L"),
        )
        .filter(F.col("L") > 0)
        .withColumn("bounds", F.expr(f"concat(array(0), {bounds})"))
        .withColumn("chunk", F.explode(F.expr(chunks)))
        .select(
            "doc_id",
            "media_type",
            F.col("chunk.cstart").alias("cstart"),
            F.col("chunk.cbytes").cast("long").alias("cbytes"),
            F.col("chunk.chash").alias("chash"),
        )
    )


def cdc_chunks(spark: SparkSession, media: DataFrame | None = None) -> DataFrame:
    """E106 — bounded per-payload chunk summary."""
    return (
        _cdc_exploded(spark, media)
        .groupBy("doc_id", "media_type")
        .agg(
            F.count("*").cast("long").alias("n_chunks"),
            F.sum("cbytes").cast("long").alias("total_bytes"),
            F.max("cbytes").cast("long").alias("max_chunk_bytes"),
            (F.sum("chash") % _CDC_P).cast("long").alias("chunk_checksum"),
        )
        .orderBy("doc_id")
    )


_SQL_CDC_EXPLODED = f"""
SELECT doc_id, media_type, cstart,
       CAST(cbytes AS BIGINT) AS cbytes, chash
FROM (
  SELECT doc_id, media_type, hx,
    list_prepend(0, list_concat(
      list_filter(list_transform(range({CDC_W}, L + 1),
        p -> CASE WHEN (CAST(('0x' || substr(md5(substr(hx,
               2 * (CAST(p AS INT) - {CDC_W}) + 1, {2 * CDC_W})), 1, 15)) AS BIGINT)
               % {CDC_D}) = 0 THEN CAST(p AS INT) ELSE -1 END),
        x -> x > 0 AND x < L),
      [CAST(L AS INT)])) AS bounds
  FROM (
    SELECT doc_id, media_type, hex(payload) AS hx,
           CAST(octet_length(payload) AS INT) AS L
    FROM media_rows WHERE octet_length(payload) > 0
  ) raw
) b,
LATERAL (
  SELECT unnest(range(2, len(bounds) + 1)) AS i
) g,
LATERAL (
  SELECT bounds[CAST(i AS INT) - 1] AS cstart,
         bounds[CAST(i AS INT)] - bounds[CAST(i AS INT) - 1] AS cbytes,
         CAST(('0x' || substr(md5(substr(hx, 2 * bounds[CAST(i AS INT) - 1] + 1,
           2 * (bounds[CAST(i AS INT)] - bounds[CAST(i AS INT) - 1]))), 1, 15))
           AS BIGINT) % {_CDC_P} AS chash
) c
"""


def oracle_cdc_chunks() -> str:
    return f"""
WITH ch AS ({_SQL_CDC_EXPLODED})
SELECT doc_id, media_type,
  CAST(COUNT(*) AS BIGINT) AS n_chunks,
  CAST(SUM(cbytes) AS BIGINT) AS total_bytes,
  CAST(MAX(cbytes) AS BIGINT) AS max_chunk_bytes,
  CAST(SUM(chash) % {_CDC_P} AS BIGINT) AS chunk_checksum
FROM ch
GROUP BY doc_id, media_type
ORDER BY doc_id
"""


def cdc_dedup(spark: SparkSession, media: DataFrame | None = None) -> DataFrame:
    """E107 — the chunk-store dedup report: what a content-addressed
    store saves per media type. distinct/unique are computed over the
    (chash, cbytes) pair so hash identity carries its byte size."""
    ch = _cdc_exploded(spark, media)
    per_chunk = ch.groupBy("media_type", "chash", "cbytes").agg(
        F.count("*").cast("long").alias("copies")
    )
    return cdc_dedup_from_counts(per_chunk)


def cdc_dedup_from_counts(per_chunk: DataFrame) -> DataFrame:
    """The report stage over a (media_type, chash, cbytes, copies)
    relation — shared by the batch form and the streaming twin (which
    feeds it the folded chunk-count state)."""
    return (
        per_chunk.groupBy("media_type")
        .agg(
            F.sum("copies").cast("long").alias("total_chunks"),
            F.count("*").cast("long").alias("distinct_chunks"),
            F.sum(F.col("copies") * F.col("cbytes")).cast("long").alias("total_bytes"),
            F.sum("cbytes").cast("long").alias("unique_bytes"),
        )
        .select(
            "media_type",
            "total_chunks",
            "distinct_chunks",
            "total_bytes",
            "unique_bytes",
            (
                F.lit(1.0)
                - F.col("unique_bytes").cast("double") / F.col("total_bytes").cast("double")
            ).alias("dedup_ratio"),
        )
        .orderBy("media_type")
    )


def oracle_cdc_dedup() -> str:
    return f"""
WITH ch AS ({_SQL_CDC_EXPLODED}),
per_chunk AS (
  SELECT media_type, chash, cbytes, CAST(COUNT(*) AS BIGINT) AS copies
  FROM ch GROUP BY media_type, chash, cbytes
)
SELECT media_type,
  CAST(SUM(copies) AS BIGINT) AS total_chunks,
  CAST(COUNT(*) AS BIGINT) AS distinct_chunks,
  CAST(SUM(copies * cbytes) AS BIGINT) AS total_bytes,
  CAST(SUM(cbytes) AS BIGINT) AS unique_bytes,
  1.0 - CAST(SUM(cbytes) AS DOUBLE) / CAST(SUM(copies * cbytes) AS DOUBLE)
    AS dedup_ratio
FROM per_chunk
GROUP BY media_type
ORDER BY media_type
"""


# ---------------------------------------------------------------------------
# E112 — perceptual-hash near-dup over media payloads (the image-dedup
# primitive every multimodal corpus runs; block-mean-value hashing after
# Yang et al. 2006, searched with Manku et al. 2007's Hamming pigeonhole
# — the SAME block-banding machinery as the E68 SimHash text path, so the
# text and media near-dup stacks share one candidate-generation
# discipline). The decoded-pixel stream is stood in by the raw payload
# bytes (real decoders are not installable here — the mm_decode_features
# contract): PHASH_BITS blocks partition the byte stream, bit j is an
# integer cross-multiplied block-mean-vs-global-mean compare
# (bsum_j * L > total * blen_j — no float boundary), fingerprints band
# into PHASH_BANDS blocks whose equality buckets are LOSSLESS for
# Hamming <= PHASH_BANDS - 1, and candidates verify with one
# bit_count(xor).
#
# Canonical-first on the payload hash (byte-identical copies are the
# store's dedup, not the perceptual stage's) + LSH_BUCKET_CAP — the E3
# discipline, same reasons.
#
# Scale: the fingerprint is ROW-LOCAL (nested higher-order array
# expressions over hex(payload) — the CDC/winnowing idiom; O(bits * L)
# per row, no UDF, no shuffle), so the only shuffles are the canonical
# window, the bucket groupBy, and the two verify joins — identical shape
# to E68, which the stress suite pins under floods.
# ---------------------------------------------------------------------------

PHASH_BITS = 48
PHASH_BANDS = 4
PHASH_HAMMING_MAX = PHASH_BANDS - 1
_PHASH_BLOCK = PHASH_BITS // PHASH_BANDS


def _phash_col() -> F.Column:
    """Row-local block-mean perceptual hash over hex(payload) columns
    ``hx``/``L`` (L = byte length).

    Single-pass fold: the byte array converts ONCE (expression-tree nodes
    evaluate once per reference, so the hex-parse sits behind exactly one
    reference inside zip_with), the 48 block sums + the grand total
    accumulate in one struct accumulator, and the finish lambda composes
    the bits. The first version re-parsed hex inside every block
    aggregate — ~6k conv(substr()) string ops PER ROW, measured 14 s at
    sf0.1 vs ~1 s for this form. Block lengths are closed-form (blocks
    are contiguous: block j = [ceil(jL/48), ceil((j+1)L/48)) — the same
    membership as floor(i*48/L) = j, which the DuckDB oracle keeps as the
    filter form)."""
    b = PHASH_BITS
    bytes_arr = (
        "transform(sequence(0, L - 1), i -> "
        "CAST(conv(substr(hx, 2 * i + 1, 2), 16, 10) AS BIGINT))"
    )
    pairs = (
        f"zip_with({bytes_arr}, sequence(0, L - 1), "
        f"(x, i) -> named_struct('x', x, 'i', i))"
    )
    blen_j = f"(((j + 1) * L + {b - 1}) div {b} - (j * L + {b - 1}) div {b})"
    return F.expr(
        f"""aggregate(
  {pairs},
  named_struct('bs', array_repeat(CAST(0 AS BIGINT), {b}), 'tot', CAST(0 AS BIGINT)),
  (acc, p) -> named_struct(
    'bs', transform(acc.bs, (v, j) -> IF((p.i * {b}) div L = j, v + p.x, v)),
    'tot', acc.tot + p.x),
  acc -> aggregate(sequence(0, {b - 1}), CAST(0 AS BIGINT),
    (a, j) -> a + IF(element_at(acc.bs, j + 1) * L > acc.tot * {blen_j},
                     shiftleft(CAST(1 AS BIGINT), j), CAST(0 AS BIGINT))))"""
    )


def _canonical_phashes(spark: SparkSession, media: DataFrame | None = None) -> DataFrame:
    """(doc_id, phash) over payload-canonical media rows (byte-identical
    copies keep only the min doc_id), checkpointed — shared by the E112
    near-dup and the E114 banding-tuning sweep."""
    from pyspark.sql import Window

    m = spark.table("media_phash_rows") if media is None else media
    hashed = m.select(
        "doc_id",
        F.hex(F.col("payload")).alias("hx"),
        F.octet_length("payload").cast("long").alias("L"),
    ).filter(F.col("L") > 0)
    w = Window.partitionBy(F.md5(F.col("hx")))
    return (
        hashed.withColumn("min_id", F.min("doc_id").over(w))
        .filter(F.col("doc_id") == F.col("min_id"))
        .select("doc_id", _phash_col().alias("phash"))
        .localCheckpoint(eager=False)
    )


def phash_neardup(spark: SparkSession, media: DataFrame | None = None) -> DataFrame:
    from collector_spark.ml.dedup import _pairs_from_buckets

    canon = _canonical_phashes(spark, media)  # feeds banding + both verify sides
    mask = (1 << _PHASH_BLOCK) - 1
    keys = [
        (
            F.lit(b * (1 << _PHASH_BLOCK))
            + F.shiftright(F.col("phash"), b * _PHASH_BLOCK).bitwiseAND(F.lit(mask))
        ).cast("string")
        for b in range(PHASH_BANDS)
    ]
    buckets = canon.select("doc_id", F.explode(F.array(*keys)).alias("bucket"))
    pairs = _pairs_from_buckets(buckets)
    hamming = F.bit_count(F.col("pa.phash").bitwiseXOR(F.col("pb.phash"))).cast("int")
    return (
        pairs.join(canon.alias("pa"), F.col("doc_a") == F.col("pa.doc_id"))
        .join(canon.alias("pb"), F.col("doc_b") == F.col("pb.doc_id"))
        .select("doc_a", "doc_b", hamming.alias("hamming"))
        .filter(F.col("hamming") <= PHASH_HAMMING_MAX)
        .orderBy("doc_a", "doc_b")
    )


def _sql_phash_ctes() -> str:
    """The raw/canon/ph CTE chain (canonical fingerprints) — shared by
    the E112 and E114 oracles."""
    b = PHASH_BITS
    byte = "CAST(('0x' || substr(hx, 2 * i + 1, 2)) AS BIGINT)"
    total = f"list_sum(list_transform(range(0, L), i -> {byte}))"
    bsum = (
        f"list_sum(list_transform(range(0, L), i -> "
        f"CASE WHEN (i * {b}) // L = j THEN {byte} ELSE 0 END))"
    )
    blen = (
        f"list_sum(list_transform(range(0, L), i -> "
        f"CASE WHEN (i * {b}) // L = j THEN 1 ELSE 0 END))"
    )
    phash = (
        f"list_sum(list_transform(range(0, {b}), j -> "
        f"CASE WHEN ({bsum}) * L > ({total}) * ({blen}) "
        f"THEN (CAST(1 AS BIGINT) << j) ELSE CAST(0 AS BIGINT) END))"
    )
    return f"""raw AS (
  SELECT doc_id, hex(payload) AS hx, CAST(octet_length(payload) AS BIGINT) AS L
  FROM media_phash_rows WHERE octet_length(payload) > 0
),
canon AS (
  SELECT doc_id, hx, L FROM (
    SELECT doc_id, hx, L, MIN(doc_id) OVER (PARTITION BY md5(hx)) AS min_id
    FROM raw
  ) WHERE doc_id = min_id
),
ph AS (SELECT doc_id, CAST({phash} AS BIGINT) AS phash FROM canon)"""


def oracle_phash_neardup() -> str:
    from collector_spark.ml.dedup import LSH_BUCKET_CAP

    mask = (1 << _PHASH_BLOCK) - 1
    band_selects = " UNION ALL ".join(
        f"SELECT doc_id, CAST({band * (1 << _PHASH_BLOCK)} + ((phash >> "
        f"{band * _PHASH_BLOCK}) & {mask}) AS VARCHAR) AS bucket FROM ph"
        for band in range(PHASH_BANDS)
    )
    return f"""
WITH {_sql_phash_ctes()},
buckets AS ({band_selects}),
ok AS (
  SELECT bucket FROM buckets
  GROUP BY bucket HAVING COUNT(*) > 1 AND COUNT(*) <= {LSH_BUCKET_CAP}
),
pairs AS (
  SELECT DISTINCT l.doc_id AS doc_a, r.doc_id AS doc_b
  FROM buckets l
  JOIN ok o ON o.bucket = l.bucket
  JOIN buckets r ON l.bucket = r.bucket AND l.doc_id < r.doc_id
)
SELECT p.doc_a, p.doc_b,
  CAST(bit_count(xor(pa.phash, pb.phash)) AS INT) AS hamming
FROM pairs p
JOIN ph pa ON pa.doc_id = p.doc_a
JOIN ph pb ON pb.doc_id = p.doc_b
WHERE bit_count(xor(pa.phash, pb.phash)) <= {PHASH_HAMMING_MAX}
ORDER BY p.doc_a, p.doc_b
"""


# ---------------------------------------------------------------------------
# E114 — pigeonhole BANDING tuning for the perceptual-hash path (the
# ml_lsh_tuning discipline applied to E112): for each band count B the
# block-equality candidate generator is provably complete for Hamming
# <= B - 1 and BLIND past it — this sweep measures exactly where that
# cliff lands on real fingerprints, the table that picks B before a
# corpus-scale media dedup (more bands = wider guaranteed radius but
# B buckets per item and coarser blocks = more accidental candidates).
#
# Probe-bounded truth (the recall-gate discipline): probes x canonical
# corpus pairs with Hamming <= the max graded radius, ONE broadcast
# probe join — never an all-pairs self-join. Per-config "caught" is a
# ROW-LOCAL block-equality test on the pair row (both fingerprints are
# already there), so the whole sweep adds zero joins beyond the truth
# relation: 3 configs x 5 radii grade from one checkpointed pass.
# Evaluates the UNCAPPED generator (caps are the cost knob, graded by
# the stress suite's bucket counting).
# ---------------------------------------------------------------------------

PHASH_TUNING_BANDS = [3, 4, 6]
PHASH_TUNING_RADII = [1, 2, 3, 4, 5]
PHASH_PROBE_MOD = 29


def _phash_shares_block(bands: int) -> F.Column:
    w = PHASH_BITS // bands
    mask = (1 << w) - 1
    cond = None
    for b in range(bands):
        eq = (
            F.shiftright(F.col("pa"), b * w).bitwiseAND(F.lit(mask))
            == F.shiftright(F.col("pb"), b * w).bitwiseAND(F.lit(mask))
        )
        cond = eq if cond is None else (cond | eq)
    return cond


def phash_tuning(spark: SparkSession, media: DataFrame | None = None) -> DataFrame:
    canon = _canonical_phashes(spark, media)
    probes = canon.filter(F.col("doc_id") % PHASH_PROBE_MOD == 0).select(
        F.col("doc_id").alias("pa_id"), F.col("phash").alias("pa")
    )
    others = canon.select(F.col("doc_id").alias("pb_id"), F.col("phash").alias("pb"))
    max_r = max(PHASH_TUNING_RADII)
    truth = (
        F.broadcast(probes)
        .join(others, F.col("pa_id") < F.col("pb_id"))
        .select(
            "pa",
            "pb",
            F.bit_count(F.col("pa").bitwiseXOR(F.col("pb"))).cast("int").alias("ham"),
        )
        .filter(F.col("ham") <= max_r)
        .localCheckpoint(eager=False)  # one pass feeds every config x radius
    )
    caught = None
    for b in PHASH_TUNING_BANDS:
        blk = _phash_shares_block(b)
        caught = (
            F.when(F.col("n_bands") == b, blk)
            if caught is None
            else caught.when(F.col("n_bands") == b, blk)
        )
    graded = truth.select(
        "pa",
        "pb",
        "ham",
        F.explode(F.array(*[F.lit(b) for b in PHASH_TUNING_BANDS])).alias("n_bands"),
    ).select(
        "ham",
        "n_bands",
        F.explode(F.array(*[F.lit(r) for r in PHASH_TUNING_RADII])).alias("radius"),
        caught.alias("caught"),
    )
    return (
        graded.filter(F.col("ham") <= F.col("radius"))
        .groupBy("n_bands", "radius")
        .agg(
            F.count("*").cast("long").alias("truth_pairs"),
            F.sum(F.when(F.col("caught"), 1).otherwise(0))
            .cast("long")
            .alias("caught_pairs"),
        )
        .select(
            "n_bands",
            (F.lit(PHASH_BITS) / F.col("n_bands")).cast("int").alias("block_bits"),
            "radius",
            "truth_pairs",
            "caught_pairs",
            (
                F.col("caught_pairs").cast("double")
                / F.col("truth_pairs").cast("double")
            ).alias("recall"),
            (F.col("radius") <= F.col("n_bands") - 1).alias("guaranteed"),
        )
        .orderBy("n_bands", "radius")
    )


def oracle_phash_tuning() -> str:
    shares = []
    for b in PHASH_TUNING_BANDS:
        w = PHASH_BITS // b
        mask = (1 << w) - 1
        eqs = " OR ".join(
            f"((pa >> {i * w}) & {mask}) = ((pb >> {i * w}) & {mask})"
            for i in range(b)
        )
        shares.append(f"WHEN n_bands = {b} THEN ({eqs})")
    caught = "CASE " + " ".join(shares) + " END"
    bands_list = ", ".join(str(b) for b in PHASH_TUNING_BANDS)
    radii_list = ", ".join(str(r) for r in PHASH_TUNING_RADII)
    max_r = max(PHASH_TUNING_RADII)
    return f"""
WITH {_sql_phash_ctes()},
probes AS (
  SELECT doc_id AS pa_id, phash AS pa FROM ph WHERE doc_id % {PHASH_PROBE_MOD} = 0
),
truth AS (
  SELECT p.pa, o.phash AS pb,
    CAST(bit_count(xor(p.pa, o.phash)) AS INT) AS ham
  FROM probes p JOIN ph o ON p.pa_id < o.doc_id
  WHERE bit_count(xor(p.pa, o.phash)) <= {max_r}
),
graded AS (
  SELECT t.ham, b.n_bands, r.radius, {caught} AS caught
  FROM truth t
  CROSS JOIN (SELECT unnest([{bands_list}]) AS n_bands) b
  CROSS JOIN (SELECT unnest([{radii_list}]) AS radius) r
  WHERE t.ham <= r.radius
)
SELECT n_bands,
  CAST({PHASH_BITS} / n_bands AS INT) AS block_bits,
  radius,
  CAST(COUNT(*) AS BIGINT) AS truth_pairs,
  CAST(SUM(CASE WHEN caught THEN 1 ELSE 0 END) AS BIGINT) AS caught_pairs,
  CAST(SUM(CASE WHEN caught THEN 1 ELSE 0 END) AS DOUBLE) / COUNT(*) AS recall,
  radius <= n_bands - 1 AS guaranteed
FROM graded
GROUP BY n_bands, radius
ORDER BY n_bands, radius
"""
