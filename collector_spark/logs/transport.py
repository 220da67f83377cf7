"""Cloud log transport envelope normalizers (S31 receivers).

The reference accepts Postgres log lines over five transport envelopes and
normalizes each to the common pre-parse stream item shape
(occurred_at, backend_pid, log_line_number/chunk, content) consumed by the
stitch/parse pipeline:

  - RFC5424 syslog server      input/system/selfhosted/syslog_handler.go:122-174
  - Heroku logplex drain       input/system/heroku/http_syslog_parser.go:24-108,
                               logs.go:124-171 (octet-counting framing)
  - GCP Pub/Sub JSON           input/system/google_cloudsql/logs.go:25-180
  - Azure Event Hub JSON       input/system/azure/logs.go:24-64,258-316
  - OTel / jsonlog records     input/system/selfhosted/otel_handler.go:303-357

Spark-first design: every normalizer is a declarative projection
(regexp_extract / from_json / explode) that Catalyst pushes into the scan —
no shuffle, full codegen. The single exception is the Heroku octet-counting
de-framer: frame boundaries are byte offsets carried in the stream itself,
inherently sequential *within one drain body* but embarrassingly parallel
across bodies, so it runs as an Arrow-batched ``mapInPandas`` over the body
column (one pass per body, no driver involvement). Its DuckDB oracle walks
the same offsets with a recursive CTE.

At 100 TB: transports are per-line/per-message maps with no wide
dependencies — they scale linearly with input splits. The de-framer's unit
of work is one HTTP POST body (kilobytes), so no partition-skew risk.
"""

from __future__ import annotations

import tempfile
from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from collector_spark.fixtures.defs import oracle_query
from collector_spark.streaming.replay import run_to_completion

# ---------------------------------------------------------------------------
# RFC5424 syslog (selfhosted/syslog_handler.go)
# ---------------------------------------------------------------------------

# generic RFC5424 frame: <PRI>1 TS HOST APP PROCID SD MSG (MSGID folded into
# the PROCID-adjacent token walk; the fixture always renders MSGID "-")
_RFC5424 = r"^<\d+>1 (\S+) \S+ \S+ (\S+) \S+ (\S+) (.*)$"
# Postgres [seqno-chunk] marker prepended to the message (syslog_handler.go:23)
_MSG_MARKER = r"^\s*\[(\d+)-(\d+)\] (.*)"
# marker carried in STRUCTURED-DATA instead (syslog_handler.go:24)
_SD_MARKER = r"^\[(\d+)-(\d+)\]$"


def syslog_items(spark: SparkSession) -> DataFrame:
    """Normalize RFC5424-framed syslog lines to pre-parse stream items.

    Mirrors logStreamItemFromSyslogParts (syslog_handler.go:137-174):
    proc_id -> backend_pid; a ``[n-c]`` marker is taken from the message
    when present, else from STRUCTURED-DATA; unframed lines pass through
    with content only (parseSyslogLine:124-135 returns ok=false).
    """
    return syslog_items_df(spark.table("syslog_frames")).orderBy("frame_id")


def syslog_items_df(frames: DataFrame) -> DataFrame:
    """The normalizer as a frame-relation transform — a stateless
    projection, so the identical plan runs on a batch view or a
    ``readStream`` source (the syslog server is a live socket in the
    reference; Structured Streaming is its Spark-native form)."""
    line = F.col("line")
    ts_s = F.regexp_extract(line, _RFC5424, 1)
    framed = ts_s != ""
    msg = F.regexp_extract(line, _RFC5424, 4)
    sd = F.regexp_extract(line, _RFC5424, 3)
    mm_n = F.regexp_extract(msg, _MSG_MARKER, 1)
    sd_n = F.regexp_extract(sd, _SD_MARKER, 1)
    n = F.when(mm_n != "", mm_n).when(sd_n != "", sd_n).otherwise(F.lit(None))
    c = (
        F.when(mm_n != "", F.regexp_extract(msg, _MSG_MARKER, 2))
        .when(sd_n != "", F.regexp_extract(sd, _SD_MARKER, 2))
        .otherwise(F.lit(None))
    )
    content = F.when(mm_n != "", F.regexp_extract(msg, _MSG_MARKER, 3)).otherwise(msg)
    return frames.select(
        "frame_id",
        F.when(framed, F.try_to_timestamp(ts_s))
        .otherwise(F.lit(None))
        .alias("occurred_at"),
        F.when(framed, F.regexp_extract(line, _RFC5424, 2).cast("int"))
        .otherwise(F.lit(None))
        .alias("backend_pid"),
        n.cast("int").alias("log_line_number"),
        c.cast("int").alias("log_line_chunk"),
        F.when(framed, content).otherwise(line).alias("content"),
        framed.alias("framed"),
    )


def oracle_syslog_items() -> str:
    rfc = _RFC5424
    body = f"""
SELECT frame_id,
  CASE WHEN ts_s <> '' THEN CAST(TRY_CAST(ts_s AS TIMESTAMPTZ) AS TIMESTAMP) END AS occurred_at,
  CASE WHEN ts_s <> '' THEN CAST(regexp_extract(line, '{rfc}', 2) AS INT) END AS backend_pid,
  CAST(NULLIF(CASE WHEN mm_n <> '' THEN mm_n
       WHEN regexp_extract(sd, '{_SD_MARKER}', 1) <> '' THEN regexp_extract(sd, '{_SD_MARKER}', 1) END, '') AS INT) AS log_line_number,
  CAST(NULLIF(CASE WHEN mm_n <> '' THEN regexp_extract(msg, '{_MSG_MARKER}', 2)
       WHEN regexp_extract(sd, '{_SD_MARKER}', 1) <> '' THEN regexp_extract(sd, '{_SD_MARKER}', 2) END, '') AS INT) AS log_line_chunk,
  CASE WHEN ts_s = '' THEN line
       WHEN mm_n <> '' THEN regexp_extract(msg, '{_MSG_MARKER}', 3)
       ELSE msg END AS content,
  ts_s <> '' AS framed
FROM (
  SELECT frame_id, line,
    regexp_extract(line, '{rfc}', 1) AS ts_s,
    regexp_extract(line, '{rfc}', 3) AS sd,
    regexp_extract(line, '{rfc}', 4) AS msg,
    regexp_extract(regexp_extract(line, '{rfc}', 4), '{_MSG_MARKER}', 1) AS mm_n
  FROM syslog_frames
) p
ORDER BY frame_id
"""
    return oracle_query(body, ["syslog_frames"])


# ---------------------------------------------------------------------------
# Heroku logplex drain (heroku/http_syslog_parser.go + logs.go)
# ---------------------------------------------------------------------------

_FRAMES_SCHEMA = T.StructType(
    [
        T.StructField("body_id", T.LongType()),
        T.StructField("frame_idx", T.IntegerType()),
        T.StructField("header_timestamp", T.StringType()),
        T.StructField("proc_id", T.StringType()),
        T.StructField("content", T.StringType()),
    ]
)


def _deframe_batch(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
    """Octet-counting de-framer (http_syslog_parser.go:24-108): each frame
    is ``<len> <PRI/VER> <TS> <HOST> <APP> <PROCID> <MSGID> <content>``
    where <len> counts the bytes after its trailing space. Keeps only
    app="app" frames from heroku-postgres / postgres.N processes."""
    for pdf in batches:
        out: dict[str, list] = {k.name: [] for k in _FRAMES_SCHEMA}
        for body_id, body in zip(pdf["body_id"], pdf["body"]):
            data = body.encode("utf-8")
            pos = 0
            idx = 0
            while pos < len(data):
                sp = data.find(b" ", pos)
                if sp < 0:
                    break
                try:
                    length = int(data[pos:sp])
                except ValueError:
                    break
                frame = data[sp + 1 : sp + 1 + length]
                pos = sp + 1 + length
                parts = frame.split(b" ", 6)
                if len(parts) != 7:
                    continue
                _, ts, _, app, procid, _, content = parts
                app_s = app.decode()
                procid_s = procid.decode()
                if app_s == "app" and (
                    procid_s == "heroku-postgres" or procid_s.startswith("postgres.")
                ):
                    out["body_id"].append(body_id)
                    out["frame_idx"].append(idx)
                    out["header_timestamp"].append(ts.decode())
                    out["proc_id"].append(procid_s)
                    out["content"].append(content.decode())
                    idx += 1
        yield pd.DataFrame(out)


def heroku_frames(spark: SparkSession) -> DataFrame:
    """De-frame logplex drain bodies into per-frame records."""
    bodies = spark.table("heroku_drain_bodies")
    return bodies.mapInPandas(_deframe_batch, _FRAMES_SCHEMA).orderBy(
        "body_id", "frame_idx"
    )


# recursive walk over the same octet offsets; idx counts kept frames only,
# matching the reference's out-list order
_HEROKU_SPLIT_CTE = """
split(body_id, rest, raw_idx, frame) AS (
  SELECT body_id, body, 0, CAST(NULL AS VARCHAR) FROM heroku_drain_bodies
  UNION ALL
  SELECT body_id,
    substr(rest, strpos(rest, ' ') + 1 + CAST(substr(rest, 1, strpos(rest, ' ') - 1) AS INT)),
    raw_idx + 1,
    substr(rest, strpos(rest, ' ') + 1, CAST(substr(rest, 1, strpos(rest, ' ') - 1) AS INT))
  FROM split
  WHERE length(rest) > 0 AND strpos(rest, ' ') > 0
),
frames AS (
  SELECT body_id,
    CAST(ROW_NUMBER() OVER (PARTITION BY body_id ORDER BY raw_idx) - 1 AS INT) AS frame_idx,
    regexp_extract(frame, '^<\\d+>1 (\\S+) (\\S+) (\\S+) (\\S+) (\\S+) (.*)$', 1) AS header_timestamp,
    regexp_extract(frame, '^<\\d+>1 (\\S+) (\\S+) (\\S+) (\\S+) (\\S+) (.*)$', 4) AS proc_id,
    regexp_extract(frame, '^<\\d+>1 (\\S+) (\\S+) (\\S+) (\\S+) (\\S+) (.*)$', 6) AS content
  FROM split
  WHERE frame IS NOT NULL
    AND regexp_extract(frame, '^<\\d+>1 (\\S+) (\\S+) (\\S+) (\\S+) (\\S+) (.*)$', 3) = 'app'
    AND (regexp_extract(frame, '^<\\d+>1 (\\S+) (\\S+) (\\S+) (\\S+) (\\S+) (.*)$', 4) = 'heroku-postgres'
         OR regexp_extract(frame, '^<\\d+>1 (\\S+) (\\S+) (\\S+) (\\S+) (\\S+) (.*)$', 4) LIKE 'postgres.%')
)"""


def oracle_heroku_frames() -> str:
    body = f"""
WITH RECURSIVE {_HEROKU_SPLIT_CTE}
SELECT body_id, frame_idx, header_timestamp, proc_id, content
FROM frames
ORDER BY body_id, frame_idx
"""
    return oracle_query(body, ["heroku_drain_bodies"])


_HEROKU_LINE = r"^\[(\w+)\] \[(\d+)-(\d+)\](?: (.+))?"


def heroku_items(spark: SparkSession) -> DataFrame:
    """Logplex frames -> pre-parse log items (heroku/logs.go:124-171):
    postgres.N frames only, pid from the proc id, ``[COLOR] [n-c]`` header
    giving the HEROKU_POSTGRESQL_COLOR source and stitch marker."""
    frames = heroku_frames(spark)
    pid = F.regexp_extract("proc_id", r"^postgres\.(\d+)$", 1)
    color = F.regexp_extract("content", _HEROKU_LINE, 1)
    return (
        frames.filter(pid != "")
        .filter(color != "")
        .select(
            "body_id",
            "frame_idx",
            F.try_to_timestamp(F.col("header_timestamp")).alias("occurred_at"),
            pid.cast("int").alias("backend_pid"),
            F.regexp_extract("content", _HEROKU_LINE, 2)
            .cast("int")
            .alias("log_line_number"),
            F.regexp_extract("content", _HEROKU_LINE, 3)
            .cast("int")
            .alias("log_line_chunk"),
            F.concat(F.lit("HEROKU_POSTGRESQL_"), color).alias("source_name"),
            F.regexp_extract("content", _HEROKU_LINE, 4).alias("content"),
        )
        .orderBy("body_id", "frame_idx")
    )


def oracle_heroku_items() -> str:
    line = _HEROKU_LINE
    body = f"""
WITH RECURSIVE {_HEROKU_SPLIT_CTE}
SELECT body_id, frame_idx,
  CAST(TRY_CAST(header_timestamp AS TIMESTAMPTZ) AS TIMESTAMP) AS occurred_at,
  CAST(regexp_extract(proc_id, '^postgres\\.(\\d+)$', 1) AS INT) AS backend_pid,
  CAST(regexp_extract(content, '{line}', 2) AS INT) AS log_line_number,
  CAST(regexp_extract(content, '{line}', 3) AS INT) AS log_line_chunk,
  'HEROKU_POSTGRESQL_' || regexp_extract(content, '{line}', 1) AS source_name,
  regexp_extract(content, '{line}', 4) AS content
FROM frames
WHERE regexp_extract(proc_id, '^postgres\\.(\\d+)$', 1) <> ''
  AND regexp_extract(content, '{line}', 1) <> ''
ORDER BY body_id, frame_idx
"""
    return oracle_query(body, ["heroku_drain_bodies"])


def heroku_system_samples(spark: SparkSession) -> DataFrame:
    """heroku-postgres system metric frames -> logfmt sample columns
    (heroku/logs.go:19-31 SystemSample)."""
    frames = heroku_frames(spark)
    c = F.col("content")
    return (
        frames.filter(F.col("proc_id") == "heroku-postgres")
        .select(
            "body_id",
            "frame_idx",
            F.concat(
                F.lit("HEROKU_POSTGRESQL_"),
                F.regexp_extract(c, r"source=(\w+)", 1),
            ).alias("source_name"),
            F.regexp_extract(c, r"sample#load-avg-1m=([0-9.]+)", 1)
            .cast("double")
            .alias("load_avg_1m"),
            F.regexp_extract(c, r"sample#memory-postgres=(\d+)kB", 1)
            .cast("long")
            .alias("memory_postgres_kb"),
            F.regexp_extract(c, r"sample#read-iops=(\d+)", 1)
            .cast("double")
            .alias("read_iops"),
            F.regexp_extract(c, r"sample#write-iops=(\d+)", 1)
            .cast("double")
            .alias("write_iops"),
        )
        .orderBy("body_id", "frame_idx")
    )


def oracle_heroku_system_samples() -> str:
    body = f"""
WITH RECURSIVE {_HEROKU_SPLIT_CTE}
SELECT body_id, frame_idx,
  'HEROKU_POSTGRESQL_' || regexp_extract(content, 'source=(\\w+)', 1) AS source_name,
  CAST(regexp_extract(content, 'sample#load-avg-1m=([0-9.]+)', 1) AS DOUBLE) AS load_avg_1m,
  CAST(regexp_extract(content, 'sample#memory-postgres=(\\d+)kB', 1) AS BIGINT) AS memory_postgres_kb,
  CAST(regexp_extract(content, 'sample#read-iops=(\\d+)', 1) AS DOUBLE) AS read_iops,
  CAST(regexp_extract(content, 'sample#write-iops=(\\d+)', 1) AS DOUBLE) AS write_iops
FROM frames
WHERE proc_id = 'heroku-postgres'
ORDER BY body_id, frame_idx
"""
    return oracle_query(body, ["heroku_drain_bodies"])


# ---------------------------------------------------------------------------
# GCP Pub/Sub (google_cloudsql/logs.go)
# ---------------------------------------------------------------------------

_GCP_SCHEMA = T.StructType(
    [
        T.StructField("insertId", T.StringType()),
        T.StructField("logName", T.StringType()),
        T.StructField("receiveTimestamp", T.StringType()),
        T.StructField(
            "resource",
            T.StructType(
                [
                    T.StructField("type", T.StringType()),
                    T.StructField("labels", T.MapType(T.StringType(), T.StringType())),
                ]
            ),
        ),
        T.StructField("severity", T.StringType()),
        T.StructField("textPayload", T.StringType()),
        T.StructField("timestamp", T.StringType()),
        T.StructField("labels", T.MapType(T.StringType(), T.StringType())),
    ]
)


def gcp_items(spark: SparkSession) -> DataFrame:
    """Pub/Sub messages -> log stream items (google_cloudsql/logs.go:89-180):
    postgres.log entries only; Cloud SQL routes on resource.labels
    database_id = project:instance, AlloyDB on cluster/instance labels plus
    the CONSUMER_PROJECT message label."""
    msgs = spark.table("gcp_pubsub_messages")
    m = F.from_json("payload", _GCP_SCHEMA).alias("m")
    df = msgs.select("msg_id", m).select(
        "msg_id",
        F.col("m.logName").alias("log_name"),
        F.col("m.resource.type").alias("rtype"),
        F.col("m.resource.labels").alias("rlabels"),
        F.col("m.labels").alias("mlabels"),
        F.col("m.textPayload").alias("content"),
        F.col("m.timestamp").alias("ts_s"),
    )
    df = df.filter(F.col("log_name").endswith("postgres.log"))
    db_id = F.col("rlabels").getItem("database_id")
    is_cloudsql = (F.col("rtype") == "cloudsql_database") & (
        F.size(F.split(db_id, ":")) == 2
    )
    is_alloydb = (
        (F.col("rtype") == "alloydb.googleapis.com/Instance")
        & F.col("rlabels").getItem("cluster_id").isNotNull()
        & F.col("rlabels").getItem("instance_id").isNotNull()
        & F.col("mlabels").getItem("CONSUMER_PROJECT").isNotNull()
    )
    return (
        df.filter(is_cloudsql | is_alloydb)
        .select(
            "msg_id",
            F.try_to_timestamp(F.col("ts_s")).alias("occurred_at"),
            F.when(is_cloudsql, F.split(db_id, ":").getItem(0))
            .otherwise(F.col("mlabels").getItem("CONSUMER_PROJECT"))
            .alias("project_id"),
            F.when(is_cloudsql, F.split(db_id, ":").getItem(1)).alias("instance_id"),
            F.when(is_alloydb, F.col("rlabels").getItem("cluster_id")).alias(
                "cluster_id"
            ),
            is_alloydb.alias("is_alloydb"),
            "content",
        )
        .orderBy("msg_id")
    )


def oracle_gcp_items() -> str:
    body = """
SELECT msg_id,
  CAST(TRY_CAST(json_extract_string(payload, '$.timestamp') AS TIMESTAMPTZ) AS TIMESTAMP) AS occurred_at,
  CASE WHEN is_cloudsql THEN split_part(db_id, ':', 1)
       ELSE json_extract_string(payload, '$.labels.CONSUMER_PROJECT') END AS project_id,
  CASE WHEN is_cloudsql THEN split_part(db_id, ':', 2) END AS instance_id,
  CASE WHEN NOT is_cloudsql THEN json_extract_string(payload, '$.resource.labels.cluster_id') END AS cluster_id,
  NOT is_cloudsql AS is_alloydb,
  json_extract_string(payload, '$.textPayload') AS content
FROM (
  SELECT msg_id, payload,
    json_extract_string(payload, '$.resource.labels.database_id') AS db_id,
    json_extract_string(payload, '$.resource.type') = 'cloudsql_database'
      AND length(json_extract_string(payload, '$.resource.labels.database_id'))
          - length(replace(json_extract_string(payload, '$.resource.labels.database_id'), ':', '')) = 1
      AS is_cloudsql,
    json_extract_string(payload, '$.resource.type') = 'alloydb.googleapis.com/Instance'
      AND json_extract_string(payload, '$.resource.labels.cluster_id') IS NOT NULL
      AND json_extract_string(payload, '$.resource.labels.instance_id') IS NOT NULL
      AND json_extract_string(payload, '$.labels.CONSUMER_PROJECT') IS NOT NULL
      AS is_alloydb_m
  FROM gcp_pubsub_messages
  WHERE json_extract_string(payload, '$.logName') LIKE '%postgres.log'
) p
WHERE is_cloudsql OR is_alloydb_m
ORDER BY msg_id
"""
    return oracle_query(body, ["gcp_pubsub_messages"])


# ---------------------------------------------------------------------------
# Azure Event Hub (azure/logs.go)
# ---------------------------------------------------------------------------

_AZURE_SCHEMA = T.StructType(
    [
        T.StructField(
            "records",
            T.ArrayType(
                T.StructType(
                    [
                        T.StructField("LogicalServerName", T.StringType()),
                        T.StructField("time", T.StringType()),
                        T.StructField("resourceId", T.StringType()),
                        T.StructField("category", T.StringType()),
                        T.StructField(
                            "properties",
                            T.StructType(
                                [
                                    T.StructField("prefix", T.StringType()),
                                    T.StructField("message", T.StringType()),
                                    T.StructField("detail", T.StringType()),
                                    T.StructField("errorLevel", T.StringType()),
                                    T.StructField("domain", T.StringType()),
                                ]
                            ),
                        ),
                    ]
                )
            ),
        )
    ]
)

# Azure-modified message repairs (azure/logs.go:62-64)
_CONN_RECEIVED = r"^(connection received: host=[^ ]+( port=\w+)?) pid=\d+"
_CONN_AUTHORIZED = r"^(connection authorized: user=\w+)(database=\w+)"
_CKPT_COMPLETE = r"^(checkpoint complete) \(\d+\)(:)"
# Cosmos DB prefix/content split (fixture prefix shape: "ts UTC [pid]: ")
_COSMOS_PREFIX = r"^(.*? UTC \[\d+\]: )(.*)$"


def azure_items(spark: SparkSession) -> DataFrame:
    """Event Hub record batches -> normalized log lines
    (azure/logs.go:258-316): Single Server messages are repaired back to
    standard Postgres text and re-joined with their prefix and level;
    Cosmos DB messages get the level spliced between prefix and content;
    Flexible Server passes through. A non-empty properties.detail emits an
    additional DETAIL line."""
    batches = spark.table("azure_eventhub_batches")
    rec = F.posexplode(F.from_json("payload", _AZURE_SCHEMA).getField("records"))
    df = batches.select("batch_id", rec.alias("rec_idx", "r"))
    parts = F.split(F.col("r.resourceId"), "/")
    rtype = F.lower(F.element_at(parts, -2))
    single = rtype == F.lit("servers")
    cosmos = rtype == F.lit("servergroupsv2")
    msg = F.col("r.properties.message")
    repaired = F.regexp_replace(
        F.regexp_replace(
            F.regexp_replace(msg, _CONN_RECEIVED, "$1"),
            _CONN_AUTHORIZED,
            "$1 $2",
        ),
        _CKPT_COMPLETE,
        "$1$2",
    )
    level = F.col("r.properties.errorLevel")
    content = (
        F.when(
            single,
            F.concat(F.col("r.properties.prefix"), level, F.lit(":  "), repaired),
        )
        .when(
            # gate on the prefix shape: the reference only splices the level
            # in when GetPrefixAndContent succeeds (azure/logs.go
            # ParseRecordToLogLines); otherwise the message passes through
            cosmos & msg.rlike(_COSMOS_PREFIX),
            F.concat(
                F.regexp_extract(msg, _COSMOS_PREFIX, 1),
                level,
                F.lit(":  "),
                F.regexp_extract(msg, _COSMOS_PREFIX, 2),
            ),
        )
        .otherwise(msg)
    )
    server_name = F.when(single, F.col("r.LogicalServerName")).otherwise(
        F.lower(F.element_at(parts, -1))
    )
    base = df.select(
        "batch_id",
        "rec_idx",
        server_name.alias("server_name"),
        F.try_to_timestamp(F.col("r.time")).alias("occurred_at"),
        level.alias("log_level"),
        content.alias("content"),
        F.col("r.properties.detail").alias("detail"),
    )
    main = base.select(
        "batch_id",
        "rec_idx",
        F.lit(0).alias("line_idx"),
        "server_name",
        "occurred_at",
        "log_level",
        "content",
    )
    details = base.filter(F.col("detail") != "").select(
        "batch_id",
        "rec_idx",
        F.lit(1).alias("line_idx"),
        "server_name",
        "occurred_at",
        F.lit("DETAIL").alias("log_level"),
        F.col("detail").alias("content"),
    )
    return main.unionAll(details).orderBy("batch_id", "rec_idx", "line_idx")


def oracle_azure_items() -> str:
    # the fixture guarantees exactly two records per batch, so the oracle
    # extracts $.records[0] and $.records[1] explicitly
    rec_exprs = ",\n  ".join(
        f"json_extract(payload, '$.records[{i}]') AS r{i}" for i in (0, 1)
    )
    per_rec = []
    for i in (0, 1):
        per_rec.append(f"""
SELECT batch_id, {i} AS rec_idx,
  json_extract_string(r{i}, '$.LogicalServerName') AS lsn,
  json_extract_string(r{i}, '$.resourceId') AS rid,
  json_extract_string(r{i}, '$.time') AS time_s,
  json_extract_string(r{i}, '$.properties.prefix') AS prefix,
  json_extract_string(r{i}, '$.properties.message') AS msg,
  json_extract_string(r{i}, '$.properties.detail') AS detail,
  json_extract_string(r{i}, '$.properties.errorLevel') AS lvl
FROM recs""")
    union = " UNION ALL ".join(per_rec)
    body = f"""
WITH recs AS (
  SELECT batch_id, {rec_exprs} FROM azure_eventhub_batches
),
flat AS ({union}),
typed AS (
  SELECT batch_id, rec_idx, lsn, time_s, prefix, msg, detail, lvl,
    lower(list_extract(string_split(rid, '/'), len(string_split(rid, '/')) - 1)) AS rtype,
    lower(list_extract(string_split(rid, '/'), len(string_split(rid, '/')))) AS last_part
  FROM flat
),
shaped AS (
  SELECT batch_id, rec_idx,
    CASE WHEN rtype = 'servers' THEN lsn ELSE last_part END AS server_name,
    CAST(TRY_CAST(time_s AS TIMESTAMPTZ) AS TIMESTAMP) AS occurred_at,
    lvl AS log_level,
    CASE
      WHEN rtype = 'servers' THEN prefix || lvl || ':  ' ||
        regexp_replace(regexp_replace(regexp_replace(msg,
          '{_CONN_RECEIVED}', '\\1'),
          '{_CONN_AUTHORIZED}', '\\1 \\2'),
          '{_CKPT_COMPLETE}', '\\1\\2')
      WHEN rtype = 'servergroupsv2' AND regexp_matches(msg, '{_COSMOS_PREFIX}') THEN
        regexp_extract(msg, '{_COSMOS_PREFIX}', 1) || lvl || ':  ' ||
        regexp_extract(msg, '{_COSMOS_PREFIX}', 2)
      ELSE msg
    END AS content,
    detail
  FROM typed
)
SELECT batch_id, rec_idx, 0 AS line_idx, server_name, occurred_at, log_level, content
FROM shaped
UNION ALL
SELECT batch_id, rec_idx, 1 AS line_idx, server_name, occurred_at,
  'DETAIL' AS log_level, detail AS content
FROM shaped WHERE detail <> ''
ORDER BY batch_id, rec_idx, line_idx
"""
    return oracle_query(body, ["azure_eventhub_batches"])


# ---------------------------------------------------------------------------
# OTel / jsonlog (selfhosted/otel_handler.go)
# ---------------------------------------------------------------------------


def otel_items(spark: SparkSession) -> DataFrame:
    """jsonlog key/value records -> log lines + DETAIL secondaries
    (otel_handler.go:303-357). ``get_json_object`` reads process_id /
    session_line_num whether JSON-encoded as string or int, matching
    anyValueInt (otel_handler.go:359-369)."""
    recs = spark.table("otel_log_records")

    def jf(path: str):  # noqa: ANN202
        return F.get_json_object("payload", f"$.{path}")

    base = recs.select(
        "rec_id",
        F.to_timestamp(
            F.replace(jf("log_time"), F.lit(" UTC"), F.lit("")),
            "yyyy-MM-dd HH:mm:ss",
        ).alias("occurred_at"),
        jf("user_name").alias("username"),
        jf("database_name").alias("database_name"),
        jf("process_id").cast("int").alias("backend_pid"),
        jf("application_name").alias("application"),
        jf("session_line_num").cast("int").alias("log_line_number"),
        jf("message").alias("content"),
        jf("detail").alias("detail"),
        jf("error_severity").alias("log_level"),
    )
    main = base.select(
        "rec_id",
        F.lit(0).alias("line_idx"),
        "occurred_at",
        "username",
        "database_name",
        "backend_pid",
        "application",
        "log_line_number",
        "log_level",
        "content",
    )
    details = base.filter(F.col("detail").isNotNull()).select(
        "rec_id",
        F.lit(1).alias("line_idx"),
        "occurred_at",
        "username",
        "database_name",
        "backend_pid",
        "application",
        "log_line_number",
        F.lit("DETAIL").alias("log_level"),
        F.col("detail").alias("content"),
    )
    return main.unionAll(details).orderBy("rec_id", "line_idx")


def oracle_otel_items() -> str:
    body = """
WITH base AS (
  SELECT rec_id,
    strptime(replace(json_extract_string(payload, '$.log_time'), ' UTC', ''),
             '%Y-%m-%d %H:%M:%S') AS occurred_at,
    json_extract_string(payload, '$.user_name') AS username,
    json_extract_string(payload, '$.database_name') AS database_name,
    CAST(json_extract_string(payload, '$.process_id') AS INT) AS backend_pid,
    json_extract_string(payload, '$.application_name') AS application,
    CAST(json_extract_string(payload, '$.session_line_num') AS INT) AS log_line_number,
    json_extract_string(payload, '$.message') AS content,
    json_extract_string(payload, '$.detail') AS detail,
    json_extract_string(payload, '$.error_severity') AS log_level
  FROM otel_log_records
)
SELECT rec_id, 0 AS line_idx, occurred_at, username, database_name, backend_pid,
  application, log_line_number, log_level, content
FROM base
UNION ALL
SELECT rec_id, 1 AS line_idx, occurred_at, username, database_name, backend_pid,
  application, log_line_number, 'DETAIL' AS log_level, detail AS content
FROM base WHERE detail IS NOT NULL
ORDER BY rec_id, line_idx
"""
    return oracle_query(body, ["otel_log_records"])


# ---------------------------------------------------------------------------
# Transport -> pipeline composition
# ---------------------------------------------------------------------------


def syslog_classified(spark: SparkSession) -> DataFrame:
    """End-to-end transport composition: RFC5424 frames -> normalized items
    -> the 110-family classification engine. Proves the transport output
    shape slots straight into the shared log pipeline (runner/logs.go feeds
    every receiver through the same AnalyzeStreamInGroups) — and the
    classify projection is stateless, so the identical plan also runs on a
    streaming source."""
    from collector_spark.logs.classify import classify_df

    items = syslog_items(spark).filter(F.col("framed"))
    shaped = items.select(
        F.col("backend_pid").alias("pid"),
        F.col("frame_id").alias("seq"),
        F.lit("LOG").alias("log_level"),
        "content",
    )
    return classify_df(shaped).orderBy("pid", "seq")


def oracle_syslog_classified() -> str:
    from collector_spark.logs.classify import oracle_classify

    inner = oracle_syslog_items()
    shaped = f"""
SELECT backend_pid AS pid, frame_id AS seq, 'LOG' AS log_level, content
FROM ({inner}) s WHERE framed
"""
    return oracle_classify(shaped)


# ---------------------------------------------------------------------------
# Docker log tail (selfhosted/logs.go:401-434)
# ---------------------------------------------------------------------------


def docker_items(spark: SparkSession) -> DataFrame:
    """Docker-tailed container lines -> pre-parse stream items. The
    reference pipes ``docker logs -f --tail 0`` straight into the standard
    per-line prefix parser (setupLogTransformer, selfhosted/logs.go:449-470)
    — no envelope, so the normalizer IS the prefix parse: PG-prefixed lines
    yield (occurred_at_text, backend_pid, log_level, content); container
    noise and tab continuations stay UNKNOWN with raw content, for the
    stitcher to fold or drop downstream."""
    return docker_items_df(spark.table("docker_lines")).orderBy("line_id")


def docker_items_df(frames: DataFrame) -> DataFrame:
    from collector_spark.logs.parse import _MARK, _SEP, PARSE_GROUPS, PARSE_REGEX

    # single-pass rewrite, same trick as parse_df: one regex evaluation per
    # tailed line (the hottest per-row path); docker lines carry no outer
    # pid column, so the [%p] prefix group supplies backend_pid
    replacement = _MARK + "".join(f"{_SEP}${i + 1}" for i in range(len(PARSE_GROUPS)))
    rewritten = F.regexp_replace(F.col("line"), PARSE_REGEX, replacement)
    matched = F.startswith(rewritten, F.lit(_MARK))
    parts = F.split(rewritten, _SEP)

    def grp(name: str):
        return F.get(parts, PARSE_GROUPS.index(name) + 1)

    return frames.select(
        "line_id",
        F.when(matched, grp("occurred_at")).alias("occurred_at_text"),
        F.when(matched, grp("pid").cast("int")).alias("backend_pid"),
        F.when(matched, grp("log_level")).otherwise(F.lit("UNKNOWN")).alias("log_level"),
        F.when(matched, grp("content")).otherwise(F.col("line")).alias("content"),
        matched.alias("parsed"),
    )


def oracle_docker_items() -> str:
    from collector_spark.logs.parse import PARSE_GROUPS, _oracle_regex

    rx = _oracle_regex()
    idx = {name: i + 1 for i, name in enumerate(PARSE_GROUPS)}
    body = f"""
SELECT line_id,
  CASE WHEN regexp_matches(line, '{rx}') THEN regexp_extract(line, '{rx}', {idx['occurred_at']}) END AS occurred_at_text,
  CASE WHEN regexp_matches(line, '{rx}') THEN CAST(regexp_extract(line, '{rx}', {idx['pid']}) AS INT) END AS backend_pid,
  CASE WHEN regexp_matches(line, '{rx}') THEN regexp_extract(line, '{rx}', {idx['log_level']}) ELSE 'UNKNOWN' END AS log_level,
  CASE WHEN regexp_matches(line, '{rx}') THEN regexp_extract(line, '{rx}', {idx['content']}) ELSE line END AS content,
  regexp_matches(line, '{rx}') AS parsed
FROM docker_lines
ORDER BY line_id
"""
    return oracle_query(body, ["docker_lines"])


def _replayed(table: DataFrame, transform) -> DataFrame:
    """Run ``transform`` to completion over ``table`` delivered through a
    file source (the stand-in for a receiver's socket or polling loop)."""
    with tempfile.TemporaryDirectory(prefix="collector_spark_transport_") as src:
        table.write.mode("overwrite").parquet(src)
        raw = table.sparkSession.readStream.schema(table.schema).parquet(src)
        return run_to_completion(transform(raw))


def stream_syslog_classified(spark: SparkSession) -> DataFrame:
    """The syslog receiver as a LIVE stream: frames arrive through a file
    source (the test stand-in for the TCP/TLS listener), the RFC5424
    normalizer and the full 110-family classification chain run as
    stateless streaming projections, and the sink sees classified rows per
    micro-batch — the Spark-native form of the reference's always-on
    syslog server feeding AnalyzeStreamInGroups.

    Verification runs trigger(availableNow) to completion and must equal
    the batch oracle exactly (same projection, same rows)."""
    from collector_spark.logs.classify import classify_df

    def classified(raw: DataFrame) -> DataFrame:
        items = syslog_items_df(raw).filter(F.col("framed"))
        return classify_df(
            items.select(
                F.col("backend_pid").alias("pid"),
                F.col("frame_id").alias("seq"),
                F.lit("LOG").alias("log_level"),
                "content",
            )
        )

    return _replayed(spark.table("syslog_frames"), classified).orderBy("pid", "seq")


# ---------------------------------------------------------------------------
# PlanetScale logs API (planetscale/logs.go)
# ---------------------------------------------------------------------------

_PS_SCHEMA = T.StructType(
    [
        T.StructField("_time", T.StringType()),
        T.StructField("_stream_id", T.StringType()),
        T.StructField("_msg", T.StringType()),
        T.StructField("planetscale.component", T.StringType()),
        T.StructField("planetscale.role", T.StringType()),
        T.StructField("planetscale.database_branch_id", T.StringType()),
        T.StructField("planetscale.pod", T.StringType()),
    ]
)


def _planetscale_parsed_df(entries: DataFrame) -> DataFrame:
    """NDJSON LogEntry stream -> parsed postgres/primary entries
    (planetscale/logs.go:39-47 LogEntry, :86-115 Read). Malformed entries
    are skipped-and-continued (from_json null / json_valid false); the
    component/role predicate is the server-side ``defaultQuery``
    (planetscale.component:postgres planetscale.role:primary,
    logs.go:27). Pure stateless projection — works unchanged over a batch
    table or a streaming source."""
    m = F.from_json("payload", _PS_SCHEMA).alias("m")
    df = entries.select("entry_id", m).select(
        "entry_id",
        F.col("m").getField("_time").alias("ts_s"),
        F.col("m").getField("_stream_id").alias("stream_id"),
        F.col("m").getField("_msg").alias("content"),
        F.col("m").getField("planetscale.component").alias("component"),
        F.col("m").getField("planetscale.role").alias("role"),
        F.col("m").getField("planetscale.database_branch_id").alias("branch_id"),
        F.col("m").getField("planetscale.pod").alias("pod"),
    )
    return df.filter(
        F.col("ts_s").isNotNull()
        & (F.col("component") == "postgres")
        & (F.col("role") == "primary")
    )


def _planetscale_parsed(spark: SparkSession) -> DataFrame:
    return _planetscale_parsed_df(spark.table("planetscale_entries"))


def _planetscale_items_df(entries: DataFrame) -> DataFrame:
    return _planetscale_parsed_df(entries).select(
        "entry_id",
        F.try_to_timestamp(F.col("ts_s")).alias("occurred_at"),
        "stream_id",
        "branch_id",
        "pod",
        "content",
    )


def planetscale_items(spark: SparkSession) -> DataFrame:
    return _planetscale_items_df(spark.table("planetscale_entries")).orderBy(
        "entry_id"
    )


def stream_planetscale_items(spark: SparkSession) -> DataFrame:
    """The PlanetScale receiver as a LIVE stream: NDJSON entries arrive
    through a file source (the test stand-in for the 30 s polling loop
    feeding the parse pipeline), and the same stateless normalizer
    projection runs per micro-batch. availableNow run-to-completion must
    equal the batch operator/oracle exactly — proving the envelope logic
    is streaming-safe (no batch-only constructs)."""
    return _replayed(
        spark.table("planetscale_entries"), _planetscale_items_df
    ).orderBy("entry_id")


_SQL_PS_PARSED = """
SELECT entry_id,
  json_extract_string(payload, '$._time') AS ts_s,
  json_extract_string(payload, '$._stream_id') AS stream_id,
  json_extract_string(payload, '$._msg') AS content,
  json_extract_string(payload, '$."planetscale.database_branch_id"') AS branch_id,
  json_extract_string(payload, '$."planetscale.pod"') AS pod
FROM planetscale_entries
WHERE json_valid(payload)
  AND json_extract_string(payload, '$."planetscale.component"') = 'postgres'
  AND json_extract_string(payload, '$."planetscale.role"') = 'primary'
"""


def oracle_planetscale_items() -> str:
    body = f"""
SELECT entry_id,
  CAST(TRY_CAST(ts_s AS TIMESTAMPTZ) AS TIMESTAMP) AS occurred_at,
  stream_id, branch_id, pod, content
FROM ({_SQL_PS_PARSED}) p
ORDER BY entry_id
"""
    return oracle_query(body, ["planetscale_entries"])


# fixture-scaled stand-in for maxLogParsingSize (10 MB, logs.go:35) — small
# enough that the fixture actually exercises the trailing-cap clipping
PS_MAX_KEEP_BYTES = 16384


def planetscale_tail_plan(spark: SparkSession) -> DataFrame:
    """The trailing-cap download plan per branch (planetscale/logs.go:
    199-253): entries accumulate in arrival order; when the buffer exceeds
    maxLogParsingSize the OLDEST bytes are discarded (shift-left), and the
    persisted ``since`` marker advances to the newest entry timestamp even
    when content was clipped. Same window shape as the RDS planner
    (operators/log_transport.py): suffix running sum ordered by entry_id
    DESC, partitioned by branch — the reference's per-branch fetch unit, so
    the window never sees more than one interval's entries. Resume: only
    entries strictly newer than the branch's persisted ``since`` marker are
    fetched (logs.go:203-210, the PaginationWithSince golden)."""
    from pyspark.sql import Window

    markers = spark.table("ps_prev_markers")
    p = (
        _planetscale_parsed(spark)
        .withColumn("occurred_at", F.try_to_timestamp(F.col("ts_s")))
        .join(F.broadcast(markers), on="branch_id", how="left")
        .filter(
            F.col("since_ts").isNull() | (F.col("occurred_at") > F.col("since_ts"))
        )
        .select(
            "entry_id",
            "branch_id",
            "ts_s",
            # ReadString appends the newline the framing stripped
            # (logs.go:78-81)
            (F.length("content") + F.lit(1)).cast("long").alias("byte_len"),
        )
    )
    w_suffix = (
        Window.partitionBy("branch_id")
        .orderBy(F.desc("entry_id"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    suffix_bytes = F.sum("byte_len").over(w_suffix).cast("long")
    cap = F.lit(PS_MAX_KEEP_BYTES)
    kept = (
        F.when(suffix_bytes <= cap, F.col("byte_len"))
        .when(
            suffix_bytes - F.col("byte_len") < cap,
            cap - (suffix_bytes - F.col("byte_len")),
        )
        .otherwise(F.lit(0))
    )
    return (
        p.withColumn("kept_bytes", kept)
        .groupBy("branch_id")
        .agg(
            F.count("*").cast("long").alias("entries"),
            F.sum("byte_len").cast("long").alias("bytes_downloaded"),
            F.sum("kept_bytes").cast("long").alias("bytes_kept"),
            F.max(F.try_to_timestamp(F.col("ts_s"))).alias("last_timestamp"),
        )
        .withColumn(
            "truncated", F.col("bytes_downloaded") > F.col("bytes_kept")
        )
        .orderBy("branch_id")
    )


def oracle_planetscale_tail_plan() -> str:
    cap = PS_MAX_KEEP_BYTES
    body = f"""
WITH resumed AS (
  SELECT p.*
  FROM ({_SQL_PS_PARSED}) p
  LEFT JOIN ps_prev_markers m USING (branch_id)
  WHERE m.since_ts IS NULL
     OR CAST(TRY_CAST(p.ts_s AS TIMESTAMPTZ) AS TIMESTAMP) > m.since_ts
),
parsed AS (
  SELECT entry_id, branch_id, ts_s,
    CAST(length(content) + 1 AS BIGINT) AS byte_len,
    CAST(SUM(length(content) + 1) OVER (
      PARTITION BY branch_id ORDER BY entry_id DESC
      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS suffix_bytes
  FROM resumed
)
SELECT branch_id,
  CAST(COUNT(*) AS BIGINT) AS entries,
  CAST(SUM(byte_len) AS BIGINT) AS bytes_downloaded,
  CAST(SUM(CASE WHEN suffix_bytes <= {cap} THEN byte_len
                WHEN suffix_bytes - byte_len < {cap} THEN {cap} - (suffix_bytes - byte_len)
                ELSE 0 END) AS BIGINT) AS bytes_kept,
  MAX(CAST(TRY_CAST(ts_s AS TIMESTAMPTZ) AS TIMESTAMP)) AS last_timestamp,
  CAST(SUM(byte_len) AS BIGINT)
    > CAST(SUM(CASE WHEN suffix_bytes <= {cap} THEN byte_len
                    WHEN suffix_bytes - byte_len < {cap} THEN {cap} - (suffix_bytes - byte_len)
                    ELSE 0 END) AS BIGINT) AS truncated
FROM parsed
GROUP BY branch_id
ORDER BY branch_id
"""
    return oracle_query(body, ["planetscale_entries", "ps_prev_markers"])


# ---------------------------------------------------------------------------
# Tembo Loki websocket (tembo/logs.go)
# ---------------------------------------------------------------------------

_TEMBO_SCHEMA = T.StructType(
    [
        T.StructField(
            "streams",
            T.ArrayType(
                T.StructType(
                    [
                        T.StructField(
                            "stream",
                            T.StructType(
                                [
                                    T.StructField("app", T.StringType()),
                                    T.StructField("container", T.StringType()),
                                    T.StructField("pod", T.StringType()),
                                    T.StructField("stream", T.StringType()),
                                    T.StructField(
                                        "tembo_instance_id", T.StringType()
                                    ),
                                    T.StructField(
                                        "tembo_organization_id", T.StringType()
                                    ),
                                ]
                            ),
                        ),
                        T.StructField(
                            "values", T.ArrayType(T.ArrayType(T.StringType()))
                        ),
                    ]
                )
            ),
        )
    ]
)


def _tembo_items_df(msgs: DataFrame) -> DataFrame:
    m = F.from_json("payload", _TEMBO_SCHEMA).alias("m")
    streams = msgs.select("msg_id", m).select(
        "msg_id", F.explode("m.streams").alias("s")
    )
    vals = streams.select(
        "msg_id",
        F.col("s.stream.tembo_instance_id").alias("instance_id"),
        F.col("s.stream.pod").alias("pod"),
        F.posexplode("s.values").alias("value_idx", "v"),
    )

    def jf(path: str):  # noqa: ANN202
        return F.get_json_object(F.col("v").getItem(1), f"$.record.{path}")

    base = vals.select(
        "msg_id",
        "value_idx",
        "instance_id",
        "pod",
        F.col("v").getItem(0).cast("long").alias("value_ts_ns"),
        F.to_timestamp(
            F.replace(jf("log_time"), F.lit(" UTC"), F.lit("")),
            "yyyy-MM-dd HH:mm:ss",
        ).alias("occurred_at"),
        jf("user_name").alias("username"),
        jf("database_name").alias("database_name"),
        jf("process_id").cast("int").alias("backend_pid"),
        jf("application_name").alias("application"),
        jf("session_line_num").cast("int").alias("log_line_number"),
        jf("message").alias("content"),
        jf("detail").alias("detail"),
        jf("error_severity").alias("log_level"),
    )
    common = [
        "msg_id",
        "value_idx",
        "instance_id",
        "pod",
        "value_ts_ns",
        "occurred_at",
        "username",
        "database_name",
        "backend_pid",
        "application",
        "log_line_number",
    ]
    main = base.select(
        *common, F.lit(0).alias("line_idx"), "log_level", "content"
    )
    details = base.filter(F.col("detail").isNotNull()).select(
        *common,
        F.lit(1).alias("line_idx"),
        F.lit("DETAIL").alias("log_level"),
        F.col("detail").alias("content"),
    )
    return main.unionAll(details)


def tembo_items(spark: SparkSession) -> DataFrame:
    """Loki StreamResult frames -> log lines + DETAIL secondaries
    (tembo/logs.go:144-162 stream walk, :167-218 logLineFromJsonlog): each
    values pair is [ns-timestamp, jsonlog-record]; the record's ``detail``
    key yields an extra DETAIL line duplicating the main line's metadata.
    Same jsonlog mapping as the OTel receiver — the envelope walk (streams
    -> values explode) is what Tembo adds."""
    return _tembo_items_df(spark.table("tembo_ws_messages")).orderBy(
        "msg_id", "value_idx", "line_idx"
    )


def stream_tembo_items(spark: SparkSession) -> DataFrame:
    """The Tembo receiver as a LIVE stream — in production it IS one (a
    Loki websocket, tembo/logs.go:41-77 readPump); the file source stands
    in for the socket and the identical stateless envelope walk runs per
    micro-batch. availableNow run-to-completion must equal the batch
    operator/oracle exactly, proving the frame walk is streaming-safe."""
    return _replayed(spark.table("tembo_ws_messages"), _tembo_items_df).orderBy(
        "msg_id", "value_idx", "line_idx"
    )


def oracle_tembo_items() -> str:
    def rec(i: int, path: str) -> str:
        return (
            "json_extract_string(json_extract_string(payload,"
            f" '$.streams[0].values[{i}][1]'), '$.record.{path}')"
        )

    def one(i: int) -> str:
        return f"""
SELECT msg_id, {i} AS value_idx,
  json_extract_string(payload, '$.streams[0].stream.tembo_instance_id') AS instance_id,
  json_extract_string(payload, '$.streams[0].stream.pod') AS pod,
  CAST(json_extract_string(payload, '$.streams[0].values[{i}][0]') AS BIGINT) AS value_ts_ns,
  strptime(replace({rec(i, 'log_time')}, ' UTC', ''), '%Y-%m-%d %H:%M:%S') AS occurred_at,
  {rec(i, 'user_name')} AS username,
  {rec(i, 'database_name')} AS database_name,
  CAST({rec(i, 'process_id')} AS INT) AS backend_pid,
  {rec(i, 'application_name')} AS application,
  CAST({rec(i, 'session_line_num')} AS INT) AS log_line_number,
  {rec(i, 'message')} AS content,
  {rec(i, 'detail')} AS detail,
  {rec(i, 'error_severity')} AS log_level
FROM tembo_ws_messages
"""

    body = f"""
WITH base AS ({one(0)} UNION ALL {one(1)})
SELECT msg_id, value_idx, instance_id, pod, value_ts_ns, occurred_at, username,
  database_name, backend_pid, application, log_line_number,
  0 AS line_idx, log_level, content
FROM base
UNION ALL
SELECT msg_id, value_idx, instance_id, pod, value_ts_ns, occurred_at, username,
  database_name, backend_pid, application, log_line_number,
  1 AS line_idx, 'DETAIL' AS log_level, detail AS content
FROM base WHERE detail IS NOT NULL
ORDER BY msg_id, value_idx, line_idx
"""
    return oracle_query(body, ["tembo_ws_messages"])


# ---------------------------------------------------------------------------
# Supabase log drain (supabase/logs.go) + Neon database fallback
# (neon/logs.go)
# ---------------------------------------------------------------------------


def supabase_items(spark: SparkSession) -> DataFrame:
    """Log drain records -> csvlog lines (supabase/logs.go:14-25
    ParsedFields): only records whose metadata carries a ``parsed`` object
    are Postgres logs; Supavisor pooler records share the envelope without
    it and are skipped. The OTLP kvlist envelope arrives flattened to JSON
    (protobuf decode is transport plumbing — the OTel receiver covers the
    OTLP record shape)."""
    recs = spark.table("supabase_drain_records")

    def pf(path: str):  # noqa: ANN202
        return F.get_json_object("payload", f"$.metadata.parsed.{path}")

    return (
        recs.filter(pf("timestamp").isNotNull())
        .select(
            "rec_id",
            F.to_timestamp(
                F.replace(pf("timestamp"), F.lit(" UTC"), F.lit("")),
                "yyyy-MM-dd HH:mm:ss",
            ).alias("occurred_at"),
            pf("user_name").alias("username"),
            pf("database_name").alias("database_name"),
            pf("process_id").cast("int").alias("backend_pid"),
            pf("application_name").alias("application"),
            pf("session_line_num").cast("int").alias("log_line_number"),
            pf("backend_type").alias("backend_type"),
            pf("error_severity").alias("log_level"),
            pf("message").alias("content"),
        )
        .orderBy("rec_id")
    )


def oracle_supabase_items() -> str:
    def pf(path: str) -> str:
        return f"json_extract_string(payload, '$.metadata.parsed.{path}')"

    body = f"""
SELECT rec_id,
  strptime(replace({pf('timestamp')}, ' UTC', ''), '%Y-%m-%d %H:%M:%S') AS occurred_at,
  {pf('user_name')} AS username,
  {pf('database_name')} AS database_name,
  CAST({pf('process_id')} AS INT) AS backend_pid,
  {pf('application_name')} AS application,
  CAST({pf('session_line_num')} AS INT) AS log_line_number,
  {pf('backend_type')} AS backend_type,
  {pf('error_severity')} AS log_level,
  {pf('message')} AS content
FROM supabase_drain_records
WHERE {pf('timestamp')} IS NOT NULL
ORDER BY rec_id
"""
    return oracle_query(body, ["supabase_drain_records"])


def neon_items(spark: SparkSession) -> DataFrame:
    """Neon log-database fallback (neon/logs.go:5-13): Neon's
    log_line_prefix omits %d because an endpoint serves exactly one
    database, so items with no parsed database attribute to the server's
    configured db name — on Neon servers only; other system types keep the
    NULL. One broadcast join against the bounded server-config dim."""
    items = spark.table("neon_log_items")
    servers = spark.table("neon_servers")
    j = items.join(F.broadcast(servers), on="server_id", how="left")
    fallback = F.when(F.col("system_type") == "neon", F.col("db_name"))
    return j.select(
        "item_id",
        "server_id",
        "database",
        F.coalesce(F.col("database"), fallback).alias("resolved_database"),
        "content",
    ).orderBy("item_id")


def oracle_neon_items() -> str:
    body = """
SELECT i.item_id, i.server_id, i.database,
  COALESCE(i.database,
           CASE WHEN s.system_type = 'neon' THEN s.db_name END) AS resolved_database,
  i.content
FROM neon_log_items i
LEFT JOIN neon_servers s USING (server_id)
ORDER BY i.item_id
"""
    return oracle_query(body, ["neon_log_items", "neon_servers"])
