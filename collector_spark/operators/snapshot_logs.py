"""F26/F27 — CompactLogSnapshot flattening: the log-pipeline twin of the
FullSnapshot facts (operators/snapshot_facts.py).

Reference: output/transform/logs.go:17-163 turns the transient log state
into a CompactLogSnapshot — LogLineInformation frames (occurred_at,
backend pid, level, classification, content, details JSON, parent link for
associated secondaries, dense role/database refs via the BaseRefs upsert)
plus QuerySample rows (transformPostgresQuerySamples: dense query ref from
the fingerprint upsert, role/database refs, runtime, explain presence).
output/compact.go:63-74 wraps both in the compact-snapshot envelope.

Spark shape: ONE fact assembly, ``log_pipeline_fact``, serves every log
fact. It takes line-staged rows (parse -> stitch -> collected_at join,
then ``classify_wide``'s added columns) and builds the dense
log_line_ref, the secondary->primary association, the role/database refs
and the details JSON. ``snapshot_log_fact`` feeds it the unredacted
lines, ``log_pipeline_full`` the redacted ones, and the streaming
lifecycle (st_log_pipeline_full) the stream's output. Dense indices follow
the core/dims global-sorted-rank contract (the reference's per-snapshot
insertion order is meaningless under distribution; a compact snapshot is
seconds of log lines, so the two-level rank is bounded work per window).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from collector_spark.core.dims import dense_index, ranked_rows
from collector_spark.functions.fingerprint import fingerprint, oracle_fingerprint
from collector_spark.logs.associate import associate_df, oracle_associate
from collector_spark.logs.classify import classify_wide, oracle_classify
from collector_spark.logs.parse import oracle_parse_lines, parse_lines
from collector_spark.logs.stitch import oracle_stitch_lines, stitch_df


def snapshot_log_fact(spark: SparkSession) -> DataFrame:
    """One LogLineInformation-shaped row per stitched log line (primaries
    AND associated secondaries) with unredacted content — see
    ``log_pipeline_fact`` for the columns."""
    return log_pipeline_fact(classify_wide(_staged_lines(spark)))


def _staged_lines(spark: SparkSession) -> DataFrame:
    """parse -> stitch, with each stitched line's collected_at joined back
    (the (pid, seq) join is 1:1)."""
    parsed = parse_lines(spark)
    return stitch_df(parsed).join(
        parsed.select("pid", "seq", "collected_at"), ["pid", "seq"]
    )


# the codegen-path redaction the full pipeline applies to secondary
# STATEMENT/DETAIL content (logs/replace.go's quoted-literal kind; the
# faithful marker pipeline stays registered as u8_redact_markers)
REDACT_LEVELS = ("STATEMENT", "DETAIL")
_SECRET_RE = r"'[^']*'"


def redact_content_expr() -> F.Column:
    needs = F.col("log_level").isin(*REDACT_LEVELS)
    return F.when(
        needs, F.regexp_replace(F.col("content"), _SECRET_RE, "[redacted]")
    ).otherwise(F.col("content"))


def log_pipeline_fact(wide: DataFrame) -> DataFrame:
    """The per-snapshot transform stage over fully line-staged rows
    (pid, seq, collected_at, log_level, username, database, application,
    content, line_count, classification, detail_num, detail_text) —
    output/transform/logs.go:17-163 run over a closed window:

      log_line_ref         0-based rank over (collected_at, pid, seq) —
                           the compact frame's dense line index
      parent_log_line_ref  the associated primary's ref for secondary
                           lines (-1 + has_parent otherwise), the
                           ParentUuid link of transform/logs.go:155-157
      role_idx/database_idx  dense refs over the prefix-parsed user/db
                           (upsertRoleReference/upsertDatabaseReference)
      classification + details_json  the U7 rule outcome for primaries
                           (transformSystemLogLine at logs.go:139-163;
                           secondaries carry no classification)

    log_line_ref via ranked_rows: the line key is unique, so no distinct
    pass or rank join-back is needed. Its eager localCheckpoint is the one
    materialization of the staged subtree; the association window and the
    role/database dims read that range-partitioned copy."""
    ranged, lines = ranked_rows(
        wide, ["collected_at", "pid", "seq"], "log_line_ref"
    )
    payload = F.struct(
        F.col("detail_num").cast("decimal(18,3)").cast("string").alias("detail_num"),
        F.col("detail_text"),
    )
    details_json = F.when(
        F.col("detail_num").isNotNull() | F.col("detail_text").isNotNull(),
        F.to_json(payload, {"ignoreNullFields": "false"}),
    )
    assoc = associate_df(ranged).select(
        "pid", F.col("secondary_seq").alias("seq"), F.col("primary_seq").alias("_pseq")
    )
    prim_ref = lines.select(
        F.col("pid").alias("_ppid"),
        F.col("seq").alias("_pseq2"),
        F.col("log_line_ref").alias("parent_log_line_ref"),
    )
    roles = dense_index(
        ranged.filter(F.col("username").isNotNull()), ["username"], "role_idx"
    )
    dbs = dense_index(
        ranged.filter(F.col("database").isNotNull()), ["database"], "database_idx"
    )
    fact = (
        lines.withColumn("details_json", details_json)
        .join(assoc, ["pid", "seq"], "left")
        .join(
            prim_ref,
            (F.col("pid") == F.col("_ppid")) & (F.col("_pseq") == F.col("_pseq2")),
            "left",
        )
        .join(F.broadcast(roles), ["username"], "left")
        .join(F.broadcast(dbs), ["database"], "left")
    )
    return fact.select(
        "log_line_ref",
        F.col("collected_at").alias("occurred_at"),
        F.col("pid").alias("backend_pid"),
        "log_level",
        "classification",
        "content",
        F.col("line_count").cast("long").alias("line_count"),
        F.col("parent_log_line_ref").isNotNull().alias("has_parent"),
        F.coalesce("parent_log_line_ref", F.lit(-1)).cast("int").alias(
            "parent_log_line_ref"
        ),
        F.col("role_idx").isNotNull().alias("has_role_idx"),
        F.coalesce("role_idx", F.lit(-1)).cast("int").alias("role_idx"),
        F.col("database_idx").isNotNull().alias("has_database_idx"),
        F.coalesce("database_idx", F.lit(-1)).cast("int").alias("database_idx"),
        "details_json",
    ).orderBy("log_line_ref")


def log_pipeline_full(spark: SparkSession) -> DataFrame:
    """The reference's §3.2 lifecycle as one batch composition: parse ->
    stitch -> classify -> redact -> compact-log-snapshot fact. The
    line-stage (classification + detail extraction over UNREDACTED
    content, then the redaction splice — the reference's ordering:
    analyze marks, replace splices) is the same stateless projection the
    streaming twin runs inside its query."""
    wide = classify_wide(_staged_lines(spark))
    return log_pipeline_fact(wide.withColumn("content", redact_content_expr()))


def oracle_log_pipeline_full() -> str:
    rx = _SECRET_RE.replace("'", "''")
    levels = ", ".join(f"'{lv}'" for lv in REDACT_LEVELS)
    content = (
        f"CASE WHEN l.log_level IN ({levels}) "
        f"THEN regexp_replace(l.content, '{rx}', '[redacted]', 'g') "
        f"ELSE l.content END"
    )
    return _oracle_log_fact(content)


def oracle_snapshot_log_fact() -> str:
    return _oracle_log_fact("l.content")


def _oracle_log_fact(content_expr: str) -> str:
    cls = oracle_classify("SELECT * FROM stitched_l").rsplit("ORDER BY", 1)[0]
    assoc = oracle_associate("SELECT * FROM stitched_l").rsplit("ORDER BY", 1)[0]
    return f"""
WITH parsed_l AS ({oracle_parse_lines()}),
stitched_l AS ({oracle_stitch_lines("SELECT * FROM parsed_l")}),
lines AS (
  SELECT s.*, t.collected_at
  FROM stitched_l s JOIN parsed_l t USING (pid, seq)
),
refs AS (
  SELECT pid, seq, collected_at,
    CAST(row_number() OVER (ORDER BY collected_at, pid, seq) - 1 AS INT)
      AS log_line_ref
  FROM lines
),
cls AS (
  SELECT pid, seq, classification,
    CASE WHEN detail_num IS NOT NULL OR detail_text IS NOT NULL THEN
      to_json(struct_pack(
        detail_num := CAST(CAST(detail_num AS DECIMAL(18,3)) AS VARCHAR),
        detail_text := detail_text))
    END AS details_json
  FROM ({cls}) c
),
assoc AS (
  SELECT pid, secondary_seq AS seq, primary_seq FROM ({assoc}) a
),
roles AS (
  SELECT username,
    CAST(row_number() OVER (ORDER BY username) - 1 AS INT) AS role_idx
  FROM (SELECT DISTINCT username FROM lines WHERE username IS NOT NULL) r
),
dbs AS (
  SELECT database,
    CAST(row_number() OVER (ORDER BY database) - 1 AS INT) AS database_idx
  FROM (SELECT DISTINCT database FROM lines WHERE database IS NOT NULL) d
)
SELECT r.log_line_ref,
  l.collected_at AS occurred_at,
  l.pid AS backend_pid,
  l.log_level,
  c.classification,
  {content_expr} AS content,
  CAST(l.line_count AS BIGINT) AS line_count,
  pr.log_line_ref IS NOT NULL AS has_parent,
  CAST(COALESCE(pr.log_line_ref, -1) AS INT) AS parent_log_line_ref,
  ro.role_idx IS NOT NULL AS has_role_idx,
  CAST(COALESCE(ro.role_idx, -1) AS INT) AS role_idx,
  db.database_idx IS NOT NULL AS has_database_idx,
  CAST(COALESCE(db.database_idx, -1) AS INT) AS database_idx,
  c.details_json
FROM lines l
JOIN refs r ON r.pid = l.pid AND r.seq = l.seq
LEFT JOIN cls c ON c.pid = l.pid AND c.seq = l.seq
LEFT JOIN assoc a ON a.pid = l.pid AND a.seq = l.seq
LEFT JOIN refs pr ON pr.pid = l.pid AND pr.seq = a.primary_seq
LEFT JOIN roles ro ON ro.username = l.username
LEFT JOIN dbs db ON db.database = l.database
ORDER BY r.log_line_ref
"""


def snapshot_query_sample_fact(spark: SparkSession) -> DataFrame:
    """QuerySample flattening (transformPostgresQuerySamples,
    output/transform/logs.go:22-99): one row per sampled query with the
    dense query reference (fingerprint upsert —
    upsertQueryReferenceAndInformationSimple keys the ref by the
    normalized-query fingerprint), dense role/database refs, occurred_at,
    runtime, and explain presence (HasExplain / the JSON reformat branch
    at logs.go:66-77). Empty-query samples are skipped (logs.go:26-28).

    Dense refs are per-fact sorted ranks (core/dims contract); the
    reference shares one BaseRefs upsert across samples and log lines —
    under distribution each fact ranks its own dimension domain and the
    star join reconciles on the natural key, not the index.
    """
    samples = spark.table("query_samples").filter(
        F.col("query_text").isNotNull() & (F.col("query_text") != "")
    )
    with_fp = samples.withColumn("fp", fingerprint(F.col("query_text")))
    qrefs = dense_index(with_fp, ["fp"], "query_idx")
    roles = dense_index(with_fp, ["username"], "role_idx")
    dbs = dense_index(with_fp, ["database_name"], "database_idx")
    return (
        with_fp.join(F.broadcast(qrefs), ["fp"])
        .join(F.broadcast(roles), ["username"], "left")
        .join(F.broadcast(dbs), ["database_name"], "left")
        .select(
            F.col("sample_id").cast("long").alias("sample_id"),
            "query_idx",
            F.col("fp").alias("query_fingerprint"),
            "role_idx",
            "database_idx",
            F.col("occurred_at_unix").cast("long").alias("occurred_at_unix"),
            F.col("runtime_ms").cast("long").alias("runtime_ms"),
            "query_text",
            F.col("plan_json").isNotNull().alias("has_explain"),
        )
        .orderBy("sample_id")
    )


def oracle_snapshot_query_sample_fact() -> str:
    fp = oracle_fingerprint("query_text")
    return f"""
WITH s AS (
  SELECT *, {fp} AS fp FROM query_samples
  WHERE query_text IS NOT NULL AND query_text <> ''
),
qrefs AS (
  SELECT fp, CAST(row_number() OVER (ORDER BY fp) - 1 AS INT) AS query_idx
  FROM (SELECT DISTINCT fp FROM s) q
),
roles AS (
  SELECT username,
    CAST(row_number() OVER (ORDER BY username) - 1 AS INT) AS role_idx
  FROM (SELECT DISTINCT username FROM s) r
),
dbs AS (
  SELECT database_name,
    CAST(row_number() OVER (ORDER BY database_name) - 1 AS INT) AS database_idx
  FROM (SELECT DISTINCT database_name FROM s) d
)
SELECT CAST(s.sample_id AS BIGINT) AS sample_id,
  q.query_idx,
  s.fp AS query_fingerprint,
  r.role_idx,
  d.database_idx,
  CAST(s.occurred_at_unix AS BIGINT) AS occurred_at_unix,
  CAST(s.runtime_ms AS BIGINT) AS runtime_ms,
  s.query_text,
  s.plan_json IS NOT NULL AS has_explain
FROM s
JOIN qrefs q USING (fp)
LEFT JOIN roles r USING (username)
LEFT JOIN dbs d USING (database_name)
ORDER BY sample_id
"""
