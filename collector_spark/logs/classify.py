"""U7 — log-event classification rule engine.

The reference classifies ~110 event types with prefix-bucketed regex
dispatch (logs/analyze.go:33-1183, dispatch at :2078-2213): a literal
prefix check short-circuits before the (expensive) regex runs. Here the
rule table is DATA, and both the Spark rule chain and the DuckDB oracle
CASE are generated from it — same pattern, two renderings, zero drift.
Everything stays JVM-side (startswith + regexp_extract inside whole-stage
codegen); Catalyst will not reorder regex cost itself (SURVEY.md §4), so
the prefix short-circuit is encoded explicitly in each branch.

The Spark chain is rendered as SQL text once, at import, and each pass
is parsed JVM-side by one ``F.expr``: building the same ~115-rule tree
through the Column API cost one py4j round trip per call (~19k, ~2 s per
build, paid by every batch cycle and stream start). The text nests every
CASE exactly as ``when(...).otherwise(...)`` does, so the analyzed plan
is the one the Column API built.

Details are extracted into typed columns (detail_num DOUBLE, detail_text)
rather than a map so the oracle can compare them value-by-value.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from collector_spark.logs.associate import associate_secondaries
from collector_spark.logs.rules import RULES, Rule
from collector_spark.logs.stitch import stitch_lines

PRIMARY_LEVELS = ("LOG", "ERROR", "FATAL", "WARNING", "PANIC", "NOTICE")


def classify(spark: SparkSession) -> DataFrame:
    return classify_df(stitch_lines(spark))


_CHUNK = 16

# r13 rewrite-then-split classification (guide §4 "cut regex evaluations",
# the parse.py idiom). The r12 shape evaluated the matched rule's regex up
# to FOUR times per line: the pass-1 rlike, a merged-class rlike re-check
# in each detail chain, and one regexp_extract each for detail_num /
# detail_text. Now:
#
#   pass 1 (_rule_id_sql): the prefix-short-circuited rlike chain —
#     r12's proven codegen shape, additionally first-char-bucketed —
#     yields the matched rule's global INDEX (one regex evaluation);
#   pass 2 (_rewrite_sql): keyed on that index with cheap int equality,
#     ONE regexp_replace rewrites the line into `num<SEP><TXT>text<SEP>`
#     — both details in one more evaluation (anchored regexes match at
#     most once, so replace == rewrite-if-match and the unmatched tail
#     lands after the final SEP);
#   pass 3: classification = an array-literal lookup by index; num/txt
#     come off the split rewrite.
#
# Each pass is SQL text generated from RULES and parsed once per build
# (module docstring), in the nested `ELSE CASE ... END` form the Column
# API produced, so the plans and their codegen layout are unchanged.
# Two regex evaluations of the matched rule per line, total, and no
# merged-class re-checks (the index pins the rule exactly). Each pass is
# its own projection layer and therefore its own generated doConsume
# method: a single fused chain of 115 (rlike + regexp_replace) branches
# blew the JVM's 64 KB method limit in operator contexts where Spark
# cannot split expressions out (observed as ERROR CodeGenerator + silent
# interpreted fallback on tr_syslog_classify during this round's
# verification), while these bounded layers each stay well under it. The
# control-char separators never occur in postgres log text (the parse.py
# assumption, same corpus). A line that does carry one (a stitched
# continuation line can) splits into extra parts; its details then come
# from one capture rewrite each (_NUM_SQL, _TXT_SQL), which no SEP can
# shift, so the line classifies correctly instead of failing the batch
# (a stream would replay it and fail again on every restart).
_RSEP = "\x01"
# marks "the matched rule HAS a text group": an absent group must yield
# NULL detail_text while a present-but-unmatched alternate yields '' —
# the flag byte keeps the two distinguishable after the split
_RTXT = "\x03"

assert all(r.regex.startswith("^") for r in RULES)
assert all(
    set(r.classification).isdisjoint({_RSEP, _RTXT, "$", "\\"}) for r in RULES
)


def _sql_str(s: str) -> str:
    """A Spark SQL string literal holding exactly ``s``. Spark unescapes
    backslash sequences inside literals and joins adjacent literals, so
    the ANSI '' doubling of ``_sql_quote`` would silently drop a quote:
    escape the backslash first, then the quote."""
    return "'" + s.replace("\\", "\\\\").replace("'", "\\'") + "'"


def _sql_array(items) -> str:
    return f"array({', '.join('NULL' if s is None else _sql_str(s) for s in items)})"


def _nested_case(branches: list[tuple[str, str]], null_sql: str) -> str:
    """`CASE WHEN c1 THEN v1 ELSE CASE WHEN c2 ... ELSE <null> END END`:
    the nesting the Column API's when(...).otherwise(sub) builds, so the
    parsed tree is the plan the chain shapes were tuned on (a flat
    multi-WHEN CASE yields the same rows but a different plan and
    codegen layout)."""
    sql = null_sql
    for cond, val in reversed(branches):
        sql = f"CASE WHEN {cond} THEN {val} ELSE {sql} END"
    return sql


def _match_sql(r: Rule) -> str:
    # OR over the rule's prefix list (analyze.go attaches several literal
    # prefixes per rule) — still a cheap short-circuit before the regex;
    # parenthesized pairwise so the ORs nest as a left fold (the parser
    # would balance a bare OR chain)
    pre = f"startswith(content, {_sql_str(r.prefixes[0])})"
    for p in r.prefixes[1:]:
        pre = f"({pre} OR startswith(content, {_sql_str(p)}))"
    return f"({pre} AND content RLIKE {_sql_str(r.regex)})"


_PRIMARY = f"log_level IN ({', '.join(_sql_str(lv) for lv in PRIMARY_LEVELS)})"


def _rule_id_sql() -> str:
    """Pass 1: first-match-wins rule INDEX of a primary line (int, NULL
    when no rule matches) — the r12 chain shape (COALESCE of bounded
    ~16-rule sub-chains; a monolithic 115-branch CASE exceeds the codegen
    method limit) with the branch value a literal int instead of the
    classification string, plus a first-character gate per sub-chain: rule
    prefixes are non-empty literals, so a rule can only match lines
    starting with one of its prefixes' first characters — a line evaluates
    only its bucket's ~6-30 prefix tests instead of all 115 (r12 verdict
    item 4). First-match-wins is preserved: a line's first char selects
    exactly the buckets holding every rule that could match it, bucket
    membership keeps global RULES order, and coalesce takes the first
    non-null gated sub-chain."""
    buckets: dict[str, list[int]] = {}
    for i, r in enumerate(RULES):
        for c in sorted({p[0] for p in r.prefixes}):
            buckets.setdefault(c, []).append(i)
    chunks = [
        f"CASE WHEN substring(content, 1, 1) = {_sql_str(c)} THEN "
        + _nested_case(
            [(_match_sql(RULES[i]), str(i)) for i in ids[start : start + _CHUNK]],
            "CAST(NULL AS INT)",
        )
        + " END"
        for c, ids in sorted(buckets.items())
        for start in range(0, len(ids), _CHUNK)
    ]
    return f"CASE WHEN {_PRIMARY} THEN coalesce({', '.join(chunks)}) END"


def _repl(r: Rule) -> str:
    num = f"${r.num_group}" if r.num_group else ""
    txt = f"{_RTXT}${r.text_group}" if r.text_group else ""
    return f"{num}{_RSEP}{txt}{_RSEP}"


def _rewrite_sql() -> str:
    """Pass 2: ONE regexp_replace of the matched rule (selected by cheap
    int equality on the pass-1 index) emitting `num<SEP><TXT>text<SEP>`
    followed by the unmatched tail of the line, split on SEP — only rules
    that declare a detail group appear; all other (and unmatched) lines
    yield NULL."""
    detailed = [
        (i, r) for i, r in enumerate(RULES) if r.num_group or r.text_group
    ]
    chunks = [
        _nested_case(
            [
                (
                    f"_rid = {i}",
                    f"regexp_replace(content, {_sql_str(r.regex)}, "
                    f"{_sql_str(_repl(r))})",
                )
                for i, r in detailed[start : start + _CHUNK]
            ],
            "CAST(NULL AS STRING)",
        )
        for start in range(0, len(detailed), _CHUNK)
    ]
    return f"split(coalesce({', '.join(chunks)}), {_sql_str(_RSEP)})"


# the rule's pattern with the unmatched tail consumed: the `(?s:.*)` suffix
# does not change which match the rule's pattern picks, so a rewrite with
# it drops the tail. Looked up per row by _rid (one regexp_replace,
# compiled whenever the pattern changes), which suits the rare lines it
# runs on.
_TAILLESS_PATS = _sql_array(f"(?:{r.regex})(?s:.*)" for r in RULES)


def _capture_sql(groups: list[int]) -> str:
    """Capture group ``groups[_rid]`` of the line's rule by itself: the
    tailless pattern replaces the whole line with that group — exactly
    regexp_extract's value, '' for a non-participating group — and a rule
    without the group (0) gets a NULL replacement, hence NULL."""
    reps = _sql_array(f"${g}" if g else None for g in groups)
    return (
        f"regexp_replace(content, get({_TAILLESS_PATS}, _rid), get({reps}, _rid))"
    )


# the passes as SQL text, rendered once from RULES (module docstring)
_RID_SQL = _rule_id_sql()
_PARTS_SQL = _rewrite_sql()
# more than 3 split parts: a SEP somewhere in the line (rare)
_CLASH = "size(_parts) > 3"
# pass 3: classification = an array-literal lookup by index; num/txt come
# off the split rewrite. Value-exact vs the r12 two-pass chains: an
# unmatched line has NULL rid/parts -> UNCLASSIFIED / NULL / NULL; a rule
# without num_group wrote '' -> nullif -> NULL (same as a present-but-
# empty capture, exactly like regexp_extract + nullif); detail_text
# distinguishes absent group (no flag byte -> NULL) from empty capture
# (flag byte alone -> ''); a <TXT> byte inside a capture is harmless, only
# the first one is read. A line with extra parts (a SEP in it, which may
# shift the split) takes each detail from its own capture rewrite
# instead, with the same NULL vs '' semantics.
_CLASS_SQL = (
    f"CASE WHEN {_PRIMARY} THEN coalesce(get("
    f"{_sql_array(r.classification for r in RULES)}, _rid), 'UNCLASSIFIED') END"
)
_NUM_SQL = (
    f"CAST(nullif(CASE WHEN {_CLASH} THEN "
    f"{_capture_sql([r.num_group for r in RULES])} "
    "ELSE get(_parts, 0) END, '') AS DOUBLE)"
)
_TXT_SQL = (
    f"CASE WHEN {_CLASH} THEN {_capture_sql([r.text_group for r in RULES])} "
    f"WHEN startswith(get(_parts, 1), {_sql_str(_RTXT)}) "
    "THEN substring(get(_parts, 1), 2, 2147483647) END"
)


def _rewrite_groups(lines: DataFrame, regex: str, n_groups: int) -> DataFrame:
    """``lines`` plus ``_g``: ALL capture groups of an (anchored) regex
    over ``content`` in ONE evaluation — the shared rewrite-then-split
    helper (r12 verdict item 9): a single regexp_replace rewrites a
    matched line into its SEP-joined groups (group i lands at array index
    i-1), so each former per-group regexp_extract becomes a cheap array
    index. Non-participating groups render as '' exactly like
    regexp_extract; the unmatched tail of the line lands after the final
    SEP (index n_groups, never read). A split with more parts means a SEP
    byte somewhere in the line, possibly inside a capture (a stitched
    continuation line in a ``[^ ]+`` group), so such a line takes every
    group from per-group regexp_extract instead. The split is its own
    projection layer, referenced twice, so it runs once per line. The
    caller's filter must guarantee the regex matches (the extractors all
    gate on prefix + rlike)."""
    assert regex.startswith("^"), "rewrite-then-split needs an anchored regex"
    repl = _RSEP.join(f"${i}" for i in range(1, n_groups + 1)) + _RSEP
    extracts = F.expr(
        f"transform(sequence(1, {n_groups}), "
        f"i -> regexp_extract(content, {_sql_str(regex)}, i))"
    )
    split = lines.withColumn(
        "_g", F.split(F.regexp_replace(F.col("content"), regex, repl), _RSEP)
    )
    return split.withColumn(
        "_g", F.when(F.size("_g") > n_groups + 1, extracts).otherwise(F.col("_g"))
    )


def classify_df(stitched: DataFrame) -> DataFrame:
    """Classify a stitched-lines frame — batch OR streaming: the primary
    lines of ``classify_wide`` projected to (pid, seq, log_level,
    classification, detail_num, detail_text)."""
    primaries = stitched.filter(F.expr(_PRIMARY))
    return classify_wide(primaries).select(
        "pid", "seq", "log_level", "classification", "detail_num", "detail_text"
    )


def classify_wide(lines: DataFrame) -> DataFrame:
    """The rule chain as ADDED columns over a stitched-shaped frame,
    keeping every input column: primaries get the classification + detail
    columns, secondaries carry NULLs. Stateless, so the same projection
    runs on batch lines and on the sessionizer's stream output.

    Separate projection layers on purpose (see the pass notes above):
    `_rid` and `_parts` are each referenced several times downstream, so
    CollapseProject keeps the layers separate — each pass evaluates ONCE
    per line in its own codegen method, and the capture rewrites run only
    on the rare line whose split has extra parts."""
    return (
        lines.withColumn("_rid", F.expr(_RID_SQL))
        .withColumn("_parts", F.expr(_PARTS_SQL))
        .withColumn("classification", F.expr(_CLASS_SQL))
        .withColumn("detail_num", F.expr(_NUM_SQL))
        .withColumn("detail_text", F.expr(_TXT_SQL))
        .drop("_rid", "_parts")
    )


def classify_q(spark: SparkSession) -> DataFrame:
    return classify(spark).orderBy("pid", "seq")


def _sql_quote(s: str) -> str:
    return s.replace("'", "''")


def details_json(spark: SparkSession) -> DataFrame:
    """Details serialization (output/transform/logs.go:158-163): the
    classified line's detail map rendered as a JSON string column.
    ignoreNullFields=false keeps null details explicit, matching the
    reference's map serialization (and DuckDB's struct rendering)."""
    c = classify(spark)
    # numbers render as strings via a fixed-scale DECIMAL cast — the one
    # numeric->text rendering both engines produce byte-identically
    # (double JSON/string rendering differs: scientific vs plain)
    payload = F.struct(
        F.col("classification"),
        F.col("detail_num").cast("decimal(18,3)").cast("string").alias("detail_num"),
        F.col("detail_text"),
    )
    return c.select(
        "pid",
        "seq",
        "log_level",
        F.to_json(payload, {"ignoreNullFields": "false"}).alias("details_json"),
    ).orderBy("pid", "seq")


def oracle_details_json(stitched_cte: str) -> str:
    inner = oracle_classify(stitched_cte)
    return f"""
SELECT pid, seq, log_level,
  to_json(struct_pack(
    classification := classification,
    detail_num := CAST(CAST(detail_num AS DECIMAL(18,3)) AS VARCHAR),
    detail_text := detail_text)) AS details_json
FROM ({inner}) c
ORDER BY pid, seq
"""


# ---------------------------------------------------------------------------
# Autovacuum detail extraction (SURVEY §7.4 hard part 3): the PG14-era
# subset of the reference's 60-group autovacuum regex (analyze.go:81-108),
# numbered groups mapped to typed columns.
# ---------------------------------------------------------------------------

AUTOVACUUM_DETAIL_RE = (
    r'^automatic (aggressive )?vacuum (to prevent wraparound )?of table "([^"]+)":'
    r" index scans: ([0-9]+), pages: ([0-9]+) removed, ([0-9]+) remain,"
    r" tuples: ([0-9]+) removed, ([0-9]+) remain, ([0-9]+) are dead but not yet removable"
    r"(?:, oldest xmin: ([0-9]+))?,"
    r" buffer usage: ([0-9]+) hits, ([0-9]+) (?:misses|reads), ([0-9]+) dirtied,"
    r" avg read rate: ([0-9.]+) MB/s, avg write rate: ([0-9.]+) MB/s,"
    r" WAL usage: ([0-9]+) records, ([0-9]+) full page images, ([0-9]+) bytes,"
    r" system usage: CPU: user: ([0-9.]+) s, system: ([0-9.]+) s, elapsed: ([0-9.]+) s"
)

# group -> (column, type); optional groups go through NULLIF('')
_AV_GROUPS: list[tuple[int, str, str, bool]] = [
    (1, "aggressive", "flag", False),
    (2, "wraparound", "flag", False),
    (3, "relname", "string", False),
    (4, "idx_scans", "long", False),
    (5, "pages_removed", "long", False),
    (6, "pages_remain", "long", False),
    (7, "tuples_removed", "long", False),
    (8, "tuples_remain", "long", False),
    (9, "tuples_new_dead", "long", False),
    (10, "oldest_xmin", "long", True),
    (11, "buffer_hits", "long", False),
    (12, "buffer_misses", "long", False),
    (13, "buffers_dirtied", "long", False),
    (14, "read_rate_mbps", "double", False),
    (15, "write_rate_mbps", "double", False),
    (16, "wal_records", "long", False),
    (17, "wal_fpis", "long", False),
    (18, "wal_bytes", "long", False),
    (19, "cpu_user_secs", "double", False),
    (20, "cpu_system_secs", "double", False),
    (21, "cpu_elapsed_secs", "double", False),
]


def autovacuum_details(spark: SparkSession) -> DataFrame:
    """U7 depth: typed per-field extraction from autovacuum completion
    lines. One prefix filter + filter-rlike, then ONE rewrite evaluation
    per matching line yields all 21 groups (r13: was one regexp_extract
    per group — 21 evaluations of the shared pattern per line)."""
    lines = stitch_lines(spark).filter(
        F.col("content").startswith("automatic ")
        & F.col("content").rlike(AUTOVACUUM_DETAIL_RE)
    )
    staged = _rewrite_groups(lines, AUTOVACUUM_DETAIL_RE, len(_AV_GROUPS))
    cols: list[Column] = [F.col("pid"), F.col("seq")]
    for gi, name, typ, optional in _AV_GROUPS:
        e = F.get(F.col("_g"), gi - 1)
        if typ == "flag":
            cols.append((e != "").alias(name))
        elif typ == "string":
            cols.append(e.alias(name))
        else:
            e = F.nullif(e, F.lit("")) if optional else e
            cols.append(e.cast(typ).alias(name))
    return staged.select(*cols).orderBy("pid", "seq")


def oracle_autovacuum_details(stitched_cte: str) -> str:
    # DuckDB's numeric regexp_extract caps group index at 9; the list-of-
    # names form returns a struct covering every group in one evaluation
    rx = _sql_quote(AUTOVACUUM_DETAIL_RE)
    names = ", ".join(f"'{name}'" for _, name, _, _ in _AV_GROUPS)
    cols = []
    for _, name, typ, optional in _AV_GROUPS:
        e = f"g.{name}"
        if typ == "flag":
            cols.append(f"{e} <> '' AS {name}")
        elif typ == "string":
            cols.append(f"{e} AS {name}")
        else:
            sql_t = {"long": "BIGINT", "double": "DOUBLE"}[typ]
            if optional:
                e = f"NULLIF({e}, '')"
            cols.append(f"CAST({e} AS {sql_t}) AS {name}")
    col_sql = ",\n  ".join(cols)
    return f"""
WITH stitched AS ({stitched_cte}),
matched AS (
  SELECT pid, seq, regexp_extract(content, '{rx}', [{names}]) AS g
  FROM stitched
  WHERE starts_with(content, 'automatic ') AND regexp_matches(content, '{rx}')
)
SELECT pid, seq,
  {col_sql}
FROM matched
ORDER BY pid, seq
"""


def oracle_classify(stitched_cte: str) -> str:
    levels = ", ".join(f"'{lv}'" for lv in PRIMARY_LEVELS)

    def match(r: Rule) -> str:
        pre = " OR ".join(
            f"starts_with(content, '{_sql_quote(p)}')" for p in r.prefixes
        )
        rx = _sql_quote(r.regex)
        return f"({pre}) AND regexp_matches(content, '{rx}')"

    cls = "CASE " + " ".join(
        f"WHEN {match(r)} THEN '{r.classification}'" for r in RULES
    ) + " ELSE 'UNCLASSIFIED' END"
    num = "CASE " + " ".join(
        (
            f"WHEN {match(r)} THEN "
            + (
                # NULLIF: with full-alternation rules (wraparound OID-vs-
                # name) the num group can be legitimately unmatched; Spark's
                # cast('') yields NULL, DuckDB's errors without the NULLIF
                f"CAST(NULLIF(regexp_extract(content, '{_sql_quote(r.regex)}', {r.num_group}), '') AS DOUBLE)"
                if r.num_group
                else "CAST(NULL AS DOUBLE)"
            )
        )
        for r in RULES
    ) + " ELSE CAST(NULL AS DOUBLE) END"
    txt = "CASE " + " ".join(
        (
            f"WHEN {match(r)} THEN "
            + (
                f"regexp_extract(content, '{_sql_quote(r.regex)}', {r.text_group})"
                if r.text_group
                else "CAST(NULL AS VARCHAR)"
            )
        )
        for r in RULES
    ) + " ELSE CAST(NULL AS VARCHAR) END"

    return f"""
WITH stitched AS ({stitched_cte})
SELECT pid, seq, log_level,
  {cls} AS classification,
  {num} AS detail_num,
  {txt} AS detail_text
FROM stitched
WHERE log_level IN ({levels})
ORDER BY pid, seq
"""


# checkpoint/restartpoint completion stat vector (analyze.go:130-141,
# detail mapping at analyze.go:1367-1407): 17 groups incl. the PG18 SLRU
# clause and lsn pair as optionals
CHECKPOINT_DETAIL_RE = (
    r"^(checkpoint|restartpoint) complete: wrote (\d+) buffers \(([\d.]+)%\)"
    r"(?:, wrote (\d+) SLRU buffers)?; "
    r"(\d+) (?:transaction log|WAL) file\(s\) added, (\d+) removed, (\d+) recycled; "
    r"write=([\d.]+) s, sync=([\d.]+) s, total=([\d.]+) s; "
    r"sync files=(\d+), longest=([\d.]+) s, average=([\d.]+) s"
    r"; distance=(\d+) kB, estimate=(\d+) kB"
    r"(?:; lsn=([A-F0-9]+/[A-F0-9]+), redo lsn=([A-F0-9]+/[A-F0-9]+))?"
)

_CKPT_GROUPS = [
    (1, "kind", "string", False),
    (2, "bufs_written", "long", False),
    (3, "bufs_written_pct", "double", False),
    (4, "slru_buffers", "long", True),
    (5, "segs_added", "long", False),
    (6, "segs_removed", "long", False),
    (7, "segs_recycled", "long", False),
    (8, "write_secs", "double", False),
    (9, "sync_secs", "double", False),
    (10, "total_secs", "double", False),
    (11, "sync_rels", "long", False),
    (12, "longest_secs", "double", False),
    (13, "average_secs", "double", False),
    (14, "distance_kb", "long", False),
    (15, "estimate_kb", "long", False),
    (16, "lsn", "optstring", True),
    (17, "redo_lsn", "optstring", True),
]


def checkpoint_details(spark: SparkSession) -> DataFrame:
    """U7 depth: the full checkpoint-complete detail vector — the
    reference's richest numeric extraction. One prefix filter + one shared
    regex; optional groups surface as NULL (SLRU pre-PG18, lsn pair)."""
    return _checkpoint_details_from(stitch_lines(spark))


def _checkpoint_details_from(stitched: DataFrame) -> DataFrame:
    lines = stitched.filter(
        (
            F.col("content").startswith("checkpoint complete")
            | F.col("content").startswith("restartpoint complete")
        )
        & F.col("content").rlike(CHECKPOINT_DETAIL_RE)
    )
    # one rewrite evaluation yields all 17 groups (r13; was 17 extracts)
    staged = _rewrite_groups(lines, CHECKPOINT_DETAIL_RE, len(_CKPT_GROUPS))
    cols: list[Column] = [F.col("pid"), F.col("seq")]
    for gi, name, typ, optional in _CKPT_GROUPS:
        e = F.get(F.col("_g"), gi - 1)
        if typ in ("string", "optstring"):
            cols.append(
                F.nullif(e, F.lit("")).alias(name) if optional else e.alias(name)
            )
        else:
            e2 = F.nullif(e, F.lit("")) if optional else e
            cols.append(e2.cast(typ).alias(name))
    return staged.select(*cols).orderBy("pid", "seq")


def oracle_checkpoint_details(stitched_cte: str) -> str:
    rx = _sql_quote(CHECKPOINT_DETAIL_RE)
    names = ", ".join(f"'{name}'" for _, name, _, _ in _CKPT_GROUPS)
    cols = []
    for _, name, typ, optional in _CKPT_GROUPS:
        e = f"g.{name}"
        if typ in ("string", "optstring"):
            cols.append((f"NULLIF({e}, '') AS {name}") if optional else f"{e} AS {name}")
        else:
            sql_t = {"long": "BIGINT", "double": "DOUBLE"}[typ]
            if optional:
                e = f"NULLIF({e}, '')"
            cols.append(f"CAST({e} AS {sql_t}) AS {name}")
    col_sql = ",\n  ".join(cols)
    return f"""
WITH stitched AS ({stitched_cte}),
matched AS (
  SELECT pid, seq, regexp_extract(content, '{rx}', [{names}]) AS g
  FROM stitched
  WHERE (starts_with(content, 'checkpoint complete')
         OR starts_with(content, 'restartpoint complete'))
    AND regexp_matches(content, '{rx}')
)
SELECT pid, seq,
  {col_sql}
FROM matched
ORDER BY pid, seq
"""


# disconnection session-time arithmetic (analyze.go:1342-1348: h*3600 +
# m*60 + s) and lock acquisition/wait details (analyze.go:370-393)
DISCONNECT_RE = (
    r"^disconnection: session time: (\d+):(\d+):([\d.]+) "
    r"user=([0-9A-Za-z_]+) database=([0-9A-Za-z_]+) host=([^ ]+)"
)
# the text between the lock-on type and 'after' is arbitrary (the
# reference's `(?:.+?)`): 'transaction 1045207414', 'virtual transaction
# 2/7', 'advisory lock [233136,1,2,2]', 'relation 16396 of database 16384'
LOCK_RE = (
    r"^process (\d+) (acquired|still waiting|avoided deadlock|"
    r"detected deadlock while waiting)(?: for)? ([0-9A-Za-z]+) on "
    r"([0-9A-Za-z]+)(?: .+?)? after ([\d.]+) ms"
)


def session_details(spark: SparkSession) -> DataFrame:
    """Disconnection details: the reference folds the H:MM:SS.ss session
    time into one seconds figure — same exactly-rounded arithmetic here
    (integer-valued doubles times 3600/60 plus a two-decimal seconds
    term)."""
    return _session_details_from(stitch_lines(spark))


def _session_details_from(stitched: DataFrame) -> DataFrame:
    lines = stitched.filter(
        F.col("content").startswith("disconnection: ")
        & F.col("content").rlike(DISCONNECT_RE)
    )
    # one rewrite evaluation yields all 6 groups (r13; was 6 extracts)
    staged = _rewrite_groups(lines, DISCONNECT_RE, 6)
    g = lambda i: F.get(F.col("_g"), i - 1)  # noqa: E731
    secs = (
        g(1).cast("double") * 3600 + g(2).cast("double") * 60 + g(3).cast("double")
    )
    return staged.select(
        "pid",
        "seq",
        secs.alias("session_time_secs"),
        g(4).alias("username"),
        g(5).alias("database_name"),
        g(6).alias("host"),
    ).orderBy("pid", "seq")


def oracle_session_details(stitched_cte: str) -> str:
    rx = _sql_quote(DISCONNECT_RE)
    return f"""
WITH stitched AS ({stitched_cte})
SELECT pid, seq,
  CAST(regexp_extract(content, '{rx}', 1) AS DOUBLE) * 3600
    + CAST(regexp_extract(content, '{rx}', 2) AS DOUBLE) * 60
    + CAST(regexp_extract(content, '{rx}', 3) AS DOUBLE) AS session_time_secs,
  regexp_extract(content, '{rx}', 4) AS username,
  regexp_extract(content, '{rx}', 5) AS database_name,
  regexp_extract(content, '{rx}', 6) AS host
FROM stitched
WHERE starts_with(content, 'disconnection: ') AND regexp_matches(content, '{rx}')
ORDER BY pid, seq
"""


# pg_locks.locktype normalization the reference applies to the WAIT family
# only (analyze.go:1483-1490) — acquired lines keep the raw log token
_LOCK_TYPE_MAP = (
    ("extension", "extend"),
    ("transaction", "transactionid"),
    ("virtual", "virtualxid"),
)


def lock_details(spark: SparkSession) -> DataFrame:
    """Lock acquisition/wait details: blocked pid, outcome, lock mode,
    lock-on type, wait milliseconds — one shared regex over both the
    LOCK_ACQUIRED and LOCK_WAITING families. Wait-family lock types are
    remapped to pg_locks.locktype names (analyze.go:1483-1490); acquired
    rows pass through unmapped, as in the reference's lockAcquired branch."""
    return _lock_details_from(stitch_lines(spark))


def _lock_details_from(stitched: DataFrame) -> DataFrame:
    lines = stitched.filter(
        F.col("content").startswith("process ") & F.col("content").rlike(LOCK_RE)
    )
    # one rewrite evaluation yields all 5 groups (r13; was ~7 extracts)
    staged = _rewrite_groups(lines, LOCK_RE, 5)
    g = lambda i: F.get(F.col("_g"), i - 1)  # noqa: E731
    raw_type = g(4)
    mapped = raw_type
    for src, dst in reversed(_LOCK_TYPE_MAP):
        mapped = F.when(raw_type == src, F.lit(dst)).otherwise(mapped)
    lock_type = F.when(g(2) == "acquired", raw_type).otherwise(mapped)
    return staged.select(
        "pid",
        "seq",
        g(1).cast("int").alias("lock_pid"),
        g(2).alias("outcome"),
        g(3).alias("lock_mode"),
        lock_type.alias("lock_type"),
        g(5).cast("double").alias("after_ms"),
    ).orderBy("pid", "seq")


def oracle_lock_details(stitched_cte: str) -> str:
    rx = _sql_quote(LOCK_RE)
    remap = " ".join(
        f"WHEN '{src}' THEN '{dst}'" for src, dst in _LOCK_TYPE_MAP
    )
    return f"""
WITH stitched AS ({stitched_cte})
SELECT pid, seq,
  CAST(regexp_extract(content, '{rx}', 1) AS INT) AS lock_pid,
  regexp_extract(content, '{rx}', 2) AS outcome,
  regexp_extract(content, '{rx}', 3) AS lock_mode,
  CASE WHEN regexp_extract(content, '{rx}', 2) = 'acquired'
       THEN regexp_extract(content, '{rx}', 4)
       ELSE CASE regexp_extract(content, '{rx}', 4) {remap}
            ELSE regexp_extract(content, '{rx}', 4) END
  END AS lock_type,
  CAST(regexp_extract(content, '{rx}', 5) AS DOUBLE) AS after_ms
FROM stitched
WHERE starts_with(content, 'process ') AND regexp_matches(content, '{rx}')
ORDER BY pid, seq
"""


# ---------------------------------------------------------------------------
# Temp-file, connection, deadlock-participant, and lock-queue detail
# extraction (analyze.go:1960-1968, :1321-1337, :1517-1529, :1498-1514).
# ---------------------------------------------------------------------------

TEMPFILE_RE = r'^temporary file: path "(.+?)", size (\d+)'


def tempfile_details(spark: SparkSession) -> DataFrame:
    """Temp-file details (analyze.go:1960-1968): file path + byte size from
    SERVER_TEMP_FILE_CREATED lines."""
    return _tempfile_details_from(stitch_lines(spark))


def _tempfile_details_from(stitched: DataFrame) -> DataFrame:
    lines = stitched.filter(
        F.col("content").startswith("temporary file: path ")
        & F.col("content").rlike(TEMPFILE_RE)
    )
    g = lambda i: F.regexp_extract(F.col("content"), TEMPFILE_RE, i)  # noqa: E731
    return lines.select(
        "pid",
        "seq",
        g(1).alias("file"),
        g(2).cast("long").alias("size"),
    ).orderBy("pid", "seq")


def oracle_tempfile_details(stitched_cte: str) -> str:
    rx = _sql_quote(TEMPFILE_RE)
    return f"""
WITH stitched AS ({stitched_cte})
SELECT pid, seq,
  regexp_extract(content, '{rx}', 1) AS file,
  CAST(regexp_extract(content, '{rx}', 2) AS BIGINT) AS size
FROM stitched
WHERE starts_with(content, 'temporary file: path ') AND regexp_matches(content, '{rx}')
ORDER BY pid, seq
"""


CONN_RECEIVED_RE = r"^connection received: host=([^ ]+)( port=[0-9]+)?"
CONN_AUTHORIZED_RE = (
    r"^connection authorized: user=[0-9A-Za-z_]+( database=[0-9A-Za-z_]+)?"
    r"( application_name=.+?)?"
    r"( SSL enabled \(protocol=([0-9A-Za-z.]+), cipher=[0-9A-Za-z-]+,"
    r" compression=[0-9A-Za-z]+\))?$"
)


def connection_details(spark: SparkSession) -> DataFrame:
    """Connection received/authorized details (analyze.go:1321-1337): the
    reference emits host for CONNECTION_RECEIVED and ssl_protocol (when the
    SSL clause is present) for CONNECTION_AUTHORIZED. One row per matching
    line with the kind discriminator; absent details are NULL."""
    return _connection_details_from(stitch_lines(spark))


def _connection_details_from(stitched: DataFrame) -> DataFrame:
    lines = stitched.filter(
        F.col("content").startswith("connection received: ")
        | F.col("content").startswith("connection authorized: ")
    )
    received = F.col("content").rlike(CONN_RECEIVED_RE)
    authorized = F.col("content").rlike(CONN_AUTHORIZED_RE)
    host = F.regexp_extract(F.col("content"), CONN_RECEIVED_RE, 1)
    ssl = F.regexp_extract(F.col("content"), CONN_AUTHORIZED_RE, 4)
    return (
        lines.filter(received | authorized)
        .select(
            "pid",
            "seq",
            F.when(received, F.lit("received")).otherwise(F.lit("authorized")).alias("kind"),
            F.when(received, F.nullif(host, F.lit(""))).alias("host"),
            F.when(~received, F.nullif(ssl, F.lit(""))).alias("ssl_protocol"),
        )
        .orderBy("pid", "seq")
    )


def oracle_connection_details(stitched_cte: str) -> str:
    rrx = _sql_quote(CONN_RECEIVED_RE)
    arx = _sql_quote(CONN_AUTHORIZED_RE)
    return f"""
WITH stitched AS ({stitched_cte}),
conn AS (
  SELECT pid, seq, content,
    regexp_matches(content, '{rrx}') AS received,
    regexp_matches(content, '{arx}') AS authorized
  FROM stitched
  WHERE starts_with(content, 'connection received: ')
     OR starts_with(content, 'connection authorized: ')
)
SELECT pid, seq,
  CASE WHEN received THEN 'received' ELSE 'authorized' END AS kind,
  CASE WHEN received THEN NULLIF(regexp_extract(content, '{rrx}', 1), '') END AS host,
  CASE WHEN NOT received
       THEN NULLIF(regexp_extract(content, '{arx}', 4), '') END AS ssl_protocol
FROM conn
WHERE received OR authorized
ORDER BY pid, seq
"""


# deadlock participant block (deadlock.detail, analyze.go:392-393): the
# (?m) scan over the stitched DETAIL content; group 1 = participant pid per
# matched line, group 2 = the statement when the line is statement-shaped
DEADLOCK_DETAIL_RE = (
    r"(?m)^Process (\d+)"
    r"(?: waits for \w+ on transaction \d+; blocked by process \d+.\s+|: (.+))"
)


def deadlock_details(spark: SparkSession) -> DataFrame:
    """Deadlock participants (analyze.go:1517-1529): DETAIL secondaries of
    'deadlock detected' primaries, scanned with the reference's multiline
    regex; one row per matched participant line in match order (the
    RelatedPids contract). Statement-shaped lines carry the query text."""
    primaries = (
        stitch_lines(spark)
        .filter(F.col("content").startswith("deadlock detected"))
        .select("pid", F.col("seq").alias("primary_seq"))
    )
    sec = associate_secondaries(spark).filter(F.col("secondary_level") == "DETAIL")
    dl = sec.join(primaries, ["pid", "primary_seq"])
    pids = F.regexp_extract_all("secondary_content", F.lit(DEADLOCK_DETAIL_RE), 1)
    stmts = F.regexp_extract_all("secondary_content", F.lit(DEADLOCK_DETAIL_RE), 2)
    pairs = F.arrays_zip(pids.alias("p"), stmts.alias("s"))
    e = dl.select(
        "pid", "primary_seq", "secondary_seq", F.posexplode(pairs).alias("entry_idx", "m")
    )
    return e.select(
        "pid",
        "primary_seq",
        "secondary_seq",
        F.col("entry_idx").cast("int").alias("entry_idx"),
        F.col("m.p").cast("int").alias("participant_pid"),
        F.nullif(F.col("m.s"), F.lit("")).alias("participant_query"),
    ).orderBy("pid", "secondary_seq", "entry_idx")


def oracle_deadlock_details(stitched_cte: str) -> str:
    """Oracle re-derives the association window inline over the one
    stitched CTE (avoids shadowed nested WITH names), then joins the
    DETAIL secondaries back to 'deadlock detected' primaries."""
    rx = _sql_quote(DEADLOCK_DETAIL_RE)
    levels = ", ".join(f"'{lv}'" for lv in ("DETAIL", "HINT", "CONTEXT", "STATEMENT", "QUERY"))
    return f"""
WITH stitched AS ({stitched_cte}),
numbered AS (
  SELECT *, row_number() OVER (PARTITION BY pid ORDER BY seq) AS rn
  FROM stitched
),
tagged AS (
  SELECT *,
    MAX(CASE WHEN log_level NOT IN ({levels}) THEN seq END)
      OVER (PARTITION BY pid ORDER BY seq ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS primary_seq,
    MAX(CASE WHEN log_level NOT IN ({levels}) THEN rn END)
      OVER (PARTITION BY pid ORDER BY seq ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS primary_rn
  FROM numbered
),
assoc AS (
  SELECT pid, primary_seq, seq AS secondary_seq,
         log_level AS secondary_level, content AS secondary_content
  FROM tagged
  WHERE log_level IN ({levels})
    AND primary_rn IS NOT NULL AND rn - primary_rn <= 4
),
prim AS (
  SELECT pid, seq AS primary_seq FROM stitched
  WHERE starts_with(content, 'deadlock detected')
),
dl AS (
  SELECT a.pid, a.primary_seq, a.secondary_seq, a.secondary_content
  FROM assoc a
  JOIN prim p ON a.pid = p.pid AND a.primary_seq = p.primary_seq
  WHERE a.secondary_level = 'DETAIL'
),
exploded AS (
  SELECT pid, primary_seq, secondary_seq,
    unnest(regexp_extract_all(secondary_content, '{rx}', 1)) AS p,
    unnest(regexp_extract_all(secondary_content, '{rx}', 2)) AS s,
    CAST(generate_subscripts(regexp_extract_all(secondary_content, '{rx}', 1), 1) - 1 AS INT) AS entry_idx
  FROM dl
)
SELECT pid, primary_seq, secondary_seq, entry_idx,
  CAST(p AS INT) AS participant_pid,
  NULLIF(s, '') AS participant_query
FROM exploded
ORDER BY pid, secondary_seq, entry_idx
"""


LOCK_QUEUE_RE = r"^Process(?:es)? holding the lock: ([\d, ]+). Wait queue: ([\d, ]+)\.?"


def lock_queue_details(spark: SparkSession) -> DataFrame:
    """Lock holder/waiter pid lists (lockWait.detail, analyze.go:1498-1514):
    the DETAIL line under a lock-wait primary explodes into one row per pid
    with its role — the reference's lock_holders/lock_waiters arrays."""
    sec = associate_secondaries(spark).filter(
        (F.col("secondary_level") == "DETAIL")
        & F.col("secondary_content").rlike(LOCK_QUEUE_RE)
    )
    holders = F.split(
        F.regexp_extract("secondary_content", LOCK_QUEUE_RE, 1), ", "
    )
    waiters = F.split(
        F.regexp_extract("secondary_content", LOCK_QUEUE_RE, 2), ", "
    )
    both = sec.select(
        "pid",
        "primary_seq",
        "secondary_seq",
        F.explode(
            F.concat(
                F.transform(holders, lambda x: F.struct(F.lit("holder").alias("role"), x.alias("v"))),
                F.transform(waiters, lambda x: F.struct(F.lit("waiter").alias("role"), x.alias("v"))),
            )
        ).alias("e"),
    )
    return both.select(
        "pid",
        "primary_seq",
        "secondary_seq",
        F.col("e.role").alias("role"),
        F.col("e.v").cast("int").alias("member_pid"),
    ).orderBy("pid", "secondary_seq", "role", "member_pid")


def oracle_lock_queue_details(associated_cte: str) -> str:
    rx = _sql_quote(LOCK_QUEUE_RE)
    return f"""
WITH assoc AS ({associated_cte}),
ql AS (
  SELECT pid, primary_seq, secondary_seq,
    string_split(regexp_extract(secondary_content, '{rx}', 1), ', ') AS holders,
    string_split(regexp_extract(secondary_content, '{rx}', 2), ', ') AS waiters
  FROM assoc
  WHERE secondary_level = 'DETAIL' AND regexp_matches(secondary_content, '{rx}')
),
members AS (
  SELECT pid, primary_seq, secondary_seq, 'holder' AS role, unnest(holders) AS v FROM ql
  UNION ALL
  SELECT pid, primary_seq, secondary_seq, 'waiter' AS role, unnest(waiters) AS v FROM ql
)
SELECT pid, primary_seq, secondary_seq, role, CAST(v AS INT) AS member_pid
FROM members
ORDER BY pid, secondary_seq, role, member_pid
"""


# ---------------------------------------------------------------------------
# Worker-exit, wraparound, and archiver-failure detail extraction
# (analyze.go:1986-2016, :1634-1668, :1438-1455).
# ---------------------------------------------------------------------------

WORKER_EXIT_RE = (
    r"^worker process: (.+?) \(PID ([0-9]+)\)"
    r" (?:exited with exit code ([0-9]+)|was terminated by signal ([0-9]+))"
)
# analyze.go:1183 — when the worker text names a parallel worker, the
# reference rewrites process_type and records the parent as a related pid
PARALLEL_WORKER_RE = r"^parallel worker for PID ([0-9]+)"


def worker_exit_details(spark: SparkSession) -> DataFrame:
    """Worker-process-exited details (analyze.go:1986-2016): process type,
    the exited worker's pid, exit code or signal (whichever alternate
    matched), and — for parallel workers — the parent backend pid with the
    process_type normalized to 'parallel worker'."""
    return _worker_exit_details_from(stitch_lines(spark))


def _worker_exit_details_from(stitched: DataFrame) -> DataFrame:
    lines = stitched.filter(
        F.col("content").startswith("worker process: ")
        & F.col("content").rlike(WORKER_EXIT_RE)
    )
    g = lambda i: F.regexp_extract(F.col("content"), WORKER_EXIT_RE, i)  # noqa: E731
    raw_type = g(1)
    parent = F.regexp_extract(raw_type, PARALLEL_WORKER_RE, 1)
    is_parallel = raw_type.rlike(PARALLEL_WORKER_RE)
    return lines.select(
        "pid",
        "seq",
        F.when(is_parallel, F.lit("parallel worker")).otherwise(raw_type).alias(
            "process_type"
        ),
        g(2).cast("int").alias("process_pid"),
        F.nullif(g(3), F.lit("")).cast("int").alias("exit_code"),
        F.nullif(g(4), F.lit("")).cast("int").alias("signal"),
        F.when(is_parallel, parent.cast("long")).alias("parent_pid"),
    ).orderBy("pid", "seq")


def oracle_worker_exit_details(stitched_cte: str) -> str:
    rx = _sql_quote(WORKER_EXIT_RE)
    prx = _sql_quote(PARALLEL_WORKER_RE)
    t = f"regexp_extract(content, '{rx}', 1)"
    return f"""
WITH stitched AS ({stitched_cte})
SELECT pid, seq,
  CASE WHEN regexp_matches({t}, '{prx}') THEN 'parallel worker' ELSE {t} END AS process_type,
  CAST(regexp_extract(content, '{rx}', 2) AS INT) AS process_pid,
  CAST(NULLIF(regexp_extract(content, '{rx}', 3), '') AS INT) AS exit_code,
  CAST(NULLIF(regexp_extract(content, '{rx}', 4), '') AS INT) AS signal,
  CASE WHEN regexp_matches({t}, '{prx}')
       THEN CAST(regexp_extract({t}, '{prx}', 1) AS BIGINT) END AS parent_pid
FROM stitched
WHERE starts_with(content, 'worker process: ') AND regexp_matches(content, '{rx}')
ORDER BY pid, seq
"""


WRAP_WARN_RE = (
    r'^database (with OID ([0-9]+)|"([^"]+)") must be vacuumed within'
    r" ([0-9]+) transactions"
)
WRAP_ERR_RE = (
    r"^database is not accepting commands to avoid wraparound data loss"
    r' in database (with OID ([0-9]+)|"([^"]+)")'
)


def wraparound_details(spark: SparkSession) -> DataFrame:
    """Transaction-ID wraparound details (analyze.go:1634-1668): the
    database either by OID or by name (whichever alternate the server
    rendered) plus, for the warning form, the remaining transaction
    budget."""
    return _wraparound_details_from(stitch_lines(spark))


def _wraparound_details_from(stitched: DataFrame) -> DataFrame:
    lines = stitched.filter(
        F.col("content").rlike(WRAP_WARN_RE) | F.col("content").rlike(WRAP_ERR_RE)
    )
    is_err = F.col("content").startswith(
        "database is not accepting commands to avoid wraparound"
    )

    def g(i: int) -> Column:
        return F.when(
            is_err, F.regexp_extract(F.col("content"), WRAP_ERR_RE, i)
        ).otherwise(F.regexp_extract(F.col("content"), WRAP_WARN_RE, i))
    return lines.select(
        "pid",
        "seq",
        F.when(is_err, F.lit("error")).otherwise(F.lit("warning")).alias("kind"),
        F.nullif(g(2), F.lit("")).cast("long").alias("database_oid"),
        F.nullif(g(3), F.lit("")).alias("database_name"),
        F.when(~is_err, g(4).cast("long")).alias("remaining_xids"),
    ).orderBy("pid", "seq")


def oracle_wraparound_details(stitched_cte: str) -> str:
    wrx = _sql_quote(WRAP_WARN_RE)
    erx = _sql_quote(WRAP_ERR_RE)
    err = "starts_with(content, 'database is not accepting commands to avoid wraparound')"
    def pick(i: int) -> str:
        return (
            f"CASE WHEN {err} THEN regexp_extract(content, '{erx}', {i})"
            f" ELSE regexp_extract(content, '{wrx}', {i}) END"
        )
    return f"""
WITH stitched AS ({stitched_cte})
SELECT pid, seq,
  CASE WHEN {err} THEN 'error' ELSE 'warning' END AS kind,
  CAST(NULLIF({pick(2)}, '') AS BIGINT) AS database_oid,
  NULLIF({pick(3)}, '') AS database_name,
  CASE WHEN NOT {err}
       THEN CAST(regexp_extract(content, '{wrx}', 4) AS BIGINT) END AS remaining_xids
FROM stitched
WHERE regexp_matches(content, '{wrx}') OR regexp_matches(content, '{erx}')
ORDER BY pid, seq
"""


ARCHIVE_RE = (
    r"^archive command (?:failed with exit code ([0-9]+)"
    r"|was terminated by signal ([0-9]+)(: [\w ]+)?)"
)
ARCHIVE_DETAIL_RE = r"^The failed archive command was: (.+)"


def archiver_details(spark: SparkSession) -> DataFrame:
    """WAL archive-command failure details (analyze.go:1438-1455): exit
    code or signal from the primary, plus the failed command text from the
    associated DETAIL secondary (an ops-secret field in the reference's
    redaction taxonomy)."""
    prim = stitch_lines(spark).filter(
        F.col("content").startswith("archive command ")
        & F.col("content").rlike(ARCHIVE_RE)
    )
    g = lambda i: F.regexp_extract(F.col("content"), ARCHIVE_RE, i)  # noqa: E731
    cmds = (
        associate_secondaries(spark)
        .filter(
            (F.col("secondary_level") == "DETAIL")
            & F.col("secondary_content").rlike(ARCHIVE_DETAIL_RE)
        )
        .select(
            "pid",
            F.col("primary_seq").alias("seq"),
            F.regexp_extract("secondary_content", ARCHIVE_DETAIL_RE, 1).alias(
                "failed_command"
            ),
        )
    )
    return (
        prim.select(
            "pid",
            "seq",
            F.nullif(g(1), F.lit("")).cast("int").alias("exit_code"),
            F.nullif(g(2), F.lit("")).cast("int").alias("signal"),
        )
        .join(cmds, ["pid", "seq"], "left")
        .orderBy("pid", "seq")
    )


def oracle_archiver_details(stitched_cte: str) -> str:
    """Re-derives the association window inline over the one stitched CTE
    (like oracle_deadlock_details — avoids shadowed nested WITH names)."""
    rx = _sql_quote(ARCHIVE_RE)
    drx = _sql_quote(ARCHIVE_DETAIL_RE)
    levels = ", ".join(
        f"'{lv}'" for lv in ("DETAIL", "HINT", "CONTEXT", "STATEMENT", "QUERY")
    )
    return f"""
WITH stitched AS ({stitched_cte}),
numbered AS (
  SELECT *, row_number() OVER (PARTITION BY pid ORDER BY seq) AS rn
  FROM stitched
),
tagged AS (
  SELECT *,
    MAX(CASE WHEN log_level NOT IN ({levels}) THEN seq END)
      OVER (PARTITION BY pid ORDER BY seq ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS primary_seq,
    MAX(CASE WHEN log_level NOT IN ({levels}) THEN rn END)
      OVER (PARTITION BY pid ORDER BY seq ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS primary_rn
  FROM numbered
),
assoc AS (
  SELECT pid, primary_seq, seq AS secondary_seq,
         log_level AS secondary_level, content AS secondary_content
  FROM tagged
  WHERE log_level IN ({levels})
    AND primary_rn IS NOT NULL AND rn - primary_rn <= 4
),
prim AS (
  SELECT pid, seq,
    CAST(NULLIF(regexp_extract(content, '{rx}', 1), '') AS INT) AS exit_code,
    CAST(NULLIF(regexp_extract(content, '{rx}', 2), '') AS INT) AS signal
  FROM stitched
  WHERE starts_with(content, 'archive command ') AND regexp_matches(content, '{rx}')
),
cmds AS (
  SELECT pid, primary_seq AS seq,
    regexp_extract(secondary_content, '{drx}', 1) AS failed_command
  FROM assoc
  WHERE secondary_level = 'DETAIL' AND regexp_matches(secondary_content, '{drx}')
)
SELECT p.pid, p.seq, p.exit_code, p.signal, c.failed_command
FROM prim p LEFT JOIN cmds c ON p.pid = c.pid AND p.seq = c.seq
ORDER BY p.pid, p.seq
"""


# ---------------------------------------------------------------------------
# Autoanalyze completion details (analyze.go:111-122 regex, detail mapping
# at :1863-1911): db.schema.relation split from the table token, rusage
# from whichever CPU alternate matched (legacy s/u vs PG14+ user/system),
# optional PG14+ I/O, rate, and buffer clauses.
# ---------------------------------------------------------------------------

AUTOANALYZE_RE = (
    r'^automatic analyze of table "(.+?)"\s*'
    r"(?:I/O timings: read: ([\d.]+) ms, write: ([\d.]+) ms)?\s*"
    r"(?:avg read rate: ([\d.]+) MB/s, avg write rate: ([\d.]+) MB/s)?\s*"
    r"(?:buffer usage: (\d+) hits, (\d+) (?:misses|reads), (\d+) dirtied)?\s*"
    r"system usage: CPU(?:(?: ([\d.]+)s/([\d.]+)u sec elapsed ([\d.]+) sec)"
    r"|(?:: user: ([\d.]+) s, system: ([\d.]+) s, elapsed: ([\d.]+) s))"
)


def autoanalyze_details(spark: SparkSession) -> DataFrame:
    """AUTOANALYZE_COMPLETED detail vector: group 9 non-empty selects the
    legacy rusage alternate (kernel=9, user=10, elapsed=11), else the PG14+
    one (user=12, kernel=13, elapsed=14) — exactly analyze.go:1867-1888."""
    lines = stitch_lines(spark).filter(
        F.col("content").startswith("automatic analyze of table")
        & F.col("content").rlike(AUTOANALYZE_RE)
    )
    # one rewrite evaluation yields all 14 groups (r13; was ~17 extracts)
    staged = _rewrite_groups(lines, AUTOANALYZE_RE, 14)
    g = lambda i: F.get(F.col("_g"), i - 1)  # noqa: E731
    opt_d = lambda i: F.nullif(g(i), F.lit("")).cast("double")  # noqa: E731
    opt_l = lambda i: F.nullif(g(i), F.lit("")).cast("long")  # noqa: E731
    legacy = g(9) != ""
    return staged.select(
        "pid",
        "seq",
        F.split_part(g(1), F.lit("."), F.lit(1)).alias("database"),
        F.nullif(F.split_part(g(1), F.lit("."), F.lit(2)), F.lit("")).alias(
            "schema_name"
        ),
        F.nullif(F.split_part(g(1), F.lit("."), F.lit(3)), F.lit("")).alias(
            "relation_name"
        ),
        F.when(legacy, g(9)).otherwise(g(13)).cast("double").alias("rusage_kernel"),
        F.when(legacy, g(10)).otherwise(g(12)).cast("double").alias("rusage_user"),
        F.when(legacy, g(11)).otherwise(g(14)).cast("double").alias("elapsed_secs"),
        opt_d(2).alias("blk_read_time"),
        opt_d(3).alias("blk_write_time"),
        opt_d(4).alias("read_rate_mb"),
        opt_d(5).alias("write_rate_mb"),
        opt_l(6).alias("analyze_page_hit"),
        opt_l(7).alias("analyze_page_miss"),
        opt_l(8).alias("analyze_page_dirty"),
    ).orderBy("pid", "seq")


def oracle_autoanalyze_details(stitched_cte: str) -> str:
    # DuckDB's numeric regexp_extract caps group index at 9 (14 groups
    # here) — the list-of-names form returns a struct over all of them
    rx = _sql_quote(AUTOANALYZE_RE)
    names = [
        "tbl", "io_r", "io_w", "rate_r", "rate_w", "hits", "misses",
        "dirtied", "old_s", "old_u", "old_e", "new_u", "new_s", "new_e",
    ]
    name_list = ", ".join(f"'{n}'" for n in names)
    opt_d = lambda n: f"CAST(NULLIF(g.{n}, '') AS DOUBLE)"  # noqa: E731
    opt_l = lambda n: f"CAST(NULLIF(g.{n}, '') AS BIGINT)"  # noqa: E731
    legacy = "g.old_s <> ''"
    return f"""
WITH stitched AS ({stitched_cte}),
matched AS (
  SELECT pid, seq, regexp_extract(content, '{rx}', [{name_list}]) AS g
  FROM stitched
  WHERE starts_with(content, 'automatic analyze of table')
    AND regexp_matches(content, '{rx}')
)
SELECT pid, seq,
  split_part(g.tbl, '.', 1) AS database,
  NULLIF(split_part(g.tbl, '.', 2), '') AS schema_name,
  NULLIF(split_part(g.tbl, '.', 3), '') AS relation_name,
  CAST(CASE WHEN {legacy} THEN g.old_s ELSE g.new_s END AS DOUBLE) AS rusage_kernel,
  CAST(CASE WHEN {legacy} THEN g.old_u ELSE g.new_u END AS DOUBLE) AS rusage_user,
  CAST(CASE WHEN {legacy} THEN g.old_e ELSE g.new_e END AS DOUBLE) AS elapsed_secs,
  {opt_d('io_r')} AS blk_read_time,
  {opt_d('io_w')} AS blk_write_time,
  {opt_d('rate_r')} AS read_rate_mb,
  {opt_d('rate_w')} AS write_rate_mb,
  {opt_l('hits')} AS analyze_page_hit,
  {opt_l('misses')} AS analyze_page_miss,
  {opt_l('dirtied')} AS analyze_page_dirty
FROM matched
ORDER BY pid, seq
"""


# ---------------------------------------------------------------------------
# Full autovacuum detail vector (analyze.go:81-108 regex, :1668-1862 mapping):
# every PostgreSQL-version-dependent clause of the 62-group completion line,
# resolved with the reference's either-or semantics. The PG14-subset
# extractor above (autovacuum_details / u7b) stays as the legacy-shape path;
# this one covers PG10-18 + AlloyDB shape tolerance.
# ---------------------------------------------------------------------------

AUTOVACUUM_FULL_RE = (
    r'^automatic (aggressive )?vacuum (to prevent wraparound )?of table "(.+?)":'
    r" index scans: ([0-9]+),?\s*"
    r"(?:elapsed time: [0-9]+ \w+, index vacuum time: [0-9]+ \w+,)?\s*"
    r"pages: ([0-9]+) removed, ([0-9]+) remain,\s*"
    r"(?:([0-9]+) scanned \(([0-9.]+)% of total\)(?:, ([0-9]+) eagerly scanned)?)?\s*,?\s*"
    r"(?:([0-9]+) skipped due to pins)?(?:, ([0-9]+) skipped frozen)?\s*"
    r"(?:[0-9]+ skipped using mintxid(?: [0-9]+ skipped pages due to vm all-visible, [0-9]+ nonempty pages)?,?)?\s*"
    r"tuples: ([0-9]+) removed, ([0-9]+) remain, ([0-9]+) are dead but not yet removable"
    r"(?:, oldest xmin: ([0-9]+))?,?\s*"
    r"(?:tuples missed: ([0-9]+) dead from ([0-9]+) pages not removed due to cleanup lock contention)?,?\s*"
    r"(?:removable cutoff: ([0-9]+), which was ([0-9]+) XIDs old when operation ended)?,?\s*"
    r"(?:new relfrozenxid: ([0-9]+), which is ([0-9]+) XIDs ahead of previous value)?,?\s*"
    r"(?:new relminmxid: ([0-9]+), which is ([0-9]+) MXIDs ahead of previous value)?,?\s*"
    r"(?:frozen: ([0-9]+) pages from table \(([0-9.]+)% of total\) had ([0-9]+) tuples frozen)?,?\s*"
    r"(?:visibility map: ([0-9]+) pages set all-visible, ([0-9]+) pages set all-frozen \(([0-9]+) were all-visible\))?\s*"
    r"(?:index scan (not needed|needed|bypassed|bypassed by failsafe): ([0-9]+) pages from table"
    r" \(([0-9.]+)% of total\) (?:have|had) ([0-9]+) dead item identifiers(?: removed)?)?,?\s*"
    r"(?:max_dead_tuples:[0-9]+,\s*)?"
    r'((?:index ".+?": pages: [0-9]+ in total, [0-9]+ newly deleted, [0-9]+ currently deleted, [0-9]+ reusable,?\s*)*)'
    r"(?:I/O timings: read: ([0-9.]+) ms, write: ([0-9.]+) ms)?,?\s*"
    r"(?:avg read rate: ([0-9.]+) MB/s, avg write rate: ([0-9.]+) MB/s)?,?\s*"
    r"buffer usage: ([0-9]+) hits, ([0-9]+) (?:misses|reads), ([0-9]+) dirtied,?\s*"
    r"(?:avg read rate: ([0-9.]+) MB/s, avg write rate: ([0-9.]+) MB/s)?,?\s*"
    r"(?:WAL usage: ([0-9]+) records, ([0-9]+) full page images, ([0-9]+) bytes)?,?\s*"
    r"(?:([0-9]+) buffers full)?\s*"
    r"system usage: CPU(?:(?: ([0-9.]+)s/([0-9.]+)u sec elapsed ([0-9.]+) sec)"
    r"|(?:: user: ([0-9.]+) s, system: ([0-9.]+) s, elapsed: ([0-9.]+) s))"
)

# capture-group order of AUTOVACUUM_FULL_RE (1-based)
_AV_FULL_NAMES = [
    "aggressive", "wraparound", "relname", "idx_scans",
    "pages_removed", "pages_remain",
    "pages_scanned", "pages_scanned_pct", "pages_eagerly_scanned",
    "pages_skipped_pins", "pages_skipped_frozen",
    "tuples_removed", "tuples_remain", "tuples_new_dead", "oldest_xmin",
    "missed_dead_tuples", "missed_dead_pages",
    "cutoff", "cutoff_age",
    "new_frozenxid", "new_frozenxid_diff", "new_minmxid", "new_minmxid_diff",
    "frozen_pages", "frozen_pages_pct", "frozen_tuples",
    "vm_all_visible", "vm_all_frozen", "vm_all_visible_prev",
    "idxscan_status", "idxscan_pages", "idxscan_pages_pct", "idxscan_dead",
    "idx_details",
    "io_read_ms", "io_write_ms",
    "io_read_rate", "io_write_rate",
    "buffer_hits", "buffer_misses", "buffers_dirtied",
    "io_read_rate_13", "io_write_rate_13",
    "wal_records", "wal_fpis", "wal_bytes", "wal_buffers_full",
    "cpu_s", "cpu_u", "cpu_tot",
    "cpu_user", "cpu_system", "cpu_elapsed",
]
_AV_IDX = {n: i + 1 for i, n in enumerate(_AV_FULL_NAMES)}


def autovacuum_full_details(spark: SparkSession) -> DataFrame:
    """Full AUTOVACUUM_COMPLETED detail vector with the reference's
    version-dependent resolution (analyze.go:1668-1862):

      - PG15+ 'scanned' clause vs PG<=14 pinskipped/frozenskipped (absent
        counters default to 0, mirroring the reference's ParseInt-on-empty)
      - oldest xmin directly (PG10-14) or via removable cutoff + age (PG15+)
      - read/write MB/s rate from the PG14+ position before buffer usage,
        falling back to the PG13 position after it, else 0.0
      - legacy 'CPU 0.1s/0.2u sec' vs modern 'user/system/elapsed' rusage
      - anti_wraparound emitted only when the wraparound marker matched or
        the WAL clause proves PG13+ (analyze.go:1748-1757)
    Optional version clauses come out as NULL columns when absent, exactly
    where the reference omits the Details key."""
    return _autovacuum_full_from(stitch_lines(spark))


def _autovacuum_full_from(stitched: DataFrame) -> DataFrame:
    """Extraction over any stitched-lines-shaped frame (pid, seq, content) —
    shared by the registered query and the reference-golden-line tests."""
    lines = stitched.filter(
        F.col("content").startswith("automatic ")
        & F.col("content").rlike(AUTOVACUUM_FULL_RE)
    )
    # ONE rewrite evaluation of the 53-group regex per matched line (r13;
    # the former per-reference regexp_extract ran it ~60x per line — every
    # column plus every version-gate re-evaluated the full pattern)
    staged = _rewrite_groups(lines, AUTOVACUUM_FULL_RE, len(_AV_FULL_NAMES))

    def g(name: str) -> Column:
        return F.get(F.col("_g"), _AV_IDX[name] - 1)

    def opt(name: str, typ: str) -> Column:
        return F.nullif(g(name), F.lit("")).cast(typ)

    def gated(cond: Column, name: str, typ: str) -> Column:
        return F.when(cond, g(name).cast(typ))

    has_scanned = g("pages_scanned") != ""
    has_xmin = g("oldest_xmin") != ""
    has_cutoff = g("cutoff") != ""
    legacy_cpu = g("cpu_u") != ""
    has_wal = g("wal_records") != ""
    has_wrap = g("wraparound") != ""
    return staged.select(
        "pid",
        "seq",
        (g("aggressive") != "").alias("aggressive"),
        F.when(has_wrap | has_wal, has_wrap).alias("anti_wraparound"),
        F.split_part(g("relname"), F.lit("."), F.lit(1)).alias("database"),
        F.nullif(F.split_part(g("relname"), F.lit("."), F.lit(2)), F.lit("")).alias(
            "schema_name"
        ),
        F.nullif(F.split_part(g("relname"), F.lit("."), F.lit(3)), F.lit("")).alias(
            "relation_name"
        ),
        g("idx_scans").cast("long").alias("num_index_scans"),
        g("pages_removed").cast("long").alias("pages_removed"),
        g("pages_remain").cast("long").alias("rel_pages"),
        opt("pages_scanned", "long").alias("scanned_pages"),
        gated(has_scanned, "pages_scanned_pct", "double").alias(
            "scanned_pages_percent"
        ),
        F.when(has_scanned, opt("pages_eagerly_scanned", "long")).alias(
            "eagerly_scanned_pages"
        ),
        F.when(
            ~has_scanned, F.coalesce(opt("pages_skipped_pins", "long"), F.lit(0))
        ).alias("pinskipped_pages"),
        F.when(
            ~has_scanned, F.coalesce(opt("pages_skipped_frozen", "long"), F.lit(0))
        ).alias("frozenskipped_pages"),
        g("tuples_removed").cast("long").alias("tuples_deleted"),
        g("tuples_remain").cast("long").alias("new_rel_tuples"),
        g("tuples_new_dead").cast("long").alias("new_dead_tuples"),
        F.when(has_xmin, g("oldest_xmin").cast("long"))
        .when(has_cutoff, g("cutoff").cast("long"))
        .alias("oldest_xmin"),
        F.when(~has_xmin & has_cutoff, g("cutoff_age").cast("long")).alias(
            "oldest_xmin_age"
        ),
        opt("missed_dead_tuples", "long").alias("missed_dead_tuples"),
        gated(g("missed_dead_tuples") != "", "missed_dead_pages", "long").alias(
            "missed_dead_pages"
        ),
        opt("new_frozenxid", "long").alias("new_relfrozenxid"),
        gated(g("new_frozenxid") != "", "new_frozenxid_diff", "long").alias(
            "new_relfrozenxid_diff"
        ),
        opt("new_minmxid", "long").alias("new_relminmxid"),
        gated(g("new_minmxid") != "", "new_minmxid_diff", "long").alias(
            "new_relminmxid_diff"
        ),
        opt("frozen_pages", "long").alias("frozen_pages"),
        gated(g("frozen_pages") != "", "frozen_pages_pct", "double").alias(
            "frozen_page_percent"
        ),
        gated(g("frozen_pages") != "", "frozen_tuples", "long").alias(
            "tuples_frozen"
        ),
        opt("vm_all_visible", "long").alias("vm_all_visible_pages"),
        gated(g("vm_all_visible") != "", "vm_all_frozen", "long").alias(
            "vm_all_frozen_pages"
        ),
        gated(g("vm_all_visible") != "", "vm_all_visible_prev", "long").alias(
            "vm_prev_all_visible_pages"
        ),
        F.nullif(g("idxscan_status"), F.lit("")).alias("lpdead_index_scan"),
        gated(g("idxscan_status") != "", "idxscan_pages", "long").alias(
            "lpdead_item_pages"
        ),
        gated(g("idxscan_status") != "", "idxscan_pages_pct", "double").alias(
            "lpdead_item_page_percent"
        ),
        gated(g("idxscan_status") != "", "idxscan_dead", "long").alias(
            "lpdead_items"
        ),
        opt("io_read_ms", "double").alias("blk_read_time"),
        gated(g("io_read_ms") != "", "io_write_ms", "double").alias(
            "blk_write_time"
        ),
        F.coalesce(
            opt("io_read_rate", "double"),
            opt("io_read_rate_13", "double"),
            F.lit(0.0),
        ).alias("read_rate_mb"),
        F.coalesce(
            opt("io_write_rate", "double"),
            opt("io_write_rate_13", "double"),
            F.lit(0.0),
        ).alias("write_rate_mb"),
        g("buffer_hits").cast("long").alias("vacuum_page_hit"),
        g("buffer_misses").cast("long").alias("vacuum_page_miss"),
        g("buffers_dirtied").cast("long").alias("vacuum_page_dirty"),
        opt("wal_records", "long").alias("wal_records"),
        gated(has_wal, "wal_fpis", "long").alias("wal_fpi"),
        gated(has_wal, "wal_bytes", "long").alias("wal_bytes"),
        opt("wal_buffers_full", "long").alias("wal_buffers_full"),
        F.when(legacy_cpu, g("cpu_s")).otherwise(g("cpu_system")).cast(
            "double"
        ).alias("rusage_kernel"),
        F.when(legacy_cpu, g("cpu_u")).otherwise(g("cpu_user")).cast(
            "double"
        ).alias("rusage_user"),
        F.when(legacy_cpu, g("cpu_tot")).otherwise(g("cpu_elapsed")).cast(
            "double"
        ).alias("elapsed_secs"),
    ).orderBy("pid", "seq")


def oracle_autovacuum_full_details(stitched_cte: str) -> str:
    rx = _sql_quote(AUTOVACUUM_FULL_RE)
    name_list = ", ".join(f"'{n}'" for n in _AV_FULL_NAMES)
    has_scanned = "g.pages_scanned <> ''"
    has_xmin = "g.oldest_xmin <> ''"
    has_cutoff = "g.cutoff <> ''"
    legacy = "g.cpu_u <> ''"
    has_wal = "g.wal_records <> ''"
    has_wrap = "g.wraparound <> ''"
    return f"""
WITH stitched AS ({stitched_cte}),
matched AS (
  SELECT pid, seq, regexp_extract(content, '{rx}', [{name_list}]) AS g
  FROM stitched
  WHERE starts_with(content, 'automatic ') AND regexp_matches(content, '{rx}')
)
SELECT pid, seq,
  g.aggressive <> '' AS aggressive,
  CASE WHEN {has_wrap} OR {has_wal} THEN {has_wrap} END AS anti_wraparound,
  split_part(g.relname, '.', 1) AS database,
  NULLIF(split_part(g.relname, '.', 2), '') AS schema_name,
  NULLIF(split_part(g.relname, '.', 3), '') AS relation_name,
  CAST(g.idx_scans AS BIGINT) AS num_index_scans,
  CAST(g.pages_removed AS BIGINT) AS pages_removed,
  CAST(g.pages_remain AS BIGINT) AS rel_pages,
  CAST(NULLIF(g.pages_scanned, '') AS BIGINT) AS scanned_pages,
  CASE WHEN {has_scanned} THEN CAST(g.pages_scanned_pct AS DOUBLE) END AS scanned_pages_percent,
  CASE WHEN {has_scanned} THEN CAST(NULLIF(g.pages_eagerly_scanned, '') AS BIGINT) END AS eagerly_scanned_pages,
  CASE WHEN NOT {has_scanned} THEN COALESCE(CAST(NULLIF(g.pages_skipped_pins, '') AS BIGINT), 0) END AS pinskipped_pages,
  CASE WHEN NOT {has_scanned} THEN COALESCE(CAST(NULLIF(g.pages_skipped_frozen, '') AS BIGINT), 0) END AS frozenskipped_pages,
  CAST(g.tuples_removed AS BIGINT) AS tuples_deleted,
  CAST(g.tuples_remain AS BIGINT) AS new_rel_tuples,
  CAST(g.tuples_new_dead AS BIGINT) AS new_dead_tuples,
  CASE WHEN {has_xmin} THEN CAST(g.oldest_xmin AS BIGINT)
       WHEN {has_cutoff} THEN CAST(g.cutoff AS BIGINT) END AS oldest_xmin,
  CASE WHEN NOT {has_xmin} AND {has_cutoff} THEN CAST(g.cutoff_age AS BIGINT) END AS oldest_xmin_age,
  CAST(NULLIF(g.missed_dead_tuples, '') AS BIGINT) AS missed_dead_tuples,
  CASE WHEN g.missed_dead_tuples <> '' THEN CAST(g.missed_dead_pages AS BIGINT) END AS missed_dead_pages,
  CAST(NULLIF(g.new_frozenxid, '') AS BIGINT) AS new_relfrozenxid,
  CASE WHEN g.new_frozenxid <> '' THEN CAST(g.new_frozenxid_diff AS BIGINT) END AS new_relfrozenxid_diff,
  CAST(NULLIF(g.new_minmxid, '') AS BIGINT) AS new_relminmxid,
  CASE WHEN g.new_minmxid <> '' THEN CAST(g.new_minmxid_diff AS BIGINT) END AS new_relminmxid_diff,
  CAST(NULLIF(g.frozen_pages, '') AS BIGINT) AS frozen_pages,
  CASE WHEN g.frozen_pages <> '' THEN CAST(g.frozen_pages_pct AS DOUBLE) END AS frozen_page_percent,
  CASE WHEN g.frozen_pages <> '' THEN CAST(g.frozen_tuples AS BIGINT) END AS tuples_frozen,
  CAST(NULLIF(g.vm_all_visible, '') AS BIGINT) AS vm_all_visible_pages,
  CASE WHEN g.vm_all_visible <> '' THEN CAST(g.vm_all_frozen AS BIGINT) END AS vm_all_frozen_pages,
  CASE WHEN g.vm_all_visible <> '' THEN CAST(g.vm_all_visible_prev AS BIGINT) END AS vm_prev_all_visible_pages,
  NULLIF(g.idxscan_status, '') AS lpdead_index_scan,
  CASE WHEN g.idxscan_status <> '' THEN CAST(g.idxscan_pages AS BIGINT) END AS lpdead_item_pages,
  CASE WHEN g.idxscan_status <> '' THEN CAST(g.idxscan_pages_pct AS DOUBLE) END AS lpdead_item_page_percent,
  CASE WHEN g.idxscan_status <> '' THEN CAST(g.idxscan_dead AS BIGINT) END AS lpdead_items,
  CAST(NULLIF(g.io_read_ms, '') AS DOUBLE) AS blk_read_time,
  CASE WHEN g.io_read_ms <> '' THEN CAST(g.io_write_ms AS DOUBLE) END AS blk_write_time,
  COALESCE(CAST(NULLIF(g.io_read_rate, '') AS DOUBLE),
           CAST(NULLIF(g.io_read_rate_13, '') AS DOUBLE), 0.0) AS read_rate_mb,
  COALESCE(CAST(NULLIF(g.io_write_rate, '') AS DOUBLE),
           CAST(NULLIF(g.io_write_rate_13, '') AS DOUBLE), 0.0) AS write_rate_mb,
  CAST(g.buffer_hits AS BIGINT) AS vacuum_page_hit,
  CAST(g.buffer_misses AS BIGINT) AS vacuum_page_miss,
  CAST(g.buffers_dirtied AS BIGINT) AS vacuum_page_dirty,
  CAST(NULLIF(g.wal_records, '') AS BIGINT) AS wal_records,
  CASE WHEN {has_wal} THEN CAST(g.wal_fpis AS BIGINT) END AS wal_fpi,
  CASE WHEN {has_wal} THEN CAST(g.wal_bytes AS BIGINT) END AS wal_bytes,
  CAST(NULLIF(g.wal_buffers_full, '') AS BIGINT) AS wal_buffers_full,
  CAST(CASE WHEN {legacy} THEN g.cpu_s ELSE g.cpu_system END AS DOUBLE) AS rusage_kernel,
  CAST(CASE WHEN {legacy} THEN g.cpu_u ELSE g.cpu_user END AS DOUBLE) AS rusage_user,
  CAST(CASE WHEN {legacy} THEN g.cpu_tot ELSE g.cpu_elapsed END AS DOUBLE) AS elapsed_secs
FROM matched
ORDER BY pid, seq
"""


# ---------------------------------------------------------------------------
# Per-index vacuum details (analyze.go:1826-1843): the PG14+ idx_details
# block ('index "x": pages: N in total, ...' repeated per index) exploded to
# one row per (vacuum line, index), the relational form of the reference's
# nested index_vacuums map.
# ---------------------------------------------------------------------------

INDEX_VACUUM_ENTRY_RE = (
    r'index "(.+?)": pages: ([0-9]+) in total, ([0-9]+) newly deleted,'
    r" ([0-9]+) currently deleted, ([0-9]+) reusable"
)


def index_vacuum_details(spark: SparkSession) -> DataFrame:
    """Explode the per-index blocks out of autovacuum completion lines.
    Map-only: regexp_extract_all + explode, one row per index entry; the
    entry pattern is specific enough to run against the whole line without
    first isolating the idx_details group."""
    lines = stitch_lines(spark).filter(
        F.col("content").startswith("automatic ")
        & F.col("content").rlike(INDEX_VACUUM_ENTRY_RE)
    )
    exploded = lines.select(
        "pid",
        "seq",
        F.explode(
            F.regexp_extract_all(
                F.col("content"), F.lit(INDEX_VACUUM_ENTRY_RE), F.lit(0)
            )
        ).alias("entry"),
    )
    g = lambda i: F.regexp_extract(F.col("entry"), INDEX_VACUUM_ENTRY_RE, i)  # noqa: E731
    return exploded.select(
        "pid",
        "seq",
        g(1).alias("index_name"),
        g(2).cast("long").alias("num_pages"),
        g(3).cast("long").alias("pages_newly_deleted"),
        g(4).cast("long").alias("pages_deleted"),
        g(5).cast("long").alias("pages_free"),
    ).orderBy("pid", "seq", "index_name")


def oracle_index_vacuum_details(stitched_cte: str) -> str:
    rx = _sql_quote(INDEX_VACUUM_ENTRY_RE)
    return f"""
WITH stitched AS ({stitched_cte}),
exploded AS (
  SELECT pid, seq, unnest(regexp_extract_all(content, '{rx}', 0)) AS entry
  FROM stitched
  WHERE starts_with(content, 'automatic ') AND regexp_matches(content, '{rx}')
)
SELECT pid, seq,
  regexp_extract(entry, '{rx}', 1) AS index_name,
  CAST(regexp_extract(entry, '{rx}', 2) AS BIGINT) AS num_pages,
  CAST(regexp_extract(entry, '{rx}', 3) AS BIGINT) AS pages_newly_deleted,
  CAST(regexp_extract(entry, '{rx}', 4) AS BIGINT) AS pages_deleted,
  CAST(regexp_extract(entry, '{rx}', 5) AS BIGINT) AS pages_free
FROM exploded
ORDER BY pid, seq, index_name
"""


# ---------------------------------------------------------------------------
# Server-crash details (analyze.go:1917-1949): SERVER_CRASHED and
# SERVER_OUT_OF_MEMORY both emit process_type/process_pid/signal; the OOM
# class is the signal-9 termination (rules.py mirrors the reference's
# two-rule dispatch on the signal number).
# ---------------------------------------------------------------------------

CRASH_RE = r"^server process \(PID ([0-9]+)\) was terminated by signal ([0-9]+)"


def crash_details(spark: SparkSession) -> DataFrame:
    lines = stitch_lines(spark).filter(
        F.col("content").startswith("server process (PID ")
        & F.col("content").rlike(CRASH_RE)
    )
    g = lambda i: F.regexp_extract(F.col("content"), CRASH_RE, i)  # noqa: E731
    signal = g(2).cast("int")
    return lines.select(
        "pid",
        "seq",
        F.when(signal == 9, F.lit("SERVER_OUT_OF_MEMORY"))
        .otherwise(F.lit("SERVER_CRASHED"))
        .alias("classification"),
        F.lit("server process").alias("process_type"),
        g(1).cast("int").alias("process_pid"),
        signal.alias("signal"),
    ).orderBy("pid", "seq")


def oracle_crash_details(stitched_cte: str) -> str:
    rx = _sql_quote(CRASH_RE)
    return f"""
WITH stitched AS ({stitched_cte})
SELECT pid, seq,
  CASE WHEN CAST(regexp_extract(content, '{rx}', 2) AS INT) = 9
       THEN 'SERVER_OUT_OF_MEMORY' ELSE 'SERVER_CRASHED' END AS classification,
  'server process' AS process_type,
  CAST(regexp_extract(content, '{rx}', 1) AS INT) AS process_pid,
  CAST(regexp_extract(content, '{rx}', 2) AS INT) AS signal
FROM stitched
WHERE starts_with(content, 'server process (PID ') AND regexp_matches(content, '{rx}')
ORDER BY pid, seq
"""
