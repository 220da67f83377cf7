"""Focused pins for the r13 rewrite-then-split classification internals
(collector_spark/logs/classify.py): the single-regexp_replace path must
reproduce the r12 two-pass semantics (prefix-gated rlike chain + per-group
regexp_extract) value-for-value — classification, detail_num, detail_text
(including the absent-group-NULL vs empty-capture-'' distinction), and the
generic `_rewrite_groups` helper against per-group regexp_extract on the
same JVM regex engine."""

from __future__ import annotations

import re

import duckdb
import pytest
from pyspark.sql import functions as F

from collector_spark.logs.rules import RULES


@pytest.fixture(scope="module")
def sample_bodies():
    """Every rule's rendered sample variants (the test_rules_golden render,
    replicated here module-locally) plus an unclassifiable line."""
    con = duckdb.connect()
    out: list[str] = []
    for r in RULES:
        sql = r.sample.replace("AS STRING", "AS VARCHAR")
        values = ", ".join(
            f"({e}, {u}, 67.89)" for e in range(120, 132) for u in (45, 46)
        )
        rows = con.execute(
            f"SELECT {sql} FROM (VALUES {values}) events(event_id, user_id, value)"
        ).fetchall()
        out.extend(row[0] for row in rows)
    con.close()
    out.append("this line matches no classification rule at all")
    return out


def _expected(body: str):
    """The r12 two-pass reference semantics in plain Python: first-match-
    wins over RULES; num = NULLIF(extract, '') cast double; txt = extract
    when the rule declares a text group (may be '' for an unmatched
    alternate), NULL when it declares none."""
    for r in RULES:
        if body.startswith(r.prefixes) and re.search(r.regex, body):
            num = None
            if r.num_group:
                g = re.search(r.regex, body).group(r.num_group) or ""
                num = float(g) if g != "" else None
            txt = None
            if r.text_group:
                txt = re.search(r.regex, body).group(r.text_group) or ""
            return r.classification, num, txt
    return "UNCLASSIFIED", None, None


def test_rewrite_classification_matches_two_pass_semantics(spark, sample_bodies):
    from collector_spark.logs.classify import classify_df

    df = spark.createDataFrame(
        [(1, i, "LOG", b) for i, b in enumerate(sample_bodies)],
        "pid int, seq long, log_level string, content string",
    )
    got = {r["seq"]: r for r in classify_df(df).collect()}
    assert len(got) == len(sample_bodies)
    for i, body in enumerate(sample_bodies):
        cls, num, txt = _expected(body)
        row = got[i]
        assert row["classification"] == cls, body[:100]
        # exact: both engines parse the identical decimal string to IEEE
        assert row["detail_num"] == num or (row["detail_num"] is None and num is None), (
            cls,
            row["detail_num"],
            num,
        )
        assert row["detail_text"] == txt, (cls, repr(txt), body[:100])


def test_secondary_levels_are_filtered(spark):
    from collector_spark.logs.classify import classify_df

    df = spark.createDataFrame(
        [(1, 0, "DETAIL", "temporary file: path \"x\", size 5")],
        "pid int, seq long, log_level string, content string",
    )
    assert classify_df(df).count() == 0


def _stitched(spark, primary: str, continuation: str):
    """One primary line plus one continuation line, stitched exactly as
    the log pipeline stitches them (content joined with a newline)."""
    from collector_spark.logs.stitch import stitch_df

    parsed = spark.createDataFrame(
        [(1, 0, "ERROR", primary), (1, 1, "UNKNOWN", continuation)],
        "pid int, seq long, log_level string, content string",
    )
    for c in ("username", "database", "application"):
        parsed = parsed.withColumn(c, F.lit(None).cast("string"))
    return stitch_df(parsed)


def test_separator_byte_in_detail_capture_falls_back(spark):
    """A \\x01 inside a detail capture would shift the rewrite-then-split.
    The line takes each detail from its own capture rewrite instead, so
    the row equals the rule's regexp_extract and the batch does not fail
    (a stream would replay the line and fail on every restart). Covers a
    continuation line carried into a `[^"]+` capture by the real stitch,
    and clash lines beside ordinary ones in one frame."""
    from collector_spark.logs.classify import classify_df

    bad = _stitched(spark, 'relation "orders', '\x01archive" does not exist')
    (row,) = classify_df(bad).collect()
    rule = next(r for r in RULES if r.classification == row["classification"])
    assert rule.text_group
    want = bad.select(
        F.regexp_extract("content", rule.regex, rule.text_group).alias("t")
    ).first()["t"]
    assert want == "orders\n\x01archive"
    assert (row["detail_num"], row["detail_text"]) == (None, want)

    bodies = [
        "duration: 1.5 ms  statement: select \x01 1",
        'temporary file: path "/tmp/a\x01b\x01c", size 5',
        "duration: 2 ms  statement: select 2",
        'relation "a\x01" does not exist',
    ]
    df = spark.createDataFrame(
        [(1, i, "LOG", b) for i, b in enumerate(bodies)],
        "pid int, seq long, log_level string, content string",
    )
    got = {r["seq"]: r for r in classify_df(df).collect()}
    for i, body in enumerate(bodies):
        row = got[i]
        assert (
            row["classification"],
            row["detail_num"],
            row["detail_text"],
        ) == _expected(body), repr(body)


def test_separator_bytes_outside_captures_classify_as_two_pass(spark):
    """Separator bytes that cannot shift the split classify exactly as the
    two-pass reference: \\x03 inside a capture, \\x01/\\x03 in a stitched
    continuation past the match, and lines without detail groups."""
    from collector_spark.logs.classify import classify_df

    bodies = [
        'temporary file: path "/tmp/a\x03b", size 5',
        "duration: 1.5 ms  statement: select 1\n\x01 and \x03 more",
        'relation "orders" does not exist\n\x01 at \x03',
        "canceling statement due to statement timeout\x01",
        "no rule matches this \x03 line",
    ]
    df = spark.createDataFrame(
        [(1, i, "LOG", b) for i, b in enumerate(bodies)],
        "pid int, seq long, log_level string, content string",
    )
    got = {r["seq"]: r for r in classify_df(df).collect()}
    for i, body in enumerate(bodies):
        row = got[i]
        assert (
            row["classification"],
            row["detail_num"],
            row["detail_text"],
        ) == _expected(body), repr(body)

    cont = _stitched(spark, "duration: 2 ms  statement: select 1", "\x01\x03")
    row = classify_df(cont).collect()[0]
    assert (row["classification"], row["detail_num"], row["detail_text"]) == (
        "STATEMENT_DURATION",
        2.0,
        "select 1",
    )


def test_rewrite_groups_equals_regexp_extract(spark):
    """The generic helper vs per-group regexp_extract, same JVM regex, on
    the 53-group autovacuum vector across all six version variants, and on
    disconnection lines holding a separator byte: inside the ``host=``
    capture (a stitched continuation line under ``[^ ]+``), which would
    shift the split, and in the unmatched tail."""
    from collector_spark.logs.classify import (
        _AV_FULL_NAMES,
        AUTOVACUUM_FULL_RE,
        DISCONNECT_RE,
        _rewrite_groups,
    )
    from collector_spark.logs.rules import _autovacuum_sample

    con = duckdb.connect()
    sql = _autovacuum_sample().replace("AS STRING", "AS VARCHAR")
    values = ", ".join(f"({e}, {u}, 1.5)" for e in range(240, 252) for u in (7, 8))
    lines = [
        r[0]
        for r in con.execute(
            f"SELECT {sql} FROM (VALUES {values}) events(event_id, user_id, value)"
        ).fetchall()
    ]
    con.close()
    disconnect = "disconnection: session time: 0:00:01.234 user=app database=orders"
    cases = [
        (AUTOVACUUM_FULL_RE, len(_AV_FULL_NAMES), lines),
        (
            DISCONNECT_RE,
            6,
            [
                f"{disconnect} host=10.0.0.1 port=5432",
                f"{disconnect} host=10.0.0.1\n\x01archive\x01x",
                f"{disconnect} host=[local] tail\x01x",
            ],
        ),
    ]
    for regex, n, bodies in cases:
        df = spark.createDataFrame([(b,) for b in bodies], "content string").filter(
            F.col("content").rlike(regex)
        )
        assert df.count() == len(bodies)  # every variant matches
        checks = _rewrite_groups(df, regex, n).select(
            *[
                (
                    F.get(F.col("_g"), i) == F.regexp_extract("content", regex, i + 1)
                ).alias(f"g{i + 1}")
                for i in range(n)
            ]
        )
        for row in checks.collect():
            bad = [k for k, v in row.asDict().items() if v is not True]
            assert not bad, f"groups diverge from regexp_extract: {bad}"


def test_stitch_state_ingest_vectorized_matches_row_loop():
    """The r13 column-at-a-time ingest in _stitch_state_fn must reproduce
    the former per-value loop exactly — Python int (not numpy) seqs and
    micros, and None (not NaN/pd.NA) for missing strings, since the packed
    state round-trips through pickle and feeds string joins."""
    import numpy as np
    import pandas as pd

    pdf = pd.DataFrame(
        {
            "seq": np.array([3, 1, 2], dtype="int64"),
            "collected_at": pd.to_datetime(
                [
                    "2026-01-01 00:00:00.123456",
                    "2026-01-01 00:00:01.000000",
                    "2026-01-01 00:00:02.000000",
                ]
            ),
            "username": ["u", None, "w"],
            "content": ["a", float("nan"), "c"],
        }
    )
    old_seqs = [int(v) for v in pdf["seq"]]
    old_cts = [int(v) // 1_000 for v in pdf["collected_at"].astype("int64")]
    new_seqs = pdf["seq"].astype("int64").tolist()
    new_cts = (pdf["collected_at"].astype("int64") // 1_000).tolist()
    assert new_seqs == old_seqs
    assert new_cts == old_cts
    assert all(type(v) is int for v in new_seqs + new_cts)
    for col in ("username", "content"):
        old = [None if pd.isna(v) else str(v) for v in pdf[col]]
        s = pdf[col]
        new = s.astype(object).where(s.notna(), None).tolist()
        assert new == old
        assert all(v is None or type(v) is str for v in new)
