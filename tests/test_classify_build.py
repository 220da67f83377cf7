"""Construction of the classify projection (collector_spark/logs/classify.py).

The rule chain is rendered as SQL text and parsed JVM-side, one ``F.expr``
per pass. These tests pin the two properties that rendering rests on: the
build stays a handful of py4j round trips (the Column-API chain made
~19k), and every string the renderer embeds survives Spark's string-
literal unescaping byte for byte.
"""

from __future__ import annotations

import gc

from pyspark.sql import functions as F

from collector_spark.logs.rules import RULES

# the Column-API build made ~19k round trips; the SQL-text build ~30 plus
# whatever py4j garbage-collection messages fall into the window
MAX_ROUND_TRIPS = 100


def test_classify_wide_build_round_trips_are_bounded(spark, monkeypatch):
    from collector_spark.logs.classify import classify_wide

    lines = spark.createDataFrame(
        [(1, 0, "LOG", "duration: 1.5 ms  statement: select 1")],
        "pid int, seq long, log_level string, content string",
    )
    classify_wide(lines)  # first use resolves the JVM function classes
    gc.collect()
    client = spark.sparkContext._gateway._gateway_client
    send = client.send_command
    sent: list[str] = []

    def counting(command, *args, **kwargs):
        sent.append(command)
        return send(command, *args, **kwargs)

    monkeypatch.setattr(client, "send_command", counting)
    try:
        wide = classify_wide(lines)
    finally:
        monkeypatch.undo()
    assert len(sent) <= MAX_ROUND_TRIPS, len(sent)
    assert "classification" in wide.columns


def _embedded_strings() -> list[str]:
    from collector_spark.logs.classify import (
        _RSEP,
        _RTXT,
        PRIMARY_LEVELS,
        _repl,
    )

    out = [_RSEP, _RTXT, "UNCLASSIFIED", *PRIMARY_LEVELS]
    for r in RULES:
        out += [r.regex, r.classification, _repl(r), f"(?:{r.regex})(?s:.*)"]
        out += [p for p in r.prefixes] + [p[0] for p in r.prefixes]
        out += [f"${g}" for g in (r.num_group, r.text_group) if g]
    # what a future rule could bring: quote, backslash escapes, group
    # reference, both separator bytes, newline, multi-byte characters
    out.append("it's \\d+ \\' \\\\ '' $1 \x01\x03\n\t\r é 日本 \U0001f600 %_ \\%\\_")
    return out


def test_rendered_literals_round_trip_exactly(spark):
    from collector_spark.logs.classify import _sql_array, _sql_str

    strings = _embedded_strings()
    (got,) = spark.range(1).select(F.expr(_sql_array(strings))).first()
    assert got == strings
    # a lone literal, and NULL entries, render the same way
    one, arr = (
        spark.range(1)
        .select(F.expr(_sql_str(strings[-1])), F.expr(_sql_array(["$1", None])))
        .first()
    )
    assert one == strings[-1]
    assert arr == ["$1", None]
