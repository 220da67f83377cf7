"""Reduce an uncompressed Spark event log to per-span task totals.

A span is a Spark job group: the traced run calls ``setJobGroup(span, ...)``
around each layer, and Structured Streaming tags its micro-batch jobs with
the query's run id, which ``reduce`` maps to a span through ``aliases``.
Stages are attributed by the job-group property of their
``SparkListenerStageSubmitted`` event, so a stage reused from another job
is counted once, where it ran.
"""

from __future__ import annotations

import json
import os

MB = 1024 * 1024


def empty() -> dict:
    return {
        "tasks": 0,
        "failed_tasks": 0,
        "exec_s": 0.0,
        "shuffle_mb": 0.0,
        "spill_mb": 0.0,
        "wait_s": 0.0,
    }


def reduce(lines, aliases: dict[str, str] | None = None) -> dict[str, dict]:
    """Per-span totals from event-log lines (JSON strings):

    - ``tasks``, ``failed_tasks``: task attempts ended, and those that failed;
    - ``exec_s``: summed executor run time;
    - ``shuffle_mb``: shuffle bytes read plus shuffle bytes written;
    - ``spill_mb``: memory plus disk bytes spilled;
    - ``wait_s``: shuffle fetch wait plus scheduler delay (launch to finish,
      less run, deserialize, result-serialize and getting-result time).

    Stages without a job group land under the span ``""``."""
    aliases = aliases or {}
    stage_span: dict[int, str] = {}
    out: dict[str, dict] = {}
    for line in lines:
        if not line.strip():
            continue
        ev = json.loads(line)
        kind = ev.get("Event")
        if kind == "SparkListenerStageSubmitted":
            props = ev.get("Properties") or {}
            group = props.get("spark.jobGroup.id") or ""
            stage_span[ev["Stage Info"]["Stage ID"]] = aliases.get(group, group)
        elif kind == "SparkListenerTaskEnd":
            span = stage_span.get(ev["Stage ID"], "")
            acc = out.setdefault(span, empty())
            info = ev.get("Task Info") or {}
            m = ev.get("Task Metrics") or {}
            acc["tasks"] += 1
            acc["failed_tasks"] += int(bool(info.get("Failed")))
            run_ms = m.get("Executor Run Time", 0)
            acc["exec_s"] += run_ms / 1000
            rd = m.get("Shuffle Read Metrics") or {}
            wr = m.get("Shuffle Write Metrics") or {}
            acc["shuffle_mb"] += (
                rd.get("Remote Bytes Read", 0)
                + rd.get("Local Bytes Read", 0)
                + wr.get("Shuffle Bytes Written", 0)
            ) / MB
            acc["spill_mb"] += (
                m.get("Memory Bytes Spilled", 0) + m.get("Disk Bytes Spilled", 0)
            ) / MB
            wall = info.get("Finish Time", 0) - info.get("Launch Time", 0)
            sched = wall - run_ms - m.get("Executor Deserialize Time", 0) - m.get(
                "Result Serialization Time", 0
            )
            if info.get("Getting Result Time"):
                sched -= info.get("Finish Time", 0) - info["Getting Result Time"]
            acc["wait_s"] += (rd.get("Fetch Wait Time", 0) + max(0, sched)) / 1000
    return out


def reduce_dir(event_dir: str, aliases: dict[str, str] | None = None) -> dict[str, dict]:
    """``reduce`` over every event-log file under ``event_dir`` (one per
    SparkContext), summed per span."""
    total: dict[str, dict] = {}
    paths = sorted(
        os.path.join(d, n) for d, _, names in os.walk(event_dir) for n in names
    )
    for path in paths:
        with open(path) as f:
            part = reduce(f, aliases)
        for span, acc in part.items():
            tgt = total.setdefault(span, empty())
            for k, v in acc.items():
                tgt[k] += v
    return total
