"""Tests of the benchmark harness itself (no Spark session):

    python3 -m pytest perfbench -q
"""

from __future__ import annotations

import datetime as dt
import json
import os

import numpy as np
import pyarrow.parquet as pq
import pytest

from collector_spark.tables import TABLE_NAMES
from perfbench import eventlog, inputs, run, workloads

HERE = os.path.dirname(os.path.abspath(__file__))


def _source() -> str:
    from collector_spark import tables

    return os.path.join(os.path.dirname(tables.DEFAULT_SF_DIR), "sf0.001")


@pytest.fixture(scope="module")
def source():
    src = _source()
    if not os.path.isfile(os.path.join(src, "events.parquet")):
        pytest.skip(f"no source tables in {src}")
    return src


def _tables(d: str) -> dict:
    return {t: pq.read_table(os.path.join(d, f"{t}.parquet")) for t in TABLE_NAMES}


def test_generator_is_deterministic_per_seed(source, tmp_path):
    a = _tables(inputs.generate(source, str(tmp_path / "a"), 5))
    b = _tables(inputs.generate(source, str(tmp_path / "b"), 5))
    c = _tables(inputs.generate(source, str(tmp_path / "c"), 6))
    assert all(a[t].equals(b[t]) for t in TABLE_NAMES)
    assert not a["events"].equals(c["events"])
    assert not a["orders"].equals(c["orders"])


def test_generator_keeps_sizes_types_and_event_order(source, tmp_path):
    src = _tables(source)
    gen = _tables(inputs.generate(source, str(tmp_path / "g"), 9))
    for t in TABLE_NAMES:
        assert gen[t].schema == src[t].schema, t
        assert gen[t].num_rows == src[t].num_rows, t
    # a bijection keeps the distinct ids
    assert set(gen["orders"].column("o_orderkey").to_pylist()) == set(
        src["orders"].column("o_orderkey").to_pylist()
    )
    # events are only permuted: the same rows, so ids stay in event-time order
    assert gen["events"].sort_by("event_id").equals(src["events"].sort_by("event_id"))
    ts = gen["events"].sort_by("event_id").column("ts").cast("int64").to_numpy()
    assert (np.diff(ts) >= 0).all()
    # lineitem keys follow orders through the same map
    okeys = set(gen["orders"].column("o_orderkey").to_pylist())
    assert set(gen["lineitem"].column("l_orderkey").to_pylist()) <= okeys
    # doc_id moves to new distinct values in the same order
    old = src["documents"].sort_by("doc_id")
    new = gen["documents"].sort_by("doc_id")
    assert len(set(new.column("doc_id").to_pylist())) == new.num_rows
    assert new.drop_columns(["doc_id"]).equals(old.drop_columns(["doc_id"]))


def test_rank_fingerprint_is_seed_free(source, tmp_path):
    a = inputs.generate(source, str(tmp_path / "a"), 1)
    b = inputs.generate(source, str(tmp_path / "b"), 2)
    assert inputs.rank_fingerprint(a, "documents", "doc_id") == inputs.rank_fingerprint(
        b, "documents", "doc_id"
    )
    assert inputs.rank_fingerprint(a, "documents", "doc_id") != inputs.rank_fingerprint(
        a, "documents", "n_chars"
    )
    # the log workloads' key: events in id order, ids kept
    lb = workloads.LogBatch()
    assert lb.seed_free_key(a) == lb.seed_free_key(b) == workloads.LogStream().seed_free_key(a)


def test_generate_reuses_a_complete_dir(source, tmp_path):
    out = str(tmp_path / "r")
    inputs.generate(source, out, 3)
    stamp = os.path.getmtime(os.path.join(out, "events.parquet"))
    inputs.generate(source, out, 3)
    assert os.path.getmtime(os.path.join(out, "events.parquet")) == stamp


def test_value_hash_is_order_and_zone_insensitive():
    naive = dt.datetime(2024, 1, 1, 0, 0, 1)
    aware = naive.replace(tzinfo=dt.timezone.utc)
    rows = [(1, naive, True), (2, None, False)]
    flipped = [(False, None, 2), (True, aware, 1)]
    assert inputs.value_hash(["a", "b", "c"], rows) == inputs.value_hash(
        ["c", "b", "a"], flipped
    )


def _event(kind: str, **fields) -> str:
    return json.dumps({"Event": kind, **fields})


def _task(stage: int, run_ms: int, failed: bool = False, **metrics) -> str:
    return _event(
        "SparkListenerTaskEnd",
        **{
            "Stage ID": stage,
            "Task Info": {"Launch Time": 1000, "Finish Time": 1000 + run_ms + 30, "Failed": failed},
            "Task Metrics": {
                "Executor Run Time": run_ms,
                "Executor Deserialize Time": 10,
                "Result Serialization Time": 0,
                **metrics,
            },
        },
    )


TINY_LOG = [
    _event(
        "SparkListenerStageSubmitted",
        **{"Stage Info": {"Stage ID": 0}, "Properties": {"spark.jobGroup.id": "logs.parse"}},
    ),
    _event(
        "SparkListenerStageSubmitted",
        **{"Stage Info": {"Stage ID": 1}, "Properties": {"spark.jobGroup.id": "run-1"}},
    ),
    _event("SparkListenerStageSubmitted", **{"Stage Info": {"Stage ID": 2}}),
    _task(
        0,
        500,
        **{
            "Shuffle Write Metrics": {"Shuffle Bytes Written": eventlog.MB},
            "Memory Bytes Spilled": 2 * eventlog.MB,
        },
    ),
    _task(
        0,
        250,
        failed=True,
        **{
            "Shuffle Read Metrics": {
                "Remote Bytes Read": 0,
                "Local Bytes Read": eventlog.MB,
                "Fetch Wait Time": 40,
            }
        },
    ),
    _task(1, 1000),
    _task(2, 100),
    "",
]


def test_eventlog_reducer_on_tiny_log():
    out = eventlog.reduce(TINY_LOG, {"run-1": "streaming.log_stream"})
    parse = out["logs.parse"]
    assert parse["tasks"] == 2 and parse["failed_tasks"] == 1
    assert parse["exec_s"] == pytest.approx(0.75)
    assert parse["shuffle_mb"] == pytest.approx(2.0)
    assert parse["spill_mb"] == pytest.approx(2.0)
    # scheduler delay: 30 ms wall beyond run time, less 10 ms deserialize,
    # per task; plus 40 ms fetch wait on the second
    assert parse["wait_s"] == pytest.approx(0.08)
    assert out["streaming.log_stream"]["exec_s"] == pytest.approx(1.0)
    assert out[""]["tasks"] == 1


def test_eventlog_reduce_dir_sums_files(tmp_path):
    for i in range(2):
        sub = tmp_path / f"app{i}"
        sub.mkdir()
        (sub / "events").write_text("\n".join(TINY_LOG))
    out = eventlog.reduce_dir(str(tmp_path))
    assert out["logs.parse"]["tasks"] == 4


def test_tick_stats_skip_ticks_without_input():
    ticks = [{"trigger_s": float(i), "input_rows": 10} for i in (1, 2, 3)]
    ticks.append({"trigger_s": 0.1, "input_rows": 0})
    assert workloads.tick_stats(ticks) == {"n": 3, "p50": 2.0}
    assert workloads.tick_stats(ticks[3:]) == {"n": 0, "p50": 0.0}


def test_printed_names_match_benchmark_json():
    with open(os.path.join(HERE, os.pardir, "BENCHMARK.json")) as f:
        spec = json.load(f)
    assert {w["name"] for w in spec["workloads"]} == set(workloads.WORKLOADS)
    assert {m["name"]: m["unit"] for m in spec["end_to_end"]} == run.END_TO_END
    assert {m["name"]: m["unit"] for m in spec["per_layer"]} == run.PER_LAYER
    lifecycles = [*workloads.WORKLOADS.values()]
    lifecycles += [cls for group in workloads.EXTRAS.values() for cls in group]
    assert {s for cls in lifecycles for s in cls.spans} == set(run.SPANS)
    assert set(workloads.EXTRAS) == set(workloads.WORKLOADS)
