#!/usr/bin/env python3
"""Log-lifecycle benchmark for collector_spark.

    python3 perfbench/run.py --workload log_batch --seed 1 --seconds 1 --trace 0

Run from the repository root. One process drives one workload closed-loop
at ``local[<cores - 1>]`` (``cores``): the next cycle starts when the last
one finishes.

- ``--trace 0`` prints the end-to-end metrics: ``setup_s`` (JVM launch,
  session, ``registry.prepare`` and workload staging) and ``first_cycle_s``
  (the first cycle after setup). More cycles run until ``--seconds`` have
  passed since the first one started; they are checked and listed in the
  info line, so at ``--seconds 1`` the run has one cycle.
- ``--trace 1`` prints the per-layer metrics. The Spark event log is on
  (uncompressed) from JVM launch; after setup (and, on ``log_batch``, a
  warm-up cycle), one fused cycle runs under the job group ``cycle`` as the
  reference, then the same cycle runs again split into layer spans
  (``workloads.py``). Then the workload's extra lifecycle
  (``workloads.EXTRAS``) runs once, split into spans.

Every cycle's output is checked against the DuckDB oracle of the registered
query outside the timed region; a cycle that raises, mismatches or
(stream) drops a row to the watermark counts in ``failed``, and so does a
traced run whose spans do not reconcile with its fused cycle. The last
stdout line is the JSON result; the line before it records the run's
environment. Inputs and oracle results are cached under ``.perfbench/`` in
the repository root; everything else the run writes goes to a per-run
directory there, deleted at exit. See perfbench/README.md.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import sys
import tempfile
import time
import traceback

ROOT = os.getcwd()
STATE = os.path.join(ROOT, ".perfbench")
DRIVER_MEM = "4g"
# the seeded inputs derive from this scale of the package's test tables
SOURCE_SCALE = "sf0.001"
MB = 1024 * 1024

END_TO_END = {
    "setup_s": "s",
    "first_cycle_s": "s",
}
SPAN_METRICS = {
    "self_s": "s",
    "build_s": "s",
    "tasks": "count",
    "exec_s": "s",
    "shuffle_mb": "MB",
    "spill_mb": "MB",
}
SPANS = (
    "logs.parse",
    "logs.stitch",
    "logs.classify",
    "logs.redact",
    "operators.snapshot_logs",
    "streaming.log_stream",
    "operators.statements.diff",
    "operators.statements.rollup",
    "operators.snapshot",
    "operators.historic",
    "operators.activity",
    "operators.relation_scan",
    "ml.dedup",
    "ml.curation",
    "ml.export",
)
COUNTERS = {
    "cycle.input_rows": "count",
    "cycle.first_s": "s",
    "fixtures.prepare_s": "s",
    "fixtures.pinned_mb": "MB",
    "logs.parse.hit_frac": "frac",
    "logs.stitch.events_out": "count",
    "logs.classify.classified_frac": "frac",
    "logs.redact.redacted_rows": "count",
    "streaming.ticks": "count",
    "streaming.tick_p50_s": "s",
    "streaming.add_batch_s": "s",
    "streaming.commit_s": "s",
    "streaming.planning_s": "s",
    "streaming.state_rows": "count",
    "streaming.state_mb": "MB",
    "streaming.dropped_rows": "count",
    "ml.dedup.keep_frac": "frac",
    "ml.export.written_mb": "MB",
    "ml.export.files": "count",
    "spark.wait_s": "s",
    "spark.failed_tasks": "count",
    "cycle.par_eff": "frac",
    "memory.peak_rss_mb": "MB",
    "trace.overhead_frac": "frac",
    "trace.reconcile_frac": "frac",
}
PER_LAYER = {
    **{f"{s}.{m}": u for s in SPANS for m, u in SPAN_METRICS.items()},
    **COUNTERS,
}
# the workload's span sum against its fused cycle, two consecutive cycles
# in one process: they differ by staging, by host noise and by warm-up
# (log_stream's fused cycle is its first); outside this band the split does
# not account for the cycle, and the traced run counts as failed
RECONCILE_TOLERANCE = (0.4, 1.6)


def log(msg: str) -> None:
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def cores() -> int:
    """Task slots: one fewer than the cores the process may use, which are
    left to the driver, the JVM's compiler and GC threads and the Python
    workers (on 4 cores, ``local[4]`` spread ``log_stream``'s cycle over five
    seeds by 0.25 of its median, ``local[3]`` by 0.06, at the same speed)."""
    return max(1, len(os.sched_getaffinity(0)) - 1)


def pin_env(run_dir: str, confs: dict) -> None:
    """Environment the package reads at import or JVM launch; ``confs`` are
    Spark properties passed at JVM launch."""
    tmp = os.path.join(run_dir, "tmp")
    os.environ["SPARK_GRAFT_CPUS"] = str(cores())
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(run_dir, "local")
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = DRIVER_MEM
    os.environ["TMPDIR"] = tmp
    tempfile.tempdir = tmp
    for knob in ("SPARK_GRAFT_SF_DIR", "SPARK_GRAFT_NO_MASTER", "SPARK_GRAFT_WIDEN_TARGET"):
        os.environ.pop(knob, None)
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
    )
    conf_args = " ".join(f"--conf {k}={v}" for k, v in confs.items())
    os.environ["PYSPARK_SUBMIT_ARGS"] = (
        f'--driver-java-options "-Djava.io.tmpdir={tmp}" {conf_args} pyspark-shell'
    )
    if ROOT not in sys.path:
        sys.path.insert(0, ROOT)


def source_dir() -> str:
    override = os.environ.get("PERFBENCH_SOURCE_DIR")
    if override:
        return override
    from collector_spark import tables

    return os.path.join(os.path.dirname(tables.DEFAULT_SF_DIR), SOURCE_SCALE)


class Run:
    """One benchmark process: the session, cycles and their outputs."""

    def __init__(self, workload, input_dir: str, run_dir: str, oracle: dict):
        self.wl = workload
        self.input_dir = input_dir
        self.run_dir = run_dir
        self.oracle = oracle
        self.spark = None
        # one entry per cycle: its extra (checks, ticks...) or None if it raised
        self.outputs: list[dict | None] = []

    def setup(self) -> tuple[float, float]:
        """Start the session (and the JVM), prepare the fixtures and stage
        the workload. Returns (setup_s, prepare_s)."""
        from collector_spark import registry
        from collector_spark.session import get_spark

        t0 = time.perf_counter()
        self.spark = get_spark("perfbench")
        t1 = time.perf_counter()
        registry.prepare(self.spark, self.input_dir)
        prepare_s = time.perf_counter() - t1
        self.wl.stage(self.spark)
        return time.perf_counter() - t0, prepare_s

    def _timed(self, fn, lc):
        out = os.path.join(self.run_dir, "out", str(len(self.outputs)))
        t0 = time.perf_counter()
        try:
            res = fn(self.spark, out)
        except Exception:  # a failed cycle is a result, not a crash
            log(f"{lc.name} cycle {len(self.outputs)} failed:\n{traceback.format_exc()}")
            res = None
        return time.perf_counter() - t0, res

    def cycle(self, lc) -> tuple[float, dict | None]:
        secs, extra = self._timed(lc.cycle, lc)
        self.outputs.append(extra)
        return secs, extra

    def traced(self, lc) -> tuple[float, dict, dict, dict | None]:
        """One cycle of ``lc`` split into spans: (secs, spans, counters, extra)."""
        secs, res = self._timed(lc.traced, lc)
        spans, counts, extra = res if res is not None else ({}, {}, None)
        self.outputs.append(extra)
        return secs, spans, counts, extra

    def check(self) -> int:
        """Failed cycles: raised, mismatched an oracle or dropped rows."""
        from perfbench import inputs

        failed = 0
        for extra in self.outputs:
            ok = extra is not None and extra.get("dropped_rows", 0) == 0
            for key, kind, target in (extra or {}).get("checks", ()):
                if not ok:
                    break
                got = (
                    target
                    if kind == "summary"
                    else inputs.output_summary(target, partitioned=kind == "partitioned")
                )
                ok = got == self.oracle[key]
                if not ok:
                    log(f"{key} mismatch: {got} != {self.oracle[key]}")
            failed += not ok
        return failed

    def close(self) -> None:
        from pyspark import SparkContext

        from perfbench import procs

        if self.spark is not None:
            try:
                self.spark.stop()
            finally:
                gw = SparkContext._gateway
                if gw is not None:
                    gw.shutdown()
                    proc = getattr(gw, "proc", None)
                    if proc is not None:
                        proc.stdin.close()
                        proc.wait(timeout=60)
        procs.reap_children()


def oracles(lifecycles, input_dir: str) -> dict:
    """Oracle summaries of every check the lifecycles make, cached per seed
    in the input dir, or under ``.perfbench/oracles`` for a lifecycle whose
    results do not depend on the seed (``seed_free_key``)."""
    from collector_spark import registry

    from perfbench import inputs

    sqls = registry.driver_oracle_sql()
    out = {}
    for lc in lifecycles:
        shared = getattr(lc, "seed_free_key", None)
        for key, cols in lc.oracles().items():
            sql = sqls[key] if cols is None else f"SELECT {', '.join(cols)} FROM ({sqls[key]}) q"
            if shared is None:
                path = os.path.join(input_dir, f"oracle-{key}.json")
            else:
                os.makedirs(os.path.join(STATE, "oracles"), exist_ok=True)
                path = os.path.join(STATE, "oracles", f"{key}-{shared(input_dir)}.json")
            out[key] = inputs.oracle(input_dir, sql, path)
    return out


def measure(run: Run, seconds: float) -> tuple[dict, dict]:
    setup_s, _ = run.setup()
    input_rows = run.spark.table("log_raw").count()
    t0 = time.perf_counter()
    first, _ = run.cycle(run.wl)
    later = []
    while time.perf_counter() - t0 < seconds:
        later.append(run.cycle(run.wl)[0])
    metrics = {"setup_s": setup_s, "first_cycle_s": first}
    info = {"later_cycles_s": later, "input_rows": input_rows}
    if later:
        info["later_cycles_p50_s"] = statistics.median(later)
    return metrics, info


def _event_log_confs(path: str) -> dict:
    return {
        "spark.eventLog.enabled": "true",
        "spark.eventLog.compress": "false",
        "spark.eventLog.rolling.enabled": "false",
        "spark.eventLog.dir": "file://" + path,
    }


def measure_traced(run: Run) -> tuple[dict, dict]:
    """Per-layer metrics from one process with the event log on: setup,
    a warm-up cycle (if the workload has ``traced_warmup``), one fused cycle
    (the reference: job group ``cycle``), the same cycle split into layer
    spans, then each extra lifecycle's first cycle, split into spans."""
    from perfbench import eventlog, procs, workloads

    metrics = dict.fromkeys(PER_LAYER, 0.0)
    with procs.RssSampler() as rss:
        _, prepare_s = run.setup()
        sc = run.spark.sparkContext
        metrics["fixtures.prepare_s"] = prepare_s
        storage = sc._jsc.sc().getRDDStorageInfo()
        metrics["fixtures.pinned_mb"] = (
            sum(r.memSize() + r.diskSize() for r in storage) / MB
        )
        metrics["cycle.input_rows"] = run.spark.table("log_raw").count()
        if run.wl.traced_warmup:
            metrics["cycle.first_s"], _ = run.cycle(run.wl)
        sc.setJobGroup("cycle", "fused cycle")
        fused, fused_extra = run.cycle(run.wl)
        if not run.wl.traced_warmup:
            metrics["cycle.first_s"] = fused
        traced, spans, counts, extra = run.traced(run.wl)
        own = sum(r["self_s"] for r in spans.values())
        metrics.update(counts)
        info = {"fused_cycle_s": fused, "traced_cycle_s": traced}
        for cls in workloads.EXTRAS[run.wl.name]:
            lc = cls()
            lc.stage(run.spark)
            info[f"{lc.name}_traced_cycle_s"], lc_spans, lc_counts, _ = run.traced(lc)
            spans.update(lc_spans)
            metrics.update(lc_counts)
        run.spark.stop()
    aliases = dict.fromkeys((fused_extra or {}).get("run_ids", ()), "cycle")
    aliases.update((extra or {}).get("aliases", {}))
    tasks = eventlog.reduce_dir(os.path.join(run.run_dir, "events"), aliases)

    for span, rec in spans.items():
        acc = tasks.get(span, eventlog.empty())
        metrics[f"{span}.self_s"] = rec["self_s"]
        metrics[f"{span}.build_s"] = rec["build_s"]
        for k in ("tasks", "exec_s", "shuffle_mb", "spill_mb"):
            metrics[f"{span}.{k}"] = acc[k]
        metrics["spark.wait_s"] += acc["wait_s"]
        metrics["spark.failed_tasks"] += acc["failed_tasks"]
    ticks = (extra or {}).get("ticks", [])
    if ticks:
        st = workloads.tick_stats((fused_extra or {}).get("ticks", []) + ticks)
        metrics.update(
            {
                "streaming.ticks": len(ticks),
                "streaming.tick_p50_s": st["p50"],
                "streaming.add_batch_s": sum(t["add_batch_s"] for t in ticks),
                "streaming.commit_s": sum(t["commit_s"] for t in ticks),
                "streaming.planning_s": sum(t["planning_s"] for t in ticks),
                "streaming.state_rows": max(t["state_rows"] for t in ticks),
                "streaming.state_mb": max(t["state_bytes"] for t in ticks) / MB,
                "streaming.dropped_rows": sum(t["dropped_rows"] for t in ticks),
            }
        )
        info["data_ticks"] = st["n"]
    cycle_exec = tasks.get("cycle", eventlog.empty())["exec_s"]
    metrics["cycle.par_eff"] = cycle_exec / (cores() * fused)
    metrics["memory.peak_rss_mb"] = rss.peak / MB
    metrics["trace.reconcile_frac"] = own / fused
    metrics["trace.overhead_frac"] = traced / fused - 1
    lo, hi = RECONCILE_TOLERANCE
    info.update(
        {
            "reconcile_tolerance": RECONCILE_TOLERANCE,
            "reconcile_ok": lo <= metrics["trace.reconcile_frac"] <= hi,
            "spans": spans,
        }
    )
    return metrics, info


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    t_start = time.perf_counter()

    if not os.path.isdir(os.path.join(ROOT, "collector_spark")):
        log("collector_spark not found: run from the repository root")
        return 2
    sys.path.insert(0, ROOT)
    from perfbench import inputs, procs, workloads

    if args.workload not in workloads.WORKLOADS:
        log(f"unknown workload {args.workload!r}; expected one of {sorted(workloads.WORKLOADS)}")
        return 2
    foreign = procs.foreign_spark_jvms()
    if foreign:
        log(f"refusing to time: other Spark JVMs are running (pids {foreign})")
        return 3

    run_dir = os.path.join(STATE, f"run-{os.getpid()}")
    shutil.rmtree(run_dir, ignore_errors=True)
    for sub in ("tmp", "local", "out", "events"):
        os.makedirs(os.path.join(run_dir, sub))
    confs = _event_log_confs(os.path.join(run_dir, "events")) if args.trace else {}
    pin_env(run_dir, confs)
    try:
        src = source_dir()
        if not os.path.isfile(os.path.join(src, "events.parquet")):
            log(f"source tables not found in {src}")
            return 2
        wl = workloads.WORKLOADS[args.workload]()
        input_dir = inputs.generate(
            src, os.path.join(STATE, "inputs", f"{SOURCE_SCALE}-seed{args.seed}"), args.seed
        )
        from collector_spark import registry

        registry.load_all()
        extras = [cls() for cls in workloads.EXTRAS[args.workload]]
        oracle = oracles([wl, *extras] if args.trace else [wl], input_dir)
        # the seed-free oracles are computed once per checkout (the
        # export's takes about 45 s): by the first run, whatever its
        # workload, so that no later run pays for one
        every = [*workloads.WORKLOADS.values()]
        every += [cls for group in workloads.EXTRAS.values() for cls in group]
        oracles([cls() for cls in every if hasattr(cls, "seed_free_key")], input_dir)
        log(f"inputs and oracles ready at {time.perf_counter() - t_start:.1f}s")
        load_start = procs.loadavg()
        run = Run(wl, input_dir, run_dir, oracle)
        try:
            if args.trace:
                metrics, info = measure_traced(run)
                units = PER_LAYER
            else:
                metrics, info = measure(run, args.seconds)
                units = END_TO_END
            log(f"cycles done at {time.perf_counter() - t_start:.1f}s")
            attempted = len(run.outputs)
            failed = min(attempted, run.check() + (not info.get("reconcile_ok", True)))
        finally:
            run.close()
            log(f"processes stopped at {time.perf_counter() - t_start:.1f}s")
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)

    info.update(
        {
            "workload": args.workload,
            "seed": args.seed,
            "cores": cores(),
            "driver_memory": DRIVER_MEM,
            "input": os.path.basename(input_dir),
            "loadavg_start": load_start,
            "loadavg_end": procs.loadavg(),
        }
    )
    print(json.dumps({"info": info}))
    print(
        json.dumps(
            {
                "correct": failed == 0,
                "attempted": attempted,
                "failed": failed,
                "metrics": {
                    k: {"value": float(metrics[k]), "unit": u} for k, u in units.items()
                },
            }
        )
    )
    return 0


if __name__ == "__main__":
    sys.exit(main())
