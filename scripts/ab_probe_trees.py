#!/usr/bin/env python
"""Interleaved cross-TREE A/B of a focused query list: alternate fresh
probe_queries.py subprocesses between two trees (ABBA ordering), report
per-side per-query min — the noise-robust statistic on this shared host.

Usage: python scripts/ab_probe_trees.py <treeA> <treeB> <q1,q2,..> <pairs> <out.json>
(probe_queries.py must exist in both trees; copy it into old worktrees.)"""

from __future__ import annotations

import json
import os
import subprocess
import sys
import time


def run_probe(tree: str, qlist: str, n_runs: int) -> dict:
    t0 = time.time()
    p = subprocess.run(
        [sys.executable, "scripts/probe_queries.py", qlist, str(n_runs)],
        cwd=tree,
        capture_output=True,
        text=True,
        timeout=3600,
    )
    line = ""
    for ln in p.stdout.splitlines():
        if ln.startswith("{"):
            line = ln
    d = json.loads(line) if line else {}
    d["tree"] = tree
    d["rc"] = p.returncode
    d["wall"] = round(time.time() - t0, 1)
    if p.returncode != 0:
        d["stderr_tail"] = p.stderr[-2000:]
    return d


def main() -> int:
    tree_a, tree_b, qlist, n_pairs, out_path = (
        sys.argv[1],
        sys.argv[2],
        sys.argv[3],
        int(sys.argv[4]),
        sys.argv[5],
    )
    n_runs = int(sys.argv[6]) if len(sys.argv) > 6 else 3
    order: list[str] = []
    for i in range(n_pairs):
        order += [tree_a, tree_b] if i % 2 == 0 else [tree_b, tree_a]
    runs = []
    for i, tree in enumerate(order):
        r = run_probe(tree, qlist, n_runs)
        runs.append(r)
        with open(out_path, "w") as f:
            json.dump(runs, f, indent=1)
        print(
            f"[{i + 1}/{len(order)}] {tree} rc={r['rc']} wall={r['wall']} "
            f"load={r.get('loadavg_start')}->{r.get('loadavg_end')}",
            flush=True,
        )
    sides: dict[str, dict[str, list[float]]] = {}
    for r in runs:
        if r["rc"] == 0 and r.get("queries"):
            acc = sides.setdefault(r["tree"], {})
            for q, times in r["queries"].items():
                acc.setdefault(q, []).extend(times)
    summary = {
        tree: {q: min(v) for q, v in qs.items()} for tree, qs in sides.items()
    }
    with open(out_path, "w") as f:
        json.dump({"runs": runs, "min_per_side": summary}, f, indent=1)
    print(json.dumps(summary))
    return 0


if __name__ == "__main__":
    sys.exit(main())
