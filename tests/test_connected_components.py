"""Property test: the distributed large-star/small-star kernel
ml/dedup.py::connected_components equals a sequential union-find on
arbitrary random graphs — the oracle only ever exercises the fixture's
near-dup pair graph, so this is the general-correctness gate (chains,
forests, multi-component graphs, self-loops, duplicate edges). Every
graph runs with the kernel's defaults, so the two long chains also pin
that its node-count-derived round cap admits them."""

from __future__ import annotations

import random

import pytest


def _union_find_components(edges: list[tuple[int, int]]) -> dict[int, int]:
    parent: dict[int, int] = {}

    def find(x: int) -> int:
        parent.setdefault(x, x)
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    def union(a: int, b: int) -> None:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)

    for a, b in edges:
        union(a, b)
    # canonical label = min node of the component
    comp: dict[int, list[int]] = {}
    for node in parent:
        comp.setdefault(find(node), []).append(node)
    return {n: min([r] + members) for r, members in comp.items() for n in members}


GRAPHS = [
    # a 12-node chain: worst diameter-per-node shape for label propagation
    [(i, i + 1) for i in range(12)],
    # two disjoint cliques + an isolated edge
    [(a, b) for a in range(4) for b in range(a + 1, 4)]
    + [(a, b) for a in range(10, 14) for b in range(a + 1, 14)]
    + [(20, 21)],
    # self-loops and duplicate/reversed edges
    [(1, 1), (2, 3), (3, 2), (2, 3), (4, 4)],
]
for seed in (7, 42):
    rng = random.Random(seed)
    GRAPHS.append(
        [(rng.randrange(30), rng.randrange(30)) for _ in range(25)]
    )
# long ordered chains: ~n min-label rounds, O(log n) contraction rounds;
# the 300-node chain needs more rounds than a fixed 16-round cap allowed
GRAPHS += [[(i, i + 1) for i in range(n)] for n in (60, 300)]


@pytest.mark.parametrize("edges", GRAPHS, ids=range(len(GRAPHS)))
def test_matches_union_find(prepared_spark, edges):
    from collector_spark.ml.dedup import connected_components

    expected = _union_find_components(edges)
    pairs = prepared_spark.createDataFrame(
        [(int(a), int(b)) for a, b in edges], "doc_a long, doc_b long"
    )
    got = {
        r["node"]: r["label"]
        for r in connected_components(pairs).collect()
    }
    assert got == expected


@pytest.mark.parametrize("edges", GRAPHS[:5], ids=range(5))
def test_star_matches_union_find(prepared_spark, edges):
    """Large-star/small-star steps pick sides by node id, so the labeling
    must not depend on how the pairs arrive: every edge reversed and the
    list shuffled gives the same components as union-find."""
    from collector_spark.ml.dedup import connected_components

    expected = _union_find_components(edges)
    flipped = [(b, a) for a, b in edges]
    random.Random(len(edges)).shuffle(flipped)
    pairs = prepared_spark.createDataFrame(
        [(int(a), int(b)) for a, b in flipped], "doc_a long, doc_b long"
    )
    got = {
        r["node"]: r["label"]
        for r in connected_components(pairs).collect()
    }
    assert got == expected
