"""Source guard: each near-dup kernel of ml/dedup.py is written once under
collector_spark/ — the connected-components pass, the within-bucket pair
expansion, the shingle-intersection count and the content normalization —
so a hand copy that could drift from it does not come back."""

from __future__ import annotations

import pathlib
import re

PKG = pathlib.Path(__file__).resolve().parent.parent / "collector_spark"


def _sources() -> dict[str, str]:
    # adjacent string literals split over lines read as one string, so a
    # Spark SQL fragment is matched however it is wrapped
    return {
        str(p.relative_to(PKG)): re.sub(r'"\s*\n\s*f?"', "", p.read_text())
        for p in sorted(PKG.rglob("*.py"))
    }


def _count(pattern: str, skip=lambda text, m: False) -> dict[str, int]:
    hits: dict[str, int] = {}
    for rel, text in _sources().items():
        n = sum(1 for m in re.finditer(pattern, text) if not skip(text, m))
        if n:
            hits[rel] = n
    return hits


def _carries_positions(text: str, m: re.Match) -> bool:
    # textstats' winnowing expansion pairs (doc, position) structs: another
    # kernel
    return "pos_a" in text[m.end() : m.end() + 200]


def test_each_dedup_kernel_is_written_once():
    assert _count(r"\bdef connected_components\b") == {"ml/dedup.py": 1}
    assert _count(r"connected_components_star") == {}
    assert _count(r"\(a, i\) -> transform\(slice\(", _carries_positions) == {
        "ml/dedup.py": 1
    }
    assert _count(r'alias\("inter"\)') == {"ml/dedup.py": 1}
    assert _count(r'r"\\s\+", " "') == {"ml/dedup.py": 1}
