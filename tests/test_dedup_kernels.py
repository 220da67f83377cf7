"""Source guard: each near-dup kernel of ml/dedup.py and each
text-statistics kernel of ml/curation.py is written once under
collector_spark/ — the connected-components pass, the within-bucket pair
expansion, the shingle-intersection count, the content normalization, the
word tokenizer, the token-pair expansion, the grid mean and the 2^20
grid — so a hand copy that could drift from it does not come back."""

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


def _chunk_bounds(text: str, m: re.Match) -> bool:
    # multimodal's content-defined chunking reads consecutive byte offsets
    # of a boundary array: another kernel
    return "bounds" in m.group(0)


def _other_jobs(text: str, m: re.Match) -> bool:
    # similarity's KMEANS_SCALE rounds vector components and curation's
    # QSAMPLE_M is the sampling hash modulus: the same number, other jobs
    return m.group(1) in ("KMEANS_SCALE", "QSAMPLE_M")


def test_each_curation_kernel_is_written_once():
    assert _count(r'F\.split\(F\.trim\(.*?, r"\\s\+"\)') == {"ml/dedup.py": 1}
    pair = r'element_at\([^()]*,\s*(?:F\.col\("i"\)\.cast\("int"\)\s*\+\s*1|i\s*\+\s*1|j)\)'
    assert _count(pair, _chunk_bounds) == {"ml/curation.py": 1}
    assert _count(r'\.cast\("double"\) \* (?:_NLL_SCALE|NB_SCALE)\)') == {
        "ml/curation.py": 1
    }
    grid = r"(?m)^(\w+) = (?:1 << 20|1048576)\b"
    assert _count(grid, _other_jobs) == {"ml/textstats.py": 1}
    assert _count(r"substring\(w, i, 2\)") == {}
