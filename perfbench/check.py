"""Output checks. Each returns None when the output is right, or a
one-line description of what is wrong; the workloads count every
mismatch as a failed operation."""

from __future__ import annotations

import json
import os
from typing import Iterable, List, Optional, Sequence, Tuple

Hits = Sequence[Tuple[int, float]]

#: relative score tolerance between executors (SQL, numpy, Arrow paths
#: sum BM25 terms in different orders)
SCORE_RTOL = 1e-9

#: stages IndexBuilder.build journals in manifest.jsonl
BUILD_STAGES = ("doclens", "postings_flat", "terms", "stats", "segments",
                "file_index")


def _close(a: float, b: float) -> bool:
    return abs(a - b) <= SCORE_RTOL * max(1.0, abs(a), abs(b))


def same_topk(got: Hits, want: Hits) -> Optional[str]:
    """Rank identity of two top-k lists of (doc_id, score) in rank
    order: same length, scores equal within SCORE_RTOL position by
    position, and the same doc ids in the same order. Docs whose
    scores tie within the tolerance may swap places, and a tie group
    cut by k may hold different members."""
    if len(got) != len(want):
        return f"{len(got)} hits, expected {len(want)}"
    for i, ((_, gs), (_, ws)) in enumerate(zip(got, want)):
        if not _close(gs, ws):
            return f"rank {i}: score {gs!r}, expected {ws!r}"
    i = 0
    while i < len(want):
        j = i + 1
        while j < len(want) and _close(want[j][1], want[i][1]):
            j += 1
        g = {d for d, _ in got[i:j]}
        w = {d for d, _ in want[i:j]}
        # a tie group that runs to the cut may be filled differently
        if g != w and not (j == len(want) and j - i > 1):
            if j - i == 1:
                return f"rank {i}: doc {got[i][0]}, expected {want[i][0]}"
            return f"ranks {i}-{j - 1}: docs {sorted(g)}, expected {sorted(w)}"
        i = j
    return None


def tombstoned(ids: Iterable[int], deleted: set) -> Optional[str]:
    """No deleted doc id may be served."""
    bad = sorted(int(d) for d in ids if int(d) in deleted)
    return f"tombstoned docs served: {bad}" if bad else None


def build_ok(index_dir: str, n_docs: int) -> Optional[str]:
    """A finished build: stats.json counts the corpus and every
    manifest stage is journalled done."""
    with open(os.path.join(index_dir, "stats.json")) as f:
        stats = json.load(f)
    if int(stats["n_docs"]) != n_docs:
        return f"stats.json n_docs {stats['n_docs']}, corpus has {n_docs}"
    done = set()
    with open(os.path.join(index_dir, "manifest.jsonl")) as f:
        for line in f:
            if line.strip():
                e = json.loads(line)
                if e.get("status") == "done":
                    done.add(e["stage"])
    missing: List[str] = [s for s in BUILD_STAGES if s not in done]
    return f"manifest stages not done: {missing}" if missing else None
