"""Seeded inputs for the benchmark workloads.

Everything the program under test receives is made here from the
run's seed: the query pool, the Zipf-ordered query stream, the
embedded-rw delete ids and the ingest corpus seed. The served corpus
itself is a fixed fixtures corpus (built once per checkout and reused),
so the seed varies the traffic, not the index.

Query strings draw from the three `lucille_spark.fixtures` term bands:
HOT (in most docs), MID (Zipfian df) and RARE (1-5% of docs).
"""

from __future__ import annotations

from collections import OrderedDict
from dataclasses import dataclass, field
from typing import Dict, List

import numpy as np

from lucille_spark import fixtures

#: query shapes, in the round-robin order the pool is stratified by
SHAPES = ("term", "and", "or", "phrase", "not", "prefix", "fuzzy")

#: executor plan-cache capacity (exec_df / exec_wand PLAN_CACHE_MAX)
PLAN_CACHE = 64

#: Zipf exponent of query popularity
ZIPF_S = 1.0
#: fixed seed of the popularity-rank sequence
PROFILE_SEED = 7


@dataclass
class QueryStream:
    """A query pool and the seeded, Zipf-ordered stream drawn from it."""

    pool: List[str]
    stream: List[str]
    shape_of: Dict[str, str] = field(default_factory=dict)

    def stats(self, consumed: int) -> dict:
        """Working-set figures for the first `consumed` queries: pool
        size, distinct queries seen, and the hit ratio a
        `PLAN_CACHE`-entry LRU keyed on the query string would get."""
        seen = self.stream[:consumed]
        return {
            "pool_size": len(self.pool),
            "queries": len(seen),
            "distinct_queries": len(set(seen)),
            "lru64_hit_ratio": lru_hit_ratio(seen, PLAN_CACHE),
        }


def lru_hit_ratio(seq: List[str], capacity: int) -> float:
    cache: "OrderedDict[str, None]" = OrderedDict()
    hits = 0
    for q in seq:
        if q in cache:
            hits += 1
            cache.move_to_end(q)
        else:
            cache[q] = None
            if len(cache) > capacity:
                cache.popitem(last=False)
    return hits / len(seq) if seq else 0.0


#: fixtures draws MID_TERMS Zipfian, so their document frequency runs
#: from ~99% (first) to ~8% (last); this slice keeps the mid band to
#: ~11-30% of docs, one cost class like the hot (~99%) and rare
#: (~19-29%, plus the planted phrases) bands
MID_BAND = fixtures.MID_TERMS[50:150]


def _band_term(rng: np.random.Generator, band: str) -> str:
    terms = {"hot": fixtures.HOT_TERMS, "mid": MID_BAND,
             "rare": fixtures.RARE_TERMS}[band]
    return str(rng.choice(terms))


def _query(rng: np.random.Generator, shape: str, band: str) -> str:
    t = lambda b=band: _band_term(rng, b)  # noqa: E731
    if shape == "term":
        return t()
    if shape == "and":
        return f"{t()} AND {t('mid')}"
    if shape == "or":
        return f"{t()} OR {t('mid')} OR {t('rare')}"
    if shape == "phrase":
        # the generator renders "def a(b): return c" lines, so "def a",
        # "a b" and "return c" are real adjacencies; the planted
        # fixtures phrases cover the rare band
        if band == "rare":
            return '"' + str(rng.choice([p for p, _ in fixtures.PHRASES])) + '"'
        if band == "hot":
            lead = "return" if rng.random() < 0.5 else "def"
            return f'"{lead} {t("mid")}"'
        return f'"{t("mid")} {t("mid")}"'
    if shape == "not":
        return f"{t()} AND NOT {t('mid')}"
    if shape == "prefix":
        base = t("mid" if band == "hot" else band)
        return base[: max(3, len(base) - 3)] + "*"
    if shape == "fuzzy":
        return f"{t('mid' if band == 'hot' else band)}~1"
    raise ValueError(shape)


def query_stream(
    seed: int, pool_size: int = 140, length: int = 20_000
) -> QueryStream:
    """Seeded pool of distinct queries plus a Zipf-ordered stream.

    The pool is stratified: popularity rank i holds shape
    i % len(SHAPES), bands cycling mid/rare/hot within a shape, so each
    seed sends the same mix of shapes at every popularity level and
    only the terms differ. `pool_size` is larger than the executors'
    plan caches, so the stream's working set does not fit them."""
    rng = np.random.default_rng(np.random.PCG64([seed, 1]))
    # the most popular queries use mid-band terms; hot-band queries
    # (a posting in every doc) start at rank 2 * len(SHAPES)
    bands = ("mid", "rare", "hot")
    pool: List[str] = []
    shape_of: Dict[str, str] = {}
    collisions = 0
    while len(pool) < pool_size:
        i = len(pool)
        shape = SHAPES[i % len(SHAPES)]
        # a band with too few distinct queries of this shape (six hot
        # terms) hands the slot to the next band
        band = bands[(i // len(SHAPES) + collisions // 20) % len(bands)]
        q = _query(rng, shape, band)
        if q in shape_of:
            collisions += 1
            if collisions > 20 * len(bands):
                raise RuntimeError(f"cannot fill pool slot {i} ({shape})")
            continue
        collisions = 0
        shape_of[q] = shape
        pool.append(q)
    # the popularity profile (which rank is asked when) is the same for
    # every seed, so runs differ in terms, not in how often each shape
    # and band is asked or in how the plan caches hit
    w = np.arange(1, pool_size + 1, dtype=np.float64) ** -ZIPF_S
    ranks = np.random.default_rng(np.random.PCG64(PROFILE_SEED)).choice(
        pool_size, size=length, p=w / w.sum())
    stream = [pool[int(r)] for r in ranks]
    return QueryStream(pool=pool, stream=stream, shape_of=shape_of)


def delete_batches(
    seed: int, n_docs: int, per_write: int, writes: int
) -> List[List[int]]:
    """Distinct doc ids to tombstone, `per_write` per write, in order."""
    rng = np.random.default_rng(np.random.PCG64([seed, 2]))
    total = min(n_docs, per_write * writes)
    ids = rng.choice(n_docs, size=total, replace=False)
    return [
        sorted(int(i) for i in ids[j: j + per_write])
        for j in range(0, total, per_write)
    ]


def corpus_seed(seed: int) -> int:
    """fixtures corpus seed of the ingest workload."""
    return int(np.random.default_rng(np.random.PCG64([seed, 3])).integers(1, 2**31))
