"""WAND/segment executor: rank identity vs oracle on the reference
query set, and pruned == exhaustive (block-max soundness)."""

import numpy as np
import pandas as pd
import pytest

from tests.queryset import REFERENCE_QUERIES


def _ranked(rows, round_to=9):
    return [(int(d), round(float(s), round_to)) for d, s in rows]


@pytest.fixture(scope="module")
def wand(unit_index):
    from lucille_spark.exec_wand import WandExecutor

    ix, oracle, stats = unit_index
    return WandExecutor(ix, prune=True), oracle


@pytest.mark.parametrize("q", REFERENCE_QUERIES)
def test_wand_rank_identity(wand, q):
    ex, oracle = wand
    expected = _ranked(oracle.search(q, k=10))
    rows = ex.search(q, k=10).collect()
    got = _ranked([(r["doc_id"], r["score"]) for r in rows])
    assert got == expected, f"query {q!r}"


def test_pruned_equals_exhaustive_direct(unit_index):
    """Drive the pruning kernel directly (single process, so the
    decode counters work) on OR/AND of hot+rare terms and assert it
    equals the exhaustive evaluator — and actually skipped blocks."""
    from lucille_spark import plans as P
    from lucille_spark.eval_local import evaluate, top_k
    from lucille_spark.exec_wand import (
        _eval_flat_pruned,
        _flat_terms,
        get_prune_stats,
        reset_prune_stats,
    )

    ix, oracle, stats = unit_index
    sd = oracle.sd

    for qs in ["import OR def OR cats", "import AND cats", "def OR derp OR lerp OR import"]:
        node = oracle.plan(qs)
        flat = _flat_terms(node)
        assert flat is not None, qs
        # fake per-term block tables from the oracle postings with
        # block size 16 so pruning has blocks to skip
        groups = {}
        for t in sorted({pt.term for pt in flat[1]}):
            p = sd.postings[t]
            rows = []
            for b, lo in enumerate(range(0, p.ids.size, 16)):
                hi = min(lo + 16, p.ids.size)
                rows.append(
                    {
                        "block_id": b,
                        "doc_id_base": int(p.ids[lo]),
                        "doc_id_max": int(p.ids[hi - 1]),
                        "n_docs": hi - lo,
                        "_ids": p.ids[lo:hi],
                        "_tfs": p.tfs[lo:hi],
                        "_dls": p.dls[lo:hi],
                        "max_tf": int(p.tfs[lo:hi].max()),
                    }
                )
            groups[t] = pd.DataFrame(rows)
        reset_prune_stats()
        import lucille_spark.exec_wand as W

        # monkeypatch _build_posting to read the fake raw blocks
        orig = W._build_posting

        def fake_build(rows, want_positions, *_decode):
            from lucille_spark.eval_local import Posting

            return Posting(
                ids=np.concatenate([r for r in rows["_ids"]]),
                tfs=np.concatenate([r for r in rows["_tfs"]]),
                dls=np.concatenate([r for r in rows["_dls"]]),
            )

        W._build_posting = fake_build
        try:
            ids_p, sc_p = _eval_flat_pruned(flat, groups, sd, 5)
        finally:
            W._build_posting = orig
        ids_e, sc_e = evaluate(node, sd)
        top_p = _ranked(zip(*top_k(ids_p, sc_p, 5)))
        top_e = _ranked(zip(*top_k(ids_e, sc_e, 5)))
        assert top_p == top_e, qs
        st = get_prune_stats()
        assert st["decoded_blocks"] <= st["total_blocks"]


def test_wand_prune_vs_noprune_spark(unit_index):
    from lucille_spark.exec_wand import WandExecutor

    ix, oracle, stats = unit_index
    for q in ["import OR cats OR derp", "import AND cats", "def import parser"]:
        a = WandExecutor(ix, prune=True).search(q, k=10).collect()
        b = WandExecutor(ix, prune=False).search(q, k=10).collect()
        assert _ranked([(r["doc_id"], r["score"]) for r in a]) == _ranked(
            [(r["doc_id"], r["score"]) for r in b]
        ), q


def test_duplicate_term_queries(unit_index):
    """A repeated term must score once per clause (Lucene sums every
    clause). The pruned kernel keys postings by term string, so it
    must bail to the exhaustive path — previously a flat AND with a
    duplicate returned ZERO rows and a flat OR underscored."""
    from lucille_spark import plans as P
    from lucille_spark.exec_df import DataFrameExecutor
    from lucille_spark.exec_wand import WandExecutor, _flat_terms

    ix, oracle, stats = unit_index
    for q in ["import AND import AND cats", "import import cats"]:
        node = oracle.plan(q)
        assert _flat_terms(node) is None, q  # dup -> exhaustive path
        expected = _ranked(oracle.search(q, k=10))
        got_w = _ranked(
            [(r["doc_id"], r["score"])
             for r in WandExecutor(ix, prune=True).search(q, k=10).collect()]
        )
        got_d = _ranked(
            [(r["doc_id"], r["score"])
             for r in DataFrameExecutor(ix).search(q, k=10).collect()]
        )
        assert got_w == expected, q
        assert got_d == expected, q
        assert len(expected) > 0, q


def test_pure_negative_bool_matches_nothing(unit_index):
    """Lucene BooleanQuery with only MUST_NOT clauses matches nothing
    (standalone `NOT x` is the documented complement deviation, but a
    pure-negative *list* is empty). All three evaluators agree."""
    from lucille_spark import plans as P
    from lucille_spark.exec_df import DataFrameExecutor
    from lucille_spark.exec_wand import WandExecutor

    ix, oracle, stats = unit_index
    q = "-import -cats"
    from lucille_spark.parser import parse

    raw = oracle.planner._plan(parse(q))
    assert isinstance(raw, P.PBool)
    assert not raw.must and not raw.should and len(raw.must_not) == 2
    # the optimizer pass folds the no-positive-clause boolean to an
    # explicit match-nothing (zero scans), preserving the semantics
    assert isinstance(oracle.plan(q), P.PMatchNone)
    assert oracle.search(q, k=10) == []
    assert WandExecutor(ix).search(q, k=10).collect() == []
    assert DataFrameExecutor(ix).search(q, k=10).collect() == []


def test_plan_meta_group_unary_plus(unit_index):
    """field:(+a b) keeps +a as MUST on the metadata path (the
    Group-unwrapped child is checked, matching _plan_bool)."""
    from lucille_spark import plans as P

    ix, oracle, stats = unit_index
    node = oracle.plan("lang:((+python) scala)")
    assert isinstance(node, P.PBool)
    assert len(node.must) == 1 and len(node.should) == 1


def test_boosted_terms_take_pruned_path(unit_index):
    """Boosts fold into idf (BM25 is linear in idf), so boosted flat
    booleans run the block-max kernel and stay rank-identical."""
    from lucille_spark import plans as P
    from lucille_spark.exec_wand import WandExecutor, _flat_terms

    ix, oracle, stats = unit_index
    for q in [
        "import^3 OR cats^0.5",
        "import^2 AND cats",
        "(import OR cats)^2",
        "import^2 OR cats OR def^0.25",
    ]:
        node = oracle.plan(q)
        flat = _flat_terms(node)
        assert flat is not None, q
        expected = _ranked(oracle.search(q, k=10))
        got = _ranked(
            [(r["doc_id"], r["score"])
             for r in WandExecutor(ix, prune=True).search(q, k=10).collect()]
        )
        assert got == expected, q
    # duplicate boosted term still bails (multiplicity)
    assert _flat_terms(oracle.plan("import^2 OR import")) is None


def test_search_many_matches_individual(unit_index):
    """One-job batch evaluation is rank-identical to per-query
    search for every shape in the batch (incl. positional and
    universe-needing queries sharing one decode pass)."""
    from lucille_spark.exec_wand import WandExecutor

    ix, oracle, stats = unit_index
    ex = WandExecutor(ix)
    batch = {
        "t": "import",
        "a": "import AND cats",
        "o": "import cats dogs",
        "p": '"import os"',
        "n": "import AND NOT cats",
        "z": "zzznotinthedictionary",   # planless/empty query in batch
    }
    got = {}
    for r in ex.search_many(batch, k=10).collect():
        got.setdefault(r["query_id"], []).append(
            (r["doc_id"], round(r["score"], 9))
        )
    for qid, q in batch.items():
        solo = [
            (r["doc_id"], round(r["score"], 9))
            for r in ex.search(q, k=10).collect()
        ]
        assert got.get(qid, []) == solo, qid


def test_bitpack_index_rank_identical(spark, unit_corpus, tmp_path_factory):
    """An index built with codec='bitpack' serves every query shape
    rank-identically to the oracle (and hence to the varbyte index)
    through the WAND executor, including positional queries."""
    from lucille_spark.index import IndexBuilder
    from lucille_spark.index.reader import SparkIndex
    from lucille_spark.exec_wand import WandExecutor

    out = str(tmp_path_factory.mktemp("ix") / "bitpack")
    docs = spark.createDataFrame(unit_corpus)
    IndexBuilder(num_shards=4, block_size=32, codec="bitpack").build(
        docs, out
    )
    ix = SparkIndex(spark, out)
    assert ix.stats["codec"] == "bitpack"
    from tests.oracle import OracleIndex

    pdf = unit_corpus.sort_values(["repo", "path", "commit"]).reset_index(
        drop=True
    )
    oracle = OracleIndex(
        [
            {"doc_id": i, "repo": r.repo, "path": r.path,
             "commit": r.commit, "lang": r.lang, "content": r.content}
            for i, r in enumerate(pdf.itertuples())
        ]
    )
    ex = WandExecutor(ix)
    for q in ["import", "import AND cats", "import cats dogs",
              '"import os"', "import AND NOT cats", "imp*"]:
        got = [(r["doc_id"], round(r["score"], 9))
               for r in ex.search(q, k=10).collect()]
        exp = [(d, round(s, 9)) for d, s in oracle.search(q, k=10)]
        assert got == exp, q


def test_mine_hard_negatives(wand):
    """Hard-negative mining rides search_many: per-query ranks are
    1..k in (rounded score desc, doc_id) order, rank 1 is the only
    positive, and per-query members equal individual searches."""
    from lucille_spark.search_features import mine_hard_negatives

    ex, oracle = wand
    out = mine_hard_negatives(
        ex, {"q1": "cats AND dogs", "q2": "spark parser"}, k=5, n_pos=1
    ).collect()
    by_q: dict = {}
    for r in out:
        by_q.setdefault(r["query_id"], []).append(r)
    assert set(by_q) == {"q1", "q2"}
    for qid, rows in by_q.items():
        rows = sorted(rows, key=lambda r: r["rank"])
        assert [r["rank"] for r in rows] == list(range(1, len(rows) + 1))
        assert [r["label"] for r in rows] == ["pos"] + ["neg"] * (
            len(rows) - 1
        )
        keys = [(-r["score"], r["doc_id"]) for r in rows]
        assert keys == sorted(keys)
    exp1 = [int(d) for d, _ in oracle.search("cats AND dogs", k=5)]
    assert [
        r["doc_id"] for r in sorted(by_q["q1"], key=lambda r: r["rank"])
    ] == exp1


# ------------------------------------------------------------ lanes


def _spark_jobs(spark, fn):
    """-> (number of Spark jobs fn() started, fn's result)."""
    import uuid

    sc = spark.sparkContext
    gid = f"lane-{uuid.uuid4().hex}"
    sc.setJobGroup(gid, gid)
    try:
        out = fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    return len(sc.statusTracker().getJobIdsForGroup(gid)), out


@pytest.fixture(scope="module")
def tombstoned_index(spark, unit_corpus, tmp_path_factory):
    from lucille_spark.index import IndexBuilder
    from lucille_spark.index.maintenance import delete_docs
    from lucille_spark.index.reader import SparkIndex

    out = str(tmp_path_factory.mktemp("ix") / "lanes_del")
    IndexBuilder(num_shards=4, block_size=32).build(
        spark.createDataFrame(unit_corpus), out
    )
    delete_docs(spark, out, list(range(0, 200, 7)))
    ix = SparkIndex(spark, out)
    assert ix.deleted_count > 0
    return ix


def _lane_rows(monkeypatch, ix, lane, q, **kw):
    import lucille_spark.exec_wand as W

    monkeypatch.setattr(
        W, "DRIVER_LANE_MAX_BLOCKS",
        float("inf") if lane == "driver" else -1.0,
    )
    rows = W.WandExecutor(ix).search(q, k=10, **kw).collect()
    return [tuple(r) for r in rows]


@pytest.mark.parametrize("case", ["plain", "tombstones", "boosts", "meta"])
def test_lane_parity(monkeypatch, unit_index, tombstoned_index, case):
    """The driver lane and the per-shard lane return identical
    (doc_id, score) top-k rows for every reference query shape the
    driver lane may take."""
    from lucille_spark import plans as P
    from lucille_spark.exec_wand import _estimated_blocks

    ix = tombstoned_index if case == "tombstones" else unit_index[0]
    kw = {}
    if case == "boosts":
        kw["doc_boosts"] = [(0, 60, 2.0), (40, 120, 0.5)]
    if case == "meta":
        kw["with_meta"] = True
    compared = 0
    for q in REFERENCE_QUERIES:
        node = ix.plan(q)
        if P.needs_universe(node) or P.needs_positions(node):
            continue  # per-shard lane whatever the threshold
        assert _estimated_blocks(ix, P.collect_terms(node)) is not None
        a = _lane_rows(monkeypatch, ix, "driver", q, **kw)
        b = _lane_rows(monkeypatch, ix, "shard", q, **kw)
        assert a == b, q
        compared += bool(a)
    assert compared >= 20


def test_small_term_query_is_one_scan_job(spark, unit_index, monkeypatch):
    """A small term query runs exactly one Spark job (the Arrow scan
    of its segment slice), with no Python-UDF stage in its plan; the
    returned frame collects without a job."""
    from lucille_spark.exec_wand import WandExecutor

    ix = unit_index[0]
    DataFrame = type(ix.segments)
    plans = []
    orig = DataFrame.toArrow

    def spy(self):
        plans.append(self._jdf.queryExecution().executedPlan().toString())
        return orig(self)

    monkeypatch.setattr(DataFrame, "toArrow", spy)
    n, rows = _spark_jobs(
        spark, lambda: WandExecutor(ix).search("cats", k=10).collect()
    )
    assert rows
    assert n == 1
    assert len(plans) == 1
    assert "FlatMapGroupsInPandas" not in plans[0]
    assert "positions" not in plans[0]  # the positions are not read


def test_warmup_runs_every_lane(unit_index, monkeypatch):
    """warmup() exercises the driver lane, the plain per-shard lane
    (a positional plan) and the cogrouped per-shard lane."""
    from lucille_spark.exec_wand import WandExecutor

    ran = []
    orig_driver = WandExecutor._driver_lane
    orig_shard = WandExecutor._shard_lane

    def driver(self, *a, **kw):
        ran.append("driver")
        return orig_driver(self, *a, **kw)

    def shard(self, node, segs, k, need_uni, *rest):
        ran.append("cogroup" if need_uni else "plain")
        return orig_shard(self, node, segs, k, need_uni, *rest)

    monkeypatch.setattr(WandExecutor, "_driver_lane", driver)
    monkeypatch.setattr(WandExecutor, "_shard_lane", shard)
    WandExecutor(unit_index[0]).warmup()
    assert sorted(ran) == ["cogroup", "driver", "plain"]


def test_decode_skips_unwanted_positions(unit_index):
    """A posting built without positions decodes three streams per
    block (ids, tfs, dls), not the positions as well."""
    from lucille_spark.codec import varbyte_decode
    from lucille_spark.exec_wand import _build_posting

    ix = unit_index[0]
    rows = ix.segments.filter("term = 'import'").toPandas()
    assert len(rows) > 1 and rows["pos_counts"].notna().all()
    calls = [0]

    def counting(buf):
        calls[0] += 1
        return varbyte_decode(buf)

    p = _build_posting(rows, False, counting)
    assert p.positions is None
    assert calls[0] == 3 * len(rows)
    calls[0] = 0
    assert _build_posting(rows, True, counting).positions is not None
    assert calls[0] == 5 * len(rows)


def test_top_k_zero_on_large_input():
    from lucille_spark.eval_local import top_k

    ids = np.arange(5000, dtype=np.int64)
    scores = np.linspace(0.0, 1.0, 5000)
    i, s = top_k(ids, scores, 0)
    assert i.size == 0 and s.size == 0
    assert i.dtype == np.int64 and s.dtype == np.float64
