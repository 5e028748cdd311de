"""Tests of the benchmark itself: input generator, output checks, and a
tiny-scale run of every workload in both modes.

    python -m pytest perfbench/tests -q
"""

import json
import os
import shutil
import subprocess
import sys

import pytest

from perfbench import check, inputs, report

ROOT = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
WORKLOADS = ("spark-query", "embedded-rw", "ingest")


def _declared():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


# ---------------------------------------------------------------- inputs
def test_generator_is_deterministic_for_a_seed():
    a, b = inputs.query_stream(5), inputs.query_stream(5)
    assert a.pool == b.pool and a.stream == b.stream
    assert inputs.delete_batches(5, 1000, 8, 4) == \
        inputs.delete_batches(5, 1000, 8, 4)
    assert inputs.corpus_seed(5) == inputs.corpus_seed(5)
    c = inputs.query_stream(6)
    assert c.pool != a.pool
    assert inputs.delete_batches(6, 1000, 8, 4) != \
        inputs.delete_batches(5, 1000, 8, 4)


def test_pool_outgrows_plan_caches_and_covers_every_shape():
    qs = inputs.query_stream(3)
    assert len(qs.pool) == len(set(qs.pool)) > inputs.PLAN_CACHE
    assert set(qs.shape_of.values()) == set(inputs.SHAPES)
    st = qs.stats(500)
    assert st["queries"] == 500
    assert 0 < st["distinct_queries"] <= st["pool_size"]
    assert 0.0 < st["lru64_hit_ratio"] < 1.0


def test_lru_hit_ratio():
    assert inputs.lru_hit_ratio(["a", "b", "a", "c", "a"], 2) == 0.4
    # capacity 1: every alternation misses
    assert inputs.lru_hit_ratio(["a", "b", "a", "b"], 1) == 0.0


def test_delete_batches_are_distinct_ids():
    ws = inputs.delete_batches(9, 500, 16, 10)
    ids = [i for w in ws for i in w]
    assert len(ids) == len(set(ids)) == 160
    assert all(0 <= i < 500 for i in ids)


# ---------------------------------------------------------------- checks
HITS = [(4, 9.5), (2, 7.25), (7, 7.25), (1, 3.0)]


def test_same_topk_accepts_identical_and_tie_swaps():
    assert check.same_topk(HITS, HITS) is None
    swapped = [HITS[0], HITS[2], HITS[1], HITS[3]]
    assert check.same_topk(swapped, HITS) is None


def test_same_topk_flags_planted_wrong_topk():
    wrong_doc = [HITS[0], HITS[1], HITS[2], (5, 3.0)]
    assert "doc 5" in check.same_topk(wrong_doc, HITS)
    wrong_order = [HITS[1], HITS[0], HITS[2], HITS[3]]
    assert check.same_topk(wrong_order, HITS) is not None
    wrong_score = [HITS[0], HITS[1], HITS[2], (1, 3.01)]
    assert "score" in check.same_topk(wrong_score, HITS)
    assert check.same_topk(HITS[:3], HITS) is not None


def test_same_topk_allows_a_tie_group_cut_by_k():
    want = [(1, 5.0), (2, 4.0), (3, 4.0)]
    got = [(1, 5.0), (2, 4.0), (9, 4.0)]
    assert check.same_topk(got, want) is None


def test_tombstoned_flags_planted_id():
    assert check.tombstoned([1, 2, 3], {7, 8}) is None
    assert "[2]" in check.tombstoned([1, 2, 3], {2, 8})


def test_build_ok(tmp_path):
    d = tmp_path / "ix"
    d.mkdir()
    (d / "stats.json").write_text(json.dumps({"n_docs": 10}))
    lines = [{"stage": s, "status": "done"} for s in check.BUILD_STAGES]
    (d / "manifest.jsonl").write_text(
        "".join(json.dumps(x) + "\n" for x in lines))
    assert check.build_ok(str(d), 10) is None
    assert "n_docs" in check.build_ok(str(d), 11)
    (d / "manifest.jsonl").write_text(
        "".join(json.dumps(x) + "\n" for x in lines[:-1]))
    assert "file_index" in check.build_ok(str(d), 10)


# ------------------------------------------------------------ declaration
def test_benchmark_json_matches_report():
    decl = _declared()
    assert {m["name"]: m["unit"] for m in decl["end_to_end"]} == \
        report.END_TO_END
    assert {m["name"]: m["unit"] for m in decl["per_layer"]} == \
        report.per_layer_names()
    for w in decl["workloads"]:
        assert w["name"] in WORKLOADS


# ------------------------------------------------------------- tiny runs
@pytest.fixture(scope="module")
def work_dir(tmp_path_factory):
    return str(tmp_path_factory.mktemp("perfbench"))


#: runs a command as a child subreaper, so every process the command
#: leaves behind (even one that has since exited) is re-parented to it;
#: names and stops them
_REAPING = (
    "import subprocess, sys\n"
    "from perfbench import run\n"
    "run.become_subreaper()\n"
    "rc = subprocess.run(sys.argv[1:]).returncode\n"
    "print('left behind:', run._children(), file=sys.stderr)\n"
    "run.reap_descendants(0)\n"
    "sys.exit(rc)\n"
)


@pytest.mark.parametrize("trace", [0, 1])
@pytest.mark.parametrize("workload", WORKLOADS)
def test_tiny_run_prints_every_metric(workload, trace, work_dir):
    out = subprocess.run(
        [sys.executable, "-c", _REAPING,
         sys.executable, "perfbench/run.py", "--workload", workload,
         "--seed", "3", "--seconds", "1", "--trace", str(trace),
         "--docs", "1500", "--ingest-docs", "500", "--work-dir", work_dir],
        cwd=ROOT, capture_output=True, text=True, timeout=600,
    )
    assert out.returncode == 0, out.stderr[-3000:]
    res = json.loads(out.stdout.strip().splitlines()[-1])
    assert set(res) == {"correct", "attempted", "failed", "metrics"}
    assert res["correct"] is True and res["failed"] == 0, out.stdout
    assert res["attempted"] >= 1
    decl = _declared()
    want = decl["per_layer"] if trace else decl["end_to_end"]
    assert {k: v["unit"] for k, v in res["metrics"].items()} == \
        {m["name"]: m["unit"] for m in want}
    for v in res["metrics"].values():
        assert isinstance(v["value"], float)
    # the first run also builds the served index in a child process
    assert "left behind: []" in out.stderr, out.stderr[-3000:]


def test_fails_without_the_program(tmp_path):
    """A directory holding only the benchmark exits non-zero and prints
    no result."""
    shutil.copytree(os.path.join(ROOT, "perfbench"),
                    str(tmp_path / "perfbench"),
                    ignore=shutil.ignore_patterns("__pycache__"))
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), str(tmp_path))
    out = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", "ingest",
         "--seed", "1", "--seconds", "1", "--trace", "0"],
        cwd=str(tmp_path), capture_output=True, text=True, timeout=120,
        env={k: v for k, v in os.environ.items() if k != "PYTHONPATH"},
    )
    assert out.returncode != 0
    assert '"metrics"' not in out.stdout
