"""The three workloads. Each runs in one process with one client in a
closed loop (the next request goes out when the previous one returns)
against Spark local[cores]:

  spark-query   single queries through Searcher(executor="df") and
                Searcher(executor="wand"), cache=False (file pruning on)
  embedded-rw   LocalSearcher(predecode=True) reads, a delete_docs +
                refresh_deletes write every WRITE_EVERY reads
  ingest        IndexBuilder.build of a seeded corpus

Each workload sets up SETUP_REPS times (embedded-rw seven times; setup_s
is their median), runs its loop for the run's seconds, then checks every
output it produced.
"""

from __future__ import annotations

import contextlib
import gc
import json
import os
import resource
import shutil
import time
from typing import Callable, Dict, List, Optional

import numpy as np

from perfbench import check, inputs

pc = time.perf_counter

K = 10
SETUP_REPS = 3
WRITE_EVERY = 500
DELETES_PER_WRITE = 16
INGEST_DOCS = 10_000
BUILD = dict(num_shards=4, block_size=128)
#: the served index splits each task's term-sorted postings into
#: several term-contiguous files, the layout a many times larger index
#: gets from the default file size, so file pruning has files to skip
SERVED_BUILD = dict(BUILD, max_records_per_file=40_000)


class Run:
    """State of one benchmark run: inputs, timings, checks, tracer."""

    def __init__(self, spark, tracer, seed: int, seconds: float,
                 run_dir: str, index_dir: Optional[str], n_docs: int):
        self.spark = spark
        self.tracer = tracer
        self.seed = seed
        self.seconds = seconds
        self.run_dir = run_dir
        self.index_dir = index_dir
        self.n_docs = n_docs
        self.setup_times: List[float] = []
        # (seconds, traced) per op of the measured loop
        self.op_times: List[tuple] = []
        self.items = 0
        self.window_s = 0.0
        self.attempted = 0
        self.failures: List[str] = []
        self.info: Dict[str, object] = {}
        self.counters: Dict[str, float] = {}
        self.rss_mb = 0.0

    # -- helpers ---------------------------------------------------
    def op(self, kind: str, traced: bool):
        if self.tracer is None or not traced:
            return contextlib.nullcontext()
        return self.tracer.op(kind)

    def span(self, name: str):
        if self.tracer is None:
            return contextlib.nullcontext()
        return self.tracer.span(name)

    def group(self, tag: str) -> None:
        if self.tracer is not None and self.tracer.active:
            self.tracer.group(tag)

    def setup(self, fn: Callable[[], object], reps: int = SETUP_REPS):
        """Run the set-up `reps` times; keep the last result."""
        out = None
        for _ in range(reps):
            # free the previous set-up's objects before the next one
            out = None
            gc.collect()
            with self.op("setup", True):
                t = pc()
                out = fn()
                self.setup_times.append(pc() - t)
        return out

    def loop(self, step: Callable[[int, bool], None],
             may_stop: Callable[[int], bool] = lambda i: True) -> None:
        """Closed loop: step(i, traced) until the run's seconds are
        used and may_stop(i) allows ending after op i. With tracing
        on, every other op is traced, so the untraced ones give the
        tracing overhead."""
        t0 = pc()
        i = 0
        while True:
            step(i, self.tracer is not None and i % 2 == 0)
            if may_stop(i) and pc() - t0 >= self.seconds:
                break
            i += 1
        self.window_s = pc() - t0
        # peak resident MB of this Python process up to the end of the
        # loop, before the output checks allocate their own; the JVM is
        # left out, its peak follows its garbage collector
        self.rss_mb = resource.getrusage(
            resource.RUSAGE_SELF).ru_maxrss / 1024.0

    def timed(self, traced: bool, seconds: float) -> None:
        self.op_times.append((seconds, traced))

    def fail(self, what: Optional[str], where: str) -> None:
        if what is not None:
            self.failures.append(f"{where}: {what}")


def _rows(df_rows) -> list:
    return [(int(r["doc_id"]), float(r["score"])) for r in df_rows]


def _local_hits(pdf) -> list:
    return [
        (int(d), float(s))
        for d, s in zip(pdf["doc_id"].to_numpy(), pdf["score"].to_numpy())
    ]


def _local(run: Run):
    from lucille_spark.local_serve import LocalSearcher

    return LocalSearcher(run.spark, run.index_dir, predecode=True)


# ---------------------------------------------------------------- spark-query
def spark_query(run: Run) -> None:
    from lucille_spark.searcher import Searcher

    qs = inputs.query_stream(run.seed)

    def open_searchers():
        s_df = Searcher(run.spark, run.index_dir, executor="df", cache=False)
        s_wand = Searcher(run.spark, run.index_dir, executor="wand",
                          cache=False)
        s_df.executor.warmup()
        s_wand.executor.warmup()
        return s_df, s_wand

    s_df, s_wand = run.setup(open_searchers)
    last = {"df": {}, "wand": {}}
    hits = {"df": 0, "wand": 0}
    done = []

    def step(i: int, traced: bool) -> None:
        q = qs.stream[i]
        out = {}
        with run.op("query", traced):
            t = pc()
            for tag, s in (("df", s_df), ("wand", s_wand)):
                with run.span(tag):
                    run.group(tag)
                    frame = s.search(q, k=K)
                    out[tag] = frame.collect()
                # a plan-cache hit hands back the cached DataFrame
                hits[tag] += frame is last[tag].get(q)
                last[tag][q] = frame
            run.timed(traced, pc() - t)
        done.append((q, _rows(out["df"]), _rows(out["wand"])))

    run.loop(step)
    run.items = len(done)
    run.info.update(qs.stats(len(done)))
    run.counters["exec_df.plan_cache_hit_ratio"] = hits["df"] / len(done)
    run.counters["exec_wand.plan_cache_hit_ratio"] = hits["wand"] / len(done)

    local = _local(run)
    want = {}
    for q, df_rows, wand_rows in done:
        if q not in want:
            want[q] = _local_hits(local.search(q, k=K))
        run.attempted += 1
        err, where = check.same_topk(df_rows, want[q]), "df"
        if err is None:
            err, where = check.same_topk(wand_rows, want[q]), "wand"
        run.fail(err, f"{where} vs local {q!r}")


# ---------------------------------------------------------------- embedded-rw
def embedded_rw(run: Run) -> None:
    from lucille_spark.index import maintenance

    qs = inputs.query_stream(run.seed)
    # writes land in a private copy of the served index
    ix = os.path.join(run.run_dir, "index")
    shutil.copytree(run.index_dir, ix)
    run.index_dir = ix
    writes = inputs.delete_batches(
        run.seed, run.n_docs, DELETES_PER_WRITE,
        run.n_docs // DELETES_PER_WRITE)
    # a ~1 s set-up still speeds up from one time to the next up to
    # about the 5th (5.6, 1.3, 1.0, 0.92, 0.87 s): the median of seven
    # lies nearer the plateau, so it follows host speed less steeply
    local = run.setup(lambda: _local(run), reps=7)
    deleted: set = set()
    reads = [0]
    write_s: List[float] = []

    def is_write(i: int) -> bool:
        return i % (WRITE_EVERY + 1) == WRITE_EVERY

    def step(i: int, traced: bool) -> None:
        if is_write(i):
            ids = writes[i // (WRITE_EVERY + 1)]
            with run.op("write", traced):
                run.group("write")
                with run.span("write"):
                    t = pc()
                    n = maintenance.delete_docs(run.spark, ix, ids)
                    local.refresh_deletes()
                    write_s.append(pc() - t)
            deleted.update(ids)
            run.attempted += 1
            run.fail(None if n == len(ids) else
                     f"delete_docs wrote {n} of {len(ids)} ids", "write")
            return
        q = qs.stream[reads[0] % len(qs.stream)]
        reads[0] += 1
        with run.op("read", traced):
            with run.span("read"):
                t = pc()
                res = local.search(q, k=K)
                run.timed(traced, pc() - t)
        run.attempted += 1
        run.fail(check.tombstoned(res["doc_id"].to_numpy(), deleted),
                 f"read {q!r}")

    # whole read/write cycles, so a window never ends between a cycle's
    # reads and its write
    run.loop(step, may_stop=is_write)
    run.items = reads[0]
    run.info.update(qs.stats(reads[0]))
    run.info["deleted_docs"] = len(deleted)
    run.info["writes"] = len(write_s)
    run.info["write_ms_p50"] = round(1e3 * float(np.median(write_s)), 1)
    run.info["read_share_of_window"] = round(
        sum(t for t, _ in run.op_times) / run.window_s, 3)


# --------------------------------------------------------------------- ingest
def ingest(run: Run) -> None:
    from lucille_spark import fixtures
    from lucille_spark.index import IndexBuilder, maintenance

    n = run.n_docs
    docs_box = []

    def load():
        # a sub-second load alone spreads too much from run to run, so
        # the set-up also generates the corpus (a steady ~2 s)
        for d in docs_box:
            d.unpersist()
        docs_box.clear()
        pdf = fixtures.generate_pdf(n, seed=inputs.corpus_seed(run.seed))
        docs = run.spark.createDataFrame(pdf).cache()
        docs.count()
        docs_box.append(docs)
        return docs, pdf

    docs, pdf = run.setup(load)
    input_bytes = int(sum(
        pdf[c].str.len().sum() for c in pdf.columns))  # ASCII corpus
    del pdf
    stage_s: Dict[str, float] = {}
    usage: Dict[str, float] = {}

    def step(i: int, traced: bool) -> None:
        out = os.path.join(run.run_dir, f"build{i}")
        with run.op("build", traced):
            t = pc()
            run.group("build")
            IndexBuilder(**BUILD).build(docs, out)
            run.timed(traced, pc() - t)
        run.attempted += 1
        run.fail(check.build_ok(out, n), f"build {i}")
        if traced and i == 0:
            with open(os.path.join(out, "manifest.jsonl")) as f:
                for line in f:
                    e = json.loads(line)
                    stage_s[e["stage"]] = stage_s.get(e["stage"], 0) + \
                        float(e.get("secs", 0.0))
            usage.update(maintenance.disk_usage(run.spark, out)["components"])
        shutil.rmtree(out)

    run.loop(step)
    run.items = n * len(run.op_times)
    run.info["input_bytes"] = input_bytes
    if stage_s:
        total = sum(stage_s.values())
        for st in check.BUILD_STAGES:
            run.counters[f"index.builder.{st}_pct"] = \
                100.0 * stage_s.get(st, 0.0) / total
        for comp in ("doclens", "postings_flat", "segments", "terms"):
            run.counters[f"index.builder.bytes.{comp}"] = \
                float(usage.get(comp, 0))
        run.counters["index.builder.stored_bytes_per_input_byte"] = \
            sum(usage.values()) / input_bytes
    docs.unpersist()


WORKLOADS = {
    "spark-query": spark_query,
    "embedded-rw": embedded_rw,
    "ingest": ingest,
}

#: workloads that serve the shared fixed corpus index
SERVES_INDEX = ("spark-query", "embedded-rw")
