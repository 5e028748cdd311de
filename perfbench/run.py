"""Benchmark entry point.

    python3 perfbench/run.py --workload spark-query --seed 1 \\
        --seconds 15 --trace 0

Run from the repository root. Prints a summary, then as its last line
one JSON object {"correct", "attempted", "failed", "metrics"}: with
--trace 0 the end-to-end metrics, with --trace 1 the per-layer ones
(see perfbench/README.md). Everything it writes goes under --work-dir;
the served index is built there on the first run and reused.
"""

from __future__ import annotations

import argparse
import ctypes
import fcntl
import json
import os
import shutil
import signal
import subprocess
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

#: fixtures seed of the served corpus; the run's seed varies the traffic
CORPUS_SEED = 20_260_417
SERVED_DOCS = 20_000


def parse_args(argv=None):
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--docs", type=int, default=SERVED_DOCS,
                    help="size of the served corpus")
    ap.add_argument("--ingest-docs", type=int, default=None,
                    help="size of the ingest corpus")
    ap.add_argument("--work-dir",
                    default=os.path.join(".bench_build", "perfbench"))
    return ap.parse_args(argv)


def cores() -> int:
    return len(os.sched_getaffinity(0))


def start_spark(work: str, event_dir: str = None):
    from pyspark.sql import SparkSession

    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    b = (
        SparkSession.builder.master(f"local[{cores()}]")
        .appName("perfbench")
        .config("spark.sql.shuffle.partitions", str(2 * cores()))
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.ui.enabled", "false")
        .config("spark.ui.showConsoleProgress", "false")
        .config("spark.driver.memory", "3g")
        .config("spark.local.dir", tmp)
        .config("spark.driver.extraJavaOptions", f"-Djava.io.tmpdir={tmp}")
        .config("spark.sql.warehouse.dir", os.path.join(tmp, "warehouse"))
    )
    if event_dir:
        os.makedirs(event_dir, exist_ok=True)
        b = (b.config("spark.eventLog.enabled", "true")
             .config("spark.eventLog.dir", "file://" + event_dir)
             .config("spark.eventLog.compress", "false"))
    spark = b.getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_spark(spark) -> None:
    """Stop Spark and wait for its JVM (and with it the Python worker
    daemons) to exit: the JVM quits when its stdin closes."""
    gateway = spark.sparkContext._gateway
    spark.stop()
    proc = getattr(gateway, "proc", None)
    if proc is not None:
        proc.stdin.close()
        proc.wait(timeout=120)


def _build_served(work: str, n_docs: int, path: str) -> None:
    from lucille_spark.fixtures import generate_docs
    from lucille_spark.index import IndexBuilder

    from perfbench.workloads import SERVED_BUILD

    spark = start_spark(work)
    try:
        docs = generate_docs(spark, n_docs, seed=CORPUS_SEED,
                             partitions=2 * cores(), with_ids=True)
        IndexBuilder(**SERVED_BUILD).build(
            docs, path, id_col="doc_id", assume_partitioned=True)
    finally:
        stop_spark(spark)


def served_index(work: str, n_docs: int) -> str:
    """The fixed-corpus index the serving workloads read, built once
    per work dir under a lock, in a process of its own so the run that
    builds it measures the same as the runs that reuse it.
    file_index.json records absolute file paths, so the index is built
    in place and marked complete."""
    from lucille_spark.index.builder import INDEX_FORMAT

    from perfbench.workloads import SERVED_BUILD

    path = os.path.join(work, "index-" + "-".join(
        [str(n_docs), str(CORPUS_SEED), f"f{INDEX_FORMAT}"]
        + [f"{k}{v}" for k, v in sorted(SERVED_BUILD.items())]))
    marker = os.path.join(path, "perfbench.complete")
    with open(os.path.join(work, "build.lock"), "w") as lock:
        fcntl.flock(lock, fcntl.LOCK_EX)
        if not os.path.exists(marker):
            shutil.rmtree(path, ignore_errors=True)
            # waited for; the child stops its own JVM
            code = ("import sys; from perfbench.run import _build_served; "
                    "_build_served(sys.argv[1], int(sys.argv[2]), "
                    "sys.argv[3])")
            done = subprocess.run(
                [sys.executable, "-c", code, work, str(n_docs), path],
                cwd=ROOT)
            if done.returncode != 0:
                raise RuntimeError("building the served index failed "
                                   f"({done.returncode})")
            open(marker, "w").close()
    return path


def main(argv=None) -> int:
    args = parse_args(argv)
    sys.path.insert(0, ROOT)
    # the program under test; a checkout without it fails here
    import lucille_spark  # noqa: F401

    from perfbench import report, workloads

    if args.workload not in workloads.WORKLOADS:
        raise SystemExit(f"unknown workload {args.workload!r}; one of "
                         f"{sorted(workloads.WORKLOADS)}")
    work = os.path.abspath(args.work_dir)
    run_dir = os.path.join(work, f"run-{os.getpid()}")
    os.makedirs(run_dir)
    # Python workers import lucille_spark from the checkout and keep
    # their temp files inside it
    os.environ["PYTHONPATH"] = os.pathsep.join(
        [ROOT] + [p for p in os.environ.get("PYTHONPATH", "").split(
            os.pathsep) if p])
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    # task-time skew of the ingest build comes from the Spark event log
    event_dir = os.path.join(run_dir, "events") if (
        args.trace and args.workload == "ingest") else None
    try:
        index_dir = None
        if args.workload in workloads.SERVES_INDEX:
            index_dir = served_index(work, args.docs)
        spark = start_spark(work, event_dir)
        try:
            run = _measure(args, spark, run_dir, index_dir)
        finally:
            stop_spark(spark)
        if args.trace:
            metrics = report.per_layer(run, event_dir)
            os.makedirs(os.path.join(work, "traces"), exist_ok=True)
            run.tracer.dump(
                os.path.join(work, "traces",
                             f"{args.workload}-seed{args.seed}.json"),
                {"info": run.info, "metrics": metrics},
            )
        else:
            metrics = report.end_to_end(run)
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)
    report.summary(args, run, metrics)
    print(json.dumps({
        "correct": not run.failures,
        "attempted": run.attempted,
        "failed": len(run.failures),
        "metrics": metrics,
    }), flush=True)
    return 0


def _measure(args, spark, run_dir: str, index_dir):
    """Run the workload and check its outputs; -> Run."""
    from perfbench import workloads
    from perfbench.trace import Tracer

    n_docs = args.docs if index_dir else (
        args.ingest_docs or workloads.INGEST_DOCS)
    tracer = None
    if args.trace:
        tracer = Tracer(spark)
        tracer.install()
    run = workloads.Run(spark, tracer, args.seed, args.seconds,
                        run_dir, index_dir, n_docs)
    try:
        workloads.WORKLOADS[args.workload](run)
    finally:
        if tracer is not None:
            tracer.uninstall()
    return run


PR_SET_CHILD_SUBREAPER = 36


def become_subreaper() -> None:
    """Make this process the one orphaned descendants are re-parented
    to, so it can wait for every one of them."""
    prctl = ctypes.CDLL(None, use_errno=True).prctl
    prctl.argtypes = [ctypes.c_int] + [ctypes.c_ulong] * 4
    prctl.restype = ctypes.c_int
    if prctl(PR_SET_CHILD_SUBREAPER, 1, 0, 0, 0) != 0:
        err = ctypes.get_errno()
        raise OSError(err, os.strerror(err))


def _children() -> list:
    """Pids of the live processes whose parent is this one."""
    me, out = os.getpid(), []
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                stat = f.read()
        except OSError:
            continue
        # the fields after the parenthesised command: state, ppid, ...
        if int(stat.rsplit(")", 1)[1].split()[1]) == me:
            out.append(int(name))
    return out


def reap_descendants(grace_s: float = 20.0) -> None:
    """Stop every process still running below this one and wait for it
    to end. Called in a subreaper, it also finds descendants orphaned
    on the way, such as Spark's Python workers once their JVM has
    gone."""
    deadline = time.monotonic() + grace_s
    sig = signal.SIGTERM
    while True:
        pids = _children()
        if not pids:
            return
        if time.monotonic() > deadline:
            sig = signal.SIGKILL
        for pid in pids:
            try:
                # a zombie is only reaped; a live child is signalled
                if os.waitpid(pid, os.WNOHANG) == (0, 0):
                    os.kill(pid, sig)
            except (ChildProcessError, ProcessLookupError):
                pass
        time.sleep(0.1)


if __name__ == "__main__":
    become_subreaper()
    # a SIGTERM unwinds through the finally blocks that stop Spark
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    try:
        rc = main()
    finally:
        reap_descendants()
    sys.exit(rc)
