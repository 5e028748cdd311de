"""Metrics of one run, in the names BENCHMARK.json declares."""

from __future__ import annotations

import glob
import json
import os
from typing import Dict, List, Optional

import numpy as np

from perfbench.trace import LAYERS, UNATTRIBUTED, walk

#: name -> unit; every workload reports every metric
END_TO_END = {
    "setup_s": "s",
    "op_ms_p50": "ms",
    "items_per_s": "1/s",
    "rss_mb": "MB",
}


def _m(value: float, unit: str) -> dict:
    return {"value": float(value), "unit": unit}


def end_to_end(run) -> Dict[str, dict]:
    vals = {
        "setup_s": np.median(run.setup_times),
        "op_ms_p50": np.median([t for t, _ in run.op_times]) * 1e3,
        "items_per_s": run.items / run.window_s,
        "rss_mb": run.rss_mb,
    }
    return {k: _m(vals[k], u) for k, u in END_TO_END.items()}


def per_layer_names() -> Dict[str, str]:
    """name -> unit of every per-layer metric, in report order."""
    out: Dict[str, str] = {}
    for layer in (*LAYERS, UNATTRIBUTED):
        out[f"{layer}.self_pct"] = "%"
    for layer in LAYERS:
        out[f"{layer}.calls_per_op"] = "count"
    for layer in (*LAYERS, UNATTRIBUTED):
        out[f"setup.{layer}.self_pct"] = "%"
    out.update({
        "plans.terms_per_query": "count",
        "index.reader.files_scanned_frac": "ratio",
        "exec_df.plan_cache_hit_ratio": "ratio",
        "exec_wand.plan_cache_hit_ratio": "ratio",
        "spark.jobs_per_op": "count",
        "spark.stages_per_op": "count",
        "spark.tasks_per_op": "count",
        "spark.df_jobs_per_query": "count",
        "spark.df_tasks_per_query": "count",
        "spark.wand_jobs_per_query": "count",
        "spark.wand_tasks_per_query": "count",
        "spark.build_tasks": "count",
        "spark.build_task_skew": "ratio",
    })
    for st in ("doclens", "postings_flat", "terms", "stats", "segments",
               "file_index"):
        out[f"index.builder.{st}_pct"] = "%"
    for comp in ("doclens", "postings_flat", "segments", "terms"):
        out[f"index.builder.bytes.{comp}"] = "B"
    out.update({
        "index.builder.stored_bytes_per_input_byte": "ratio",
        "trace.ops": "count",
        "trace.op_ms_mean": "ms",
        "trace.overhead_pct": "%",
    })
    return out


def _files_frac(spans) -> float:
    """Mean share of posting files a pruned read keeps."""
    from lucille_spark.index.reader import FileTermIndex

    fidx: Dict[tuple, Optional[FileTermIndex]] = {}
    fracs = []
    for s in spans:
        ix, exact, intervals = s.info["call"]
        key = "segments" if s.name.endswith("segments_for") else "flat"
        if getattr(ix, "_cache", False):
            fracs.append(1.0)  # pinned tables are never pruned
            continue
        ck = (ix.dir, key)
        if ck not in fidx:
            path = os.path.join(ix.dir, "file_index.json")
            with open(path) as f:
                fidx[ck] = FileTermIndex(json.load(f)[key])
        entries = fidx[ck].entries
        fracs.append(len(fidx[ck].select(exact, intervals)) / len(entries))
    return float(np.mean(fracs)) if fracs else 0.0


def build_skew(event_dir: Optional[str]) -> Dict[str, float]:
    """Per build: task count, and the worst max/median task time over
    the stages that hold at least 5% of the build's task time."""
    if not event_dir:
        return {"spark.build_tasks": 0.0, "spark.build_task_skew": 0.0}
    stage_group: Dict[int, str] = {}
    durs: Dict[int, List[float]] = {}
    # Spark 4 writes the log as a directory of rolled event files
    for path in glob.glob(os.path.join(event_dir, "**", "*"), recursive=True):
        if not os.path.isfile(path) or "appstatus" in os.path.basename(path):
            continue
        with open(path) as f:
            for line in f:
                e = json.loads(line)
                ev = e.get("Event")
                if ev == "SparkListenerJobStart":
                    g = (e.get("Properties") or {}).get("spark.jobGroup.id")
                    if g and g.endswith("-build"):
                        for sid in e.get("Stage IDs", []):
                            stage_group[sid] = g
                elif ev == "SparkListenerTaskEnd":
                    ti = e["Task Info"]
                    durs.setdefault(e["Stage ID"], []).append(
                        ti["Finish Time"] - ti["Launch Time"])
    builds: Dict[str, List[List[float]]] = {}
    for sid, g in stage_group.items():
        if sid in durs:
            builds.setdefault(g, []).append(durs[sid])
    if not builds:
        return {"spark.build_tasks": 0.0, "spark.build_task_skew": 0.0}
    tasks, skews = [], []
    for stages in builds.values():
        tasks.append(sum(len(d) for d in stages))
        total = sum(sum(d) for d in stages)
        worst = 1.0
        for d in stages:
            med = float(np.median(d))
            if len(d) > 1 and med > 0 and sum(d) >= 0.05 * total:
                worst = max(worst, max(d) / med)
        skews.append(worst)
    return {"spark.build_tasks": float(np.mean(tasks)),
            "spark.build_task_skew": float(np.mean(skews))}


def per_layer(run, event_dir: Optional[str]) -> Dict[str, dict]:
    tr = run.tracer
    names = per_layer_names()
    vals: Dict[str, float] = {k: 0.0 for k in names}
    # per operation type, layer self times plus unattributed are the
    # traced wall time
    for kind in {r.kind for r in tr.roots}:
        roots = tr.ops(kind)
        total = sum(r.dur for r in roots)
        if abs(sum(tr.layer_self(roots).values()) - total) > 1e-6 * total:
            raise RuntimeError(f"{kind} layer times do not add up")
    ops = [r for r in tr.roots if r.kind != "setup"]
    wall = sum(r.dur for r in ops)
    self_t = tr.layer_self(ops)
    calls = tr.calls(ops)
    for k, v in self_t.items():
        vals[f"{k}.self_pct"] = 100.0 * v / wall
    for k, v in calls.items():
        vals[f"{k}.calls_per_op"] = v / len(ops)
    setup_ops = tr.ops("setup")
    setup = tr.layer_self(setup_ops)
    setup_wall = sum(r.dur for r in setup_ops)
    for k, v in setup.items():
        vals[f"setup.{k}.self_pct"] = 100.0 * v / setup_wall

    plan_spans, read_spans = [], []
    for r in ops:
        for s in walk(r):
            if "node" in s.info:
                plan_spans.append(s)
            if "call" in s.info:
                read_spans.append(s)
    if plan_spans:
        from lucille_spark import plans as P

        vals["plans.terms_per_query"] = float(np.mean(
            [len(P.collect_terms(s.info["node"])) for s in plan_spans]))
    vals["index.reader.files_scanned_frac"] = _files_frac(read_spans)

    per_tag: Dict[str, List[dict]] = {}
    tot = {"jobs": 0, "stages": 0, "tasks": 0}
    for r in ops:
        for tag, c in r.info.get("spark", {}).items():
            per_tag.setdefault(tag, []).append(c)
            for x in tot:
                tot[x] += c[x]
    for x in tot:
        vals[f"spark.{x}_per_op"] = tot[x] / len(ops)
    for tag in ("df", "wand"):
        cs = per_tag.get(tag, [])
        if cs:
            vals[f"spark.{tag}_jobs_per_query"] = float(
                np.mean([c["jobs"] for c in cs]))
            vals[f"spark.{tag}_tasks_per_query"] = float(
                np.mean([c["tasks"] for c in cs]))
    vals.update(build_skew(event_dir))
    vals.update(run.counters)

    traced = [t for t, on in run.op_times if on]
    plain = [t for t, on in run.op_times if not on]
    vals["trace.ops"] = float(len(ops))
    vals["trace.op_ms_mean"] = 1e3 * wall / len(ops)
    if traced and plain:
        vals["trace.overhead_pct"] = 100.0 * (
            np.median(traced) / np.median(plain) - 1.0)
    return {k: _m(vals[k], u) for k, u in names.items()}


def summary(args, run, metrics: Dict[str, dict]) -> None:
    """Human-readable lines ahead of the JSON result line."""
    p = lambda *a: print(*a, flush=True)  # noqa: E731
    ops = sorted(t for t, _ in run.op_times)
    p(f"workload {args.workload} seed {args.seed} trace {args.trace}: "
      f"{len(ops)} timed ops in {run.window_s:.2f} s, "
      f"{run.items} items, setup reps "
      + ", ".join(f"{t:.3f}" for t in run.setup_times) + " s")
    # the highest percentile with at least ten samples beyond it
    tails = [q for q in (90, 95, 99) if len(ops) * (100 - q) >= 1000]
    if tails:
        lo, hi = np.percentile(ops, [50, tails[-1]])
        p(f"  op ms p50 {lo * 1e3:.3f}  p{tails[-1]} {hi * 1e3:.3f} "
          f"(n={len(ops)})")
    for k, v in run.info.items():
        p(f"  {k}: {v}")
    frac = len(run.failures) / max(1, run.attempted)
    p(f"  ops_failed_frac: {frac:.6f} ({len(run.failures)} of "
      f"{run.attempted})")
    for f in run.failures[:20]:
        p(f"  FAILED {f}")
    if run.tracer is not None:
        for kind in sorted({r.kind for r in run.tracer.roots}):
            p(f"  spans of {kind} ops (self us p50, total us p50, calls):")
            for name, d in run.tracer.by_name(run.tracer.ops(kind)).items():
                p(f"    {name:44s} {d['self_us_p50']:12.1f} "
                  f"{d['total_us_p50']:12.1f} {d['calls']:6d}")
    for k, v in metrics.items():
        p(f"  {k} = {v['value']:.6g} {v['unit']}")
