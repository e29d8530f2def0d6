#!/usr/bin/env python3
"""CASPR benchmark: one seeded workload, timed end to end, outputs checked.

    python3 casprbench/run.py --workload train_ae --seed 1 --seconds 10 --trace 0

Builds the program from source (casprbench/build.py), writes the seed's
inputs (casprbench/gen.py, untimed), then runs two JVMs one after another:
a set-up probe and the measuring run (cold job, closed-loop warm jobs for
--seconds, output check, and with --trace 1 one traced job). Both build
the session; setup_s is the median of their two set-up times.
Prints every metric by name with its unit, then one JSON line last:
end-to-end metrics with --trace 0, per-layer metrics with --trace 1.
See casprbench/README.md for the workloads and the metric map.
"""
import argparse
import hashlib
import json
import os
import shutil
import statistics
import subprocess
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import build  # noqa: E402
import gen  # noqa: E402

WORKLOADS = ("embed_batch", "train_ae", "near_dup")

END_TO_END = {"setup_s": "s", "cold_s": "s", "rows_per_s": "rows/s"}

PER_LAYER = {
    "core.plan_s": "s", "core.codegen_s": "s", "core.jobs": "count",
    "core.tasks": "count", "core.task_s": "s", "core.busy_frac": "ratio",
    "core.gc_s": "s", "core.shuffle_mb": "MB", "core.spill_mb": "MB",
    "core.peak_exec_mb": "MB", "core.cached_mb": "MB",
    "prep.fit_s": "s", "prep.fit_jobs": "count", "prep.transform_s": "s",
    "prep.shuffle_mb": "MB",
    "ml.score_s": "s", "ml.score_vs_kernel": "ratio",
    "nn.embed_us": "us", "nn.lossgrad_us": "us",
    "train.fit_s": "s", "train.steps": "count", "train.jobs": "count",
    "train.step_ms": "ms", "train.driver_s": "s", "train.fit_vs_kernel": "ratio",
    "train.final_loss": "loss",
    "ops.pairs_s": "s", "ops.candidates": "count", "ops.verify_yield": "ratio",
    "ops.max_bucket": "count", "ops.groups_s": "s", "ops.index_write_s": "s",
    "ops.admit_s": "s", "ops.dup_recall": "ratio",
    "split.prep": "ratio", "split.ml": "ratio", "split.train": "ratio",
    "split.ops": "ratio", "split.other": "ratio",
    "trace.job_s": "s", "trace.overhead_s": "s",
}

LAYERS = ("prep", "ml", "train", "ops")

# Every JVM of one run must end within this many seconds (the build is
# not counted); the whole run must end within 180.
BUDGET_S = 170
JVM_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


class RunError(Exception):
    pass


def union_ms(intervals, lo, hi):
    """Length of the union of (start, end) intervals clipped to [lo, hi]."""
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted((max(s, lo), min(e, hi)) for s, e in intervals):
        if e <= s:
            continue
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def self_times(spans):
    """Span id -> self time in ms: its duration minus the part of its
    interval that its direct children cover."""
    kids = {}
    for s in spans:
        kids.setdefault(s["parent"], []).append((s["start_ms"], s["end_ms"]))
    return {s["id"]: (s["end_ms"] - s["start_ms"])
            - union_ms(kids.get(s["id"], []), s["start_ms"], s["end_ms"])
            for s in spans}


def innermost(spans, t_ms):
    """Id of the deepest span whose interval holds t_ms (0 if none)."""
    best = None
    for s in spans:
        if s["start_ms"] <= t_ms <= s["end_ms"] and (
                best is None or s["start_ms"] >= best["start_ms"]):
            best = s
    return best["id"] if best else 0


def layer_metrics(records, run, warm_median):
    """Per-layer metrics of one traced job from its JSONL records and the
    measuring JVM's result; layers the workload never calls read 0."""
    spans = [r for r in records if r["type"] == "span"]
    jobs = [r for r in records if r["type"] == "job"]
    plans = [r for r in records if r["type"] == "plan"]
    storage = [r for r in records if r["type"] == "storage"]
    by_name = {s["name"]: s for s in spans}
    root = by_name["job"]
    wall_s = (root["end_ms"] - root["start_ms"]) / 1e3
    cores = run["cores"]
    extras, quality = run["traced"], run["quality"]
    selfs = self_times(spans)

    def dur(name):
        s = by_name.get(name)
        return (s["end_ms"] - s["start_ms"]) / 1e3 if s else 0.0

    def field(name, key):
        return by_name[name][key] if name in by_name else 0.0

    def ratio(a, b):
        return a / b if b else 0.0

    m = {k: 0.0 for k in PER_LAYER}
    m["core.plan_s"] = sum(p["dur_s"] for p in plans
                           if innermost(spans, p["start_ms"]))
    m["core.codegen_s"] = root["codegen_s"]
    for k in ("jobs", "tasks", "task_s", "gc_s", "shuffle_mb", "spill_mb"):
        m["core." + k] = sum(s[k] for s in spans)
    m["core.peak_exec_mb"] = max(s["peak_exec_mb"] for s in spans)
    m["core.cached_mb"] = storage[0]["peak_cached_mb"] if storage else 0.0
    m["core.busy_frac"] = ratio(m["core.task_s"], wall_s * cores)

    m["prep.fit_s"] = dur("prep.fit")
    m["prep.fit_jobs"] = field("prep.fit", "jobs")
    m["prep.transform_s"] = dur("prep.transform")
    m["prep.shuffle_mb"] = field("prep.transform", "shuffle_mb")

    m["ml.score_s"] = dur("ml.score")
    m["nn.embed_us"] = extras.get("nn_embed_us", 0.0)
    m["nn.lossgrad_us"] = extras.get("nn_lossgrad_us", 0.0)
    m["ml.score_vs_kernel"] = ratio(
        m["ml.score_s"] * cores,
        extras.get("entities", 0.0) * m["nn.embed_us"] * 1e-6)

    fit = by_name.get("train.fit")
    if fit:
        fit_jobs = [j for j in jobs if j["span"] == fit["id"]]
        m["train.fit_s"] = dur("train.fit")
        m["train.jobs"] = fit["jobs"]
        m["train.steps"] = extras.get("steps", 0)
        if fit_jobs:
            m["train.step_ms"] = statistics.median(
                j["end_ms"] - j["start_ms"] for j in fit_jobs)
        m["train.driver_s"] = m["train.fit_s"] - union_ms(
            [(j["start_ms"], j["end_ms"]) for j in fit_jobs],
            fit["start_ms"], fit["end_ms"]) / 1e3
        m["train.fit_vs_kernel"] = ratio(
            m["train.fit_s"] * cores,
            extras.get("examples", 0.0) * extras.get("epochs", 0)
            * m["nn.lossgrad_us"] * 1e-6)
        m["train.final_loss"] = quality.get("final_loss", 0.0)

    m["ops.pairs_s"] = dur("ops.pairs")
    m["ops.groups_s"] = dur("ops.groups")
    m["ops.index_write_s"] = dur("ops.index_write")
    m["ops.admit_s"] = dur("ops.admit")
    m["ops.candidates"] = extras.get("candidates", 0)
    m["ops.max_bucket"] = extras.get("max_bucket", 0)
    m["ops.verify_yield"] = ratio(extras.get("pairs", 0.0), m["ops.candidates"])
    m["ops.dup_recall"] = quality.get("dup_recall", 0.0)

    for layer in LAYERS:
        m["split." + layer] = sum(
            selfs[s["id"]] for s in spans
            if s["name"].split(".")[0] == layer) / 1e3 / wall_s
    m["split.other"] = selfs[root["id"]] / 1e3 / wall_s
    m["trace.job_s"] = wall_s
    m["trace.overhead_s"] = extras["wall_s"] - warm_median
    return m


TMP = os.path.join(build.BUILD, "tmp")


def jvm(classpath, args, deadline):
    cmd = (["java", "-Xmx4g", "-XX:-UsePerfData"]
           + [x for p in JVM_OPENS for x in ("--add-opens", p + "=ALL-UNNAMED")]
           + ["-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
              "-Dspark.local.dir=" + TMP, "-Djava.io.tmpdir=" + TMP,
              "-cp", classpath, "casprbench.Main"] + args)
    left = deadline - time.monotonic()
    if left <= 0:
        raise RunError(f"time budget spent before `{args[0]}`")
    try:
        r = subprocess.run(cmd, stdout=subprocess.PIPE, stderr=subprocess.PIPE,
                           text=True, timeout=left, cwd=build.ROOT)
    except subprocess.TimeoutExpired:
        raise RunError(f"`{args[0]}` ran past the {BUDGET_S} s budget")
    lines = r.stdout.strip().splitlines()
    if r.returncode != 0 or not lines:
        raise RunError(f"`{' '.join(args)}` exited {r.returncode}:\n"
                       + "\n".join(r.stderr.splitlines()[-30:]))
    return json.loads(lines[-1])


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()

    try:
        classpath = build.build()
    except build.BuildError as e:
        sys.exit(f"casprbench: {e}")
    deadline = time.monotonic() + BUDGET_S

    # inputs are keyed by the generator's source, so editing it regenerates
    with open(gen.__file__, "rb") as f:
        gen_key = hashlib.sha256(f.read()).hexdigest()[:12]
    data_root = os.path.join(build.BUILD, "data")
    data = os.path.join(data_root, f"{a.workload}-{a.seed}-{gen_key}")
    work = os.path.join(build.BUILD, "work", a.workload)
    os.makedirs(work, exist_ok=True)
    if os.path.isdir(data_root):  # keep one generated input set per workload
        for d in os.listdir(data_root):
            if d.startswith(a.workload + "-") and d != os.path.basename(data):
                shutil.rmtree(os.path.join(data_root, d))
    shutil.rmtree(TMP, ignore_errors=True)  # Spark scratch left by earlier runs
    os.makedirs(TMP)
    trace_file = os.path.join(work, f"trace-{a.seed}.jsonl")

    meta = gen.generate(a.workload, a.seed, data)
    try:
        probe = jvm(classpath, ["probe"], deadline)
        run = jvm(classpath, ["run", a.workload, data, work, str(a.seconds),
                              str(a.trace), trace_file], deadline)
    except RunError as e:
        sys.exit(f"casprbench: {e}")

    warm = run["warm_s"]
    if not warm:
        sys.exit("casprbench: no warm job passed: " + "; ".join(run["errors"]))
    setups = [probe["setup_s"], run["setup_s"]]
    warm_median = statistics.median(warm)
    e2e = {"setup_s": statistics.median(setups), "cold_s": run["cold_s"],
           "rows_per_s": meta["rows"] / warm_median}

    print(f"workload {a.workload}  seed {a.seed}  cores {run['cores']}  "
          f"closed loop, 1 client")
    print("inputs  " + "  ".join(f"{k}={meta[k]}" for k in sorted(meta)))
    print(f"setup_s     {e2e['setup_s']:.3f} s    (median of {len(setups)}: "
          + ", ".join(f"{s:.3f}" for s in setups) + ")")
    print(f"cold_s      {e2e['cold_s']:.3f} s")
    print(f"rows_per_s  {e2e['rows_per_s']:.1f} rows/s  ({meta['rows']} rows / "
          f"median of {len(warm)} warm jobs, {warm_median:.3f} s; "
          f"max {max(warm):.3f} s)")
    print(f"fail_frac   {run['failed'] / run['attempted']:.3f} ratio  "
          f"({run['failed']} of {run['attempted']} jobs)")
    for k, v in sorted(run["quality"].items()):
        print(f"quality     {k} = {v:.6g}")
    for err in run["errors"]:
        print(f"FAILED      {err}")

    if a.trace:
        with open(trace_file) as f:
            records = [json.loads(x) for x in f if x.strip()]
        metrics = layer_metrics(records, run, warm_median)
        spans = [r for r in records if r["type"] == "span"]
        selfs = self_times(spans)
        plan = {}
        for p in (r for r in records if r["type"] == "plan"):
            i = innermost(spans, p["start_ms"])
            plan[i] = plan.get(i, 0.0) + p["dur_s"]
        print(f"{'span':<18}{'wall_s':>8}{'self_s':>8}{'jobs':>6}{'tasks':>7}"
              f"{'task_s':>8}{'plan_s':>8}{'codegen_s':>10}")
        for s in spans:
            print(f"{s['name']:<18}{(s['end_ms'] - s['start_ms']) / 1e3:>8.3f}"
                  f"{selfs[s['id']] / 1e3:>8.3f}{s['jobs']:>6.0f}{s['tasks']:>7.0f}"
                  f"{s['task_s']:>8.3f}{plan.get(s['id'], 0.0):>8.3f}"
                  f"{s['codegen_s']:>10.3f}")
        print(f"spans written to {os.path.relpath(trace_file, build.ROOT)}")
        units = PER_LAYER
    else:
        metrics, units = e2e, END_TO_END
    for k in units:
        print(f"{k:<22}{metrics[k]:>14.6g} {units[k]}")
    print(json.dumps({
        "correct": run["failed"] == 0,
        "attempted": run["attempted"],
        "failed": run["failed"],
        "metrics": {k: {"value": metrics[k], "unit": units[k]} for k in units},
    }))


if __name__ == "__main__":
    main()
