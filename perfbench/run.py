#!/usr/bin/env python3
"""graft benchmark: one command per workload, run from the repository root.

    python3 perfbench/run.py --workload agent_session --seed 1 --seconds 8 --trace 0

Builds the library and the harness from source (perfbench/build.sbt) on
first use, starts one JVM with a local[N] Spark session (N = min(4, nproc)),
drives it as one closed-loop client, checks every answer, and prints a
report followed by one JSON line:

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

With --trace 0 the metrics are the end-to-end ones; with --trace 1 the
window is split into an untraced and a traced half and the metrics are the
per-layer ones. A full artifact goes to perfbench/results/.
"""
import argparse
import glob
import hashlib
import json
import math
import os
import shutil
import subprocess
import sys
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

HEAP = "4g"


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


# ---------------------------------------------------------------- build
def _sources():
    files = glob.glob(os.path.join(ROOT, "src", "main", "scala", "**", "*.scala"), recursive=True)
    files += glob.glob(os.path.join(HERE, "src", "**", "*.scala"), recursive=True)
    files += [os.path.join(HERE, "build.sbt"), os.path.join(HERE, "project", "build.properties")]
    return sorted(files)


def build():
    """Compile once per source state; returns the JVM classpath."""
    if not os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft")):
        raise SystemExit("perfbench: no graft sources next to perfbench/ (src/main/scala/graft)")
    h = hashlib.sha256()
    for f in _sources():
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    target = os.path.join(HERE, "target")
    classes = os.path.join(target, "scala-2.13", "classes")
    stamp = os.path.join(target, "perfbench.stamp")
    if "SPARK_HOME" not in os.environ or not shutil.which("sbt"):
        raise SystemExit("perfbench: needs SPARK_HOME (Spark's jars) and sbt on PATH")
    jars = os.path.join(os.environ["SPARK_HOME"], "jars", "*")
    if os.path.exists(stamp) and open(stamp).read() == h.hexdigest() and os.path.isdir(classes):
        return f"{classes}{os.pathsep}{jars}"
    os.makedirs(target, exist_ok=True)
    env = dict(os.environ, COURSIER_MODE="offline")
    repos = os.path.expanduser("~/.sbt/repositories")
    if os.path.exists(repos) and "SBT_OPTS" not in os.environ:
        env["SBT_OPTS"] = ("-Dsbt.override.build.repos=true -Dsbt.offline=true "
                           f"-Dsbt.repository.config={repos} -Xmx2g")
    sbt = shutil.which("sbt")
    log("building (first run in this checkout)")
    with open(os.path.join(target, "build.log"), "wb") as out:
        rc = subprocess.run([sbt, "--batch", "-Dsbt.log.noformat=true", "compile"], cwd=HERE,
                            stdout=out, stderr=subprocess.STDOUT, stdin=subprocess.DEVNULL,
                            env=env, timeout=840).returncode
    if rc != 0:
        raise SystemExit(f"perfbench: build failed, see {os.path.join(target, 'build.log')}")
    with open(stamp, "w") as fh:
        fh.write(h.hexdigest())
    return f"{classes}{os.pathsep}{jars}"


# ---------------------------------------------------------------- metrics
def _kind_ms(calls, kind):
    return [c["ms"] for c in calls if c["kind"] == kind]


def per_op_medians(calls, kind):
    """Median latency of each op (SELECT shape, catalog verb or write
    statement type) among the calls of one kind."""
    import stats
    per_op = {}
    for c in calls:
        if c["kind"] == kind:
            per_op.setdefault(c.get("op", kind), []).append(c["ms"])
    return [stats.median(v) for v in per_op.values()]


def kind_ms(calls, kind):
    """Latency of one call kind: the geometric mean of its per-op medians,
    so every op weighs the same whatever its share of the calls and its
    cost, and every op's samples count (a median of a few per-op medians
    would rest on one or two of them)."""
    meds = per_op_medians(calls, kind)
    return math.exp(sum(math.log(m) for m in meds) / len(meds)) if meds else None


def calls_per_s(window, counted):
    """Closed-loop throughput of the window's calls, each taking its op's
    median counted latency: stolen samples leave the timing, not the mix
    (the host tends to steal from the longer calls). Repeats of a call are
    not calls of their own."""
    import stats
    per_op = {}
    for c in counted:
        per_op.setdefault(c.get("op", c["kind"]), []).append(c["ms"])
    p50 = {op: stats.median(v) for op, v in per_op.items()}
    calls = [c.get("op", c["kind"]) for c in window if not c.get("repeat")]
    return len(calls) / sum(p50[op] for op in calls) * 1000.0


def end_to_end(run, calls):
    """The user-visible metrics of the counted untraced window."""
    return {
        "setup_s": (run.extra["setup_s"], "s"),
        "main_ms": (kind_ms(calls, run.extra["main_kind"]), "ms"),
        "calls_per_s": (calls_per_s([c for c in run.calls if not c["traced"]], calls), "1/s"),
        "live_heap_mb": (run.extra["live_heap_mb"], "MB"),
    }


def report(run, calls):
    """Every figure the workload has, by kind, with sample counts; p90 only
    where at least TAIL_BEYOND samples lie beyond it."""
    import stats
    out = {}
    for kind in sorted({c["kind"] for c in calls}):
        ms = _kind_ms(calls, kind)
        p90 = stats.tail(ms)
        out[f"{kind}_p50_ms"] = {"value": stats.median(ms), "unit": "ms", "n": len(ms)}
        out[f"{kind}_p90_ms"] = {"value": p90, "unit": "ms", "n": len(ms),
                                 "note": None if p90 is not None else
                                 f"needs >= {stats.TAIL_BEYOND} samples beyond p90"}
    if "space_amp" in run.extra:
        out["space_amp"] = {"value": run.extra["space_amp"], "unit": "x"}
    return out


def per_layer(run):
    """Per-layer figures from the traced half: per call unless the unit says
    otherwise."""
    import stats
    with open(run.extra["spans_file"]) as fh:
        dump = json.load(fh)
    tree = stats.SpanTree(dump["spans"])
    counters = dump["counters"]
    traced = [c for c in run.calls if c["traced"]]
    untraced = [c for c in run.calls if not c["traced"] and not c.get("stolen")]
    n = max(1, len(traced))
    w = [x for x in run.extra["windows"] if x["traced"]][0]
    us_ms = 1e-3

    def total(prefix, fn):
        return sum(fn(s) for s in tree.named(prefix))

    def outer(kind):
        ids = [s for s in tree.outermost("catalog.") if tree.spans[s][2].startswith(f"catalog.{kind}.")]
        return sum(tree.duration(s) for s in ids) * us_ms / n, len(ids) / n

    top = tree.top
    handle = [s[0] for s in top if s[2] == "server.handleLine"]
    selects = [h for h, c in zip(handle, traced) if c["kind"] == "select"] \
        if len(handle) == len(traced) else []
    outer_loads = set(tree.outermost("catalog.load."))
    loads = sum(1 for h in selects for s in tree.subtree(h) if s in outer_loads)
    m = {}
    m["server.self_ms"] = (total("server.handleLine", tree.self_time) * us_ms / n, "ms")
    m["server.reply_bytes"] = (sum(c["bytes"] for c in traced) / n, "bytes")
    m["gateway.self_ms"] = (total("gateway.execute", tree.self_time) * us_ms / n, "ms")
    m["gateway.loads_per_select"] = (loads / len(selects) if selects else 0.0, "count")
    for kind, calls_name in (("meta", "meta_calls"), ("load", "load_calls"), ("commit", "commits")):
        ms, cnt = outer(kind)
        m[f"catalog.{kind}_ms"] = (ms, "ms")
        m[f"catalog.{calls_name}"] = (cnt, "count")
    m["catalog.commit_conflicts"] = (counters.get("catalog.commit_conflicts", 0.0), "count")
    wh = run.extra.get("warehouse", {})
    m["catalog.snapshot_log_len"] = (wh.get("snapshot_log_len", 0), "count")
    m["catalog.sidecar_bytes"] = (wh.get("sidecar_bytes", 0), "bytes")
    m["catalog.data_files"] = (wh.get("data_files", 0), "count")
    for phase in ("analysis", "optimization", "planning"):
        m[f"plan.{phase}_ms"] = (counters.get(f"plan.{phase}_ms", 0.0) / n, "ms")
    m["plan.actions"] = (counters.get("plan.actions", 0.0) / n, "count")
    for name, unit in (("jobs", "count"), ("stages", "count"), ("tasks", "count"), ("task_s", "s"),
                       ("cpu_s", "s"), ("gc_s", "s"), ("shuffle_read_bytes", "bytes"),
                       ("shuffle_write_bytes", "bytes"), ("input_bytes", "bytes"),
                       ("failed_tasks", "count"), ("speculative_tasks", "count")):
        m[f"exec.{name}"] = (counters.get(f"exec.{name}", 0.0) / n, unit)
    m["exec.task_par"] = (counters.get("exec.task_s", 0.0) / w["wall_s"], "x")
    gap = 0
    for sid in tree.named("spark.sql"):
        s = tree.spans[sid]
        jobs = [(tree.spans[c][3], tree.spans[c][4]) for c in tree.children.get(sid, ())
                if tree.spans[c][2] == "spark.job"]
        gap += (s[4] - s[3]) - stats.union_length(jobs, s[3], s[4])
    m["exec.driver_gap_ms"] = (gap * us_ms / n, "ms")
    m["catalog.space_amp"] = (run.extra.get("space_amp", 0.0), "x")
    m["jvm.gc_s"] = (w["gc_s"] / n, "s")
    m["jvm.heap_peak_mb"] = (w["heap_peak_mb"], "MB")
    main = run.extra["main_kind"]
    t_ms = kind_ms(traced, main) or 0.0
    u_ms = kind_ms(untraced, main) or 0.0
    m["trace.overhead_pct"] = ((t_ms - u_ms) / u_ms * 100.0 if u_ms else 0.0, "%")
    covered = sum(s[4] - s[3] for s in top)
    win_us = run.extra["traced_window"][1] - run.extra["traced_window"][0]
    m["trace.coverage_pct"] = (covered / win_us * 100.0 if win_us else 0.0, "%")
    m["trace.residual_ms"] = ((win_us - covered) * us_ms / n, "ms")
    return m


# ---------------------------------------------------------------- main
def main(argv=None):
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    classpath = build()
    import client
    import workloads
    if args.workload not in workloads.WORKLOADS:
        raise SystemExit(f"perfbench: unknown workload {args.workload}; "
                         f"one of {sorted(workloads.WORKLOADS)}")
    work = os.path.join(HERE, "work", f"{args.workload}-{args.seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    results = os.path.join(HERE, "results")
    os.makedirs(results, exist_ok=True)
    cpus = min(4, os.cpu_count() or 1)
    t_launch = time.perf_counter()
    server = client.Server(classpath, work, cpus, HEAP, args.trace == 1,
                           os.path.join(results, f"{args.workload}-seed{args.seed}-trace{args.trace}.log"))
    try:
        run = workloads.Run(server, work, args.seed, args.seconds, args.trace == 1, t_launch)
        workloads.WORKLOADS[args.workload](run)
        hello = server.cmd("hello")
        counted = [c for c in run.calls if not c["traced"] and not c.get("stolen")]
        metrics = per_layer(run) if args.trace else end_to_end(run, counted)
    finally:
        server.close()
        shutil.rmtree(work, ignore_errors=True)
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        declared = [m["name"] for m in json.load(fh)["per_layer" if args.trace else "end_to_end"]]
    if sorted(declared) != sorted(metrics) or any(v is None for v, _ in metrics.values()):
        raise RuntimeError(f"metrics {metrics} do not match BENCHMARK.json {sorted(declared)}")
    extra = report(run, counted)
    attempted = len(run.calls) + run.untimed
    failed = len(run.failures)
    artifact = {
        "workload": args.workload, "seed": args.seed, "seconds": args.seconds, "trace": args.trace,
        "local": f"local[{cpus}]", "nproc": hello["nproc"], "heap_max_mb": hello["heap_max_mb"],
        "spark": hello["spark"], "clients": 1, "loop": "closed",
        "windows": run.extra["windows"], "setup_s": run.extra["setup_s"],
        "setup_parts": run.extra.get("setup_parts"),
        "attempted": attempted, "failed": failed, "error_rate": failed / max(1, attempted),
        "failures": run.failures[:50], "report": extra,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
        "warehouse": run.extra.get("warehouse"),
        "calls": [{k: c[k] for k in ("kind", "ms", "ok", "bytes", "traced", "stolen", "steal_s")
                   if k in c}
                  | ({"op": c["op"]} if "op" in c else {}) for c in run.calls],
    }
    with open(os.path.join(results, f"{args.workload}-seed{args.seed}-trace{args.trace}.json"), "w") as fh:
        json.dump(artifact, fh, indent=1)
    for w in run.extra["windows"]:
        print(f"window traced={w['traced']} wall={w['wall_s']:.2f}s steps={w['steps']} "
              f"cpu={w['cpu_s']:.2f}s steal={w['steal_s']:.2f}s gc={w['gc_s']:.2f}s "
              f"(nproc={hello['nproc']}, heap={hello['heap_max_mb']:.0f}MB, local[{cpus}])")
    for k, v in extra.items():
        print(f"report {k} = {v['value']} {v['unit']}" + (f" (n={v['n']})" if "n" in v else ""))
    stolen = [c["ms"] for c in run.calls if c.get("stolen")]
    print(f"report stolen_calls = {len(stolen)} ({sum(stolen) / 1000.0:.2f} s, left out)")
    print(f"report error_rate = {artifact['error_rate']} ({failed}/{attempted})")
    for f in run.failures[:10]:
        print(f"FAILED {f}")
    print(json.dumps({"correct": failed == 0, "attempted": attempted, "failed": failed,
                      "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()}}))
    return 0


if __name__ == "__main__":
    try:
        sys.exit(main())
    except SystemExit:
        raise
    except BaseException:
        traceback.print_exc()
        sys.exit(1)
