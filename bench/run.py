#!/usr/bin/env python3
"""Run one benchmark workload and print its metrics as one JSON line.

    python3 bench/run.py --workload kpi_api --seed 1 --seconds 20 --trace 0

From the root of a checkout: builds the program and the harness from source
(cached under `.bench_build/`), generates the workload's inputs from the
seed, runs them in one JVM, checks every answer against DuckDB, and prints
`{"correct", "attempted", "failed", "metrics"}` as the last stdout line.
`--trace 0` reports the end-to-end metrics, `--trace 1` the per-layer ones.
Exits non-zero, without a result line, when it cannot run, and with a
result line but non-zero when any answer is wrong. See bench/README.md.
"""
import argparse
import json
import os
import shutil
import statistics
import subprocess
import sys
import time
from pathlib import Path

import numpy as np

import build
import gen
import oracle

BENCH = Path(__file__).resolve().parent
ROOT = BENCH.parent
WORK = ROOT / ".bench_build"
DEADLINE_S = 170
CPUS = min(os.cpu_count() or 4, 4)

# The KPI endpoints, cycled in this order, so each gets a quarter of the
# requests.
ENDPOINTS = ["summary", "by_dept", "delta_company", "delta_by_dept"]

# Workload sizes and rates; README.md says why each was chosen.
KPI_SF = 0.1
KPI_RATE = 0.8          # requests per second, open loop
KPI_WARMUP_S = 10       # the warm-up replays a schedule this long
ARRIVALS_SEED = 0       # the arrival times are the same for every --seed
CLOSE_EMPLOYEES = 1000
CLOSE_WARMUP = 3        # initial load + two incremental closes
CLOSES_PER_S = 0.35     # timed closes per second of --seconds (one takes ~3.5 s)


def log(msg):
    print(f"[bench] {msg}", file=sys.stderr, flush=True)


def plan_kpi(rng, seconds, trace):
    """Poisson arrivals at KPI_RATE, conditioned on their count so every run
    of the same length offers the same load: the arrival times are that many
    sorted uniform draws over the window, drawn from ARRIVALS_SEED so that
    bursts do not differ between seeds. Requests cycle through ENDPOINTS;
    each draws its month from `rng` (delta endpoints compare it with the
    next month). A traced run traces every other cycle. The warm-up has a
    schedule of its own."""
    arrivals = np.random.default_rng(ARRIVALS_SEED)
    def month():
        i = int(rng.integers(0, len(gen.MONTHS) - 1))
        return gen.MONTHS[i:i + 2]
    def schedule(secs):
        times = np.sort(arrivals.uniform(0, secs, round(KPI_RATE * secs)))
        return [[float(t), ENDPOINTS[i % len(ENDPOINTS)]] + month()
                + [trace and (i // len(ENDPOINTS)) % 2 == 1]
                for i, t in enumerate(times)]
    return {"warmup": schedule(KPI_WARMUP_S), "requests": schedule(seconds),
            "threads": CPUS}


def prepare(workload, seed, seconds, trace, run):
    """Generate the inputs and the harness plan for one run."""
    data = run / "data"
    rng = np.random.default_rng([seed, 0])
    if workload == "kpi_api":
        gen.star_schema(data, seed, KPI_SF)
        return data, plan_kpi(rng, seconds, trace)
    if workload == "month_close":
        n = round(CLOSES_PER_S * seconds)
        batches = gen.payroll_batches(data, seed, CLOSE_WARMUP + n, CLOSE_EMPLOYEES)
        # A traced run traces every other timed close, from the second.
        return data, {"batches": batches, "warmup_batches": CLOSE_WARMUP,
                      "traced": [trace and i % 2 == 1 for i in range(n)],
                      "publish_root": str(run / "publish")}
    raise SystemExit(f"unknown workload {workload}")


def run_harness(classes, plan, run, trace, deadline):
    plan_file, result_file = run / "plan.json", run / "result.json"
    spans_file = WORK / "traces" / f"{plan['workload']}-seed{plan['seed']}.json"
    spans_file.parent.mkdir(parents=True, exist_ok=True)
    plan_file.write_text(json.dumps(plan))
    for d in ("tmp", "local", "artifacts"):
        (run / d).mkdir()
    env = dict(os.environ,
               SPARK_GRAFT_ARTIFACTS=str(run / "artifacts"),
               SPARK_LOCAL_DIRS=str(run / "local"),
               SPARK_GRAFT_CPUS=str(CPUS))
    cmd = build.java_command(classes, run / "tmp") + [
        "bench.Harness", str(plan_file), str(result_file), str(spans_file)]
    log_file = WORK / f"{plan['workload']}.log"
    with open(log_file, "w") as err:
        proc = subprocess.Popen(cmd, cwd=run, env=env, stdout=err, stderr=err)
        try:
            proc.wait(timeout=max(1.0, deadline - time.monotonic()))
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
            raise SystemExit(f"harness ran past the deadline; see {log_file}")
    if proc.returncode != 0:
        tail = log_file.read_text(errors="replace")[-3000:]
        raise SystemExit(f"harness failed ({proc.returncode}):\n{tail}")
    spans = json.loads(spans_file.read_text()) if trace else []
    return json.loads(result_file.read_text()), spans


# ---- correctness ----------------------------------------------------------

def verify(workload, ops, data, plan):
    """Mark each op wrong (`op["wrong"]`) unless its answer matches the
    oracle. Errors count as wrong too."""
    if workload == "month_close":
        n = max((int(o["id"][1:]) for o in ops), default=-1) + 1
        states = list(oracle.close_states(plan["batches"][:n]))
        con = oracle.connect(data, tables=())
    else:
        con = oracle.connect(data)
    wants = {}
    for o in ops:
        if o["error"]:
            o["wrong"] = o["error"]
            continue
        if workload == "month_close":
            ok, msg = oracle.compare(states[int(o["id"][1:])],
                                     oracle.collected(con, o["result"]))
        else:
            if o["oracle"] not in wants:
                t = time.monotonic()
                try:
                    wants[o["oracle"]] = con.sql(o["oracle"]).df()
                except Exception as e:
                    wants[o["oracle"]] = f"oracle error: {e}"
                if time.monotonic() - t > 0.5:
                    log(f"oracle for {o['name']} took {time.monotonic() - t:.1f}s")
            want = wants[o["oracle"]]
            if isinstance(want, str):
                ok, msg = False, want
            else:
                ok, msg = oracle.compare(want, oracle.collected(con, o["result"]))
        if not ok:
            o["wrong"] = msg
            log(f"WRONG {o['id']} {o['name']}: {msg}")


# ---- metrics ----------------------------------------------------------------

def latency_ms(workload, o):
    """The latency of one unit of user-visible work: a request, from its due
    time, or a month close."""
    return (o["end"] - (o["sched"] if workload == "kpi_api" else o["start"])) * 1e3


def latencies_ms(workload, ops):
    return [latency_ms(workload, o) for o in ops]


def pct(xs, q):
    return float(np.percentile(xs, q)) if xs else 0.0


def end_to_end(workload, res, ops):
    lat = latencies_ms(workload, ops)
    return {
        "setup_s": (res["session_build_s"] + res["warmup_s"], "s"),
        "latency_p50_ms": (pct(lat, 50), "ms"),
        "latency_p90_ms": (pct(lat, 90), "ms"),
        "heap_peak_mb": (res["heap_peak_mb"], "MB"),
    }


def uncovered(lo, hi, intervals):
    """Time in [lo, hi] that no interval covers."""
    free, reach = 0, lo
    for a, b in sorted((max(a, lo), min(b, hi)) for a, b in intervals):
        if a >= b:
            continue
        free += max(0, a - reach)
        reach = max(reach, b)
    return free + max(0, hi - reach)


def span_times(spans):
    """Per traced op, the mean self time of each span kind (its duration
    minus the part its children cover), and as "idle" the action time with
    no task of the op running."""
    kids, tasks, total = {}, {}, {}
    for s in spans:
        kids.setdefault(s["parent"], []).append((s["start"], s["end"]))
        if s["kind"] == "task":
            tasks.setdefault(s["op"], []).append((s["start"], s["end"]))
    for s in spans:
        k = s["kind"]
        total[k] = total.get(k, 0) + uncovered(s["start"], s["end"], kids.get(s["id"], []))
        if k == "action":
            total["idle"] = total.get("idle", 0) + uncovered(
                s["start"], s["end"], tasks.get(s["op"], []))
    n = max(len({s["op"] for s in spans}), 1)
    return {k: v / n for k, v in total.items()}


def per_layer(workload, res, ops, spans):
    traced = [o for o in ops if "trace" in o]
    t = [o["trace"] for o in traced]

    def mean(k):
        return statistics.fmean(x[k] for x in t) if t else 0.0

    def median_of(xs):
        return statistics.median(xs) if xs else 0.0
    action = sum(x["action_ms"] for x in t)
    times = span_times(spans)
    m = {
        "session.build_s": (res["session_build_s"], "s"),
        "session.warmup_s": (res["warmup_s"], "s"),
        "operators.build_ms": (median_of([x["build_ms"] for x in t]), "ms"),
        "catalyst.analysis_ms": (mean("analysis_ms"), "ms"),
        "catalyst.optimization_ms": (mean("optimization_ms"), "ms"),
        "catalyst.planning_ms": (mean("planning_ms"), "ms"),
        "dispatch.jobs": (mean("jobs"), "count"),
        "dispatch.stages": (mean("stages"), "count"),
        "dispatch.tasks": (mean("tasks"), "count"),
        "dispatch.idle_ms": (times.get("idle", 0.0), "ms"),
        "dispatch.self_action_ms": (times.get("action", 0.0), "ms"),
        "dispatch.self_job_ms": (times.get("job", 0.0), "ms"),
        "exec.task_run_ms": (mean("task_run_ms"), "ms"),
        "exec.task_cpu_ms": (mean("task_cpu_ms"), "ms"),
        "exec.gc_ms": (mean("gc_ms"), "ms"),
        "exec.busy_ratio": (sum(x["task_run_ms"] for x in t) / (action * int(res["cpus"]))
                            if action else 0.0, "ratio"),
        "exec.shuffle_read_bytes": (mean("shuffle_read_bytes"), "bytes"),
        "exec.shuffle_write_bytes": (mean("shuffle_write_bytes"), "bytes"),
        "exec.spill_bytes": (mean("spill_bytes"), "bytes"),
        "exec.exchanges": (mean("exchanges"), "count"),
        "sources.scan_files": (mean("scan_files"), "count"),
        "sources.scan_bytes": (mean("scan_bytes"), "bytes"),
        "sources.publish_ms": (median_of([o["publish_ms"] for o in traced
                                          if "publish_ms" in o]), "ms"),
        "sources.read_generation_ms": (median_of([o["read_generation_ms"] for o in traced
                                                  if "read_generation_ms" in o]), "ms"),
        "sources.files_written": (mean("files_written"), "count"),
        "sources.bytes_written": (mean("bytes_written"), "bytes"),
    }
    for ep in ENDPOINTS:
        m[f"kpi.{ep}.p50_ms"] = (median_of([latency_ms(workload, o)
                                            for o in ops if o["name"] == ep]), "ms")
    m["loadgen.lag_ms"] = (median_of([(o["start"] - o["sched"]) * 1e3 for o in ops]), "ms")
    m["canary.epoch_ms"] = (res["canary"]["epoch_ms"], "ms")
    m["canary.shuffle_ms"] = (res["canary"]["shuffle_ms"], "ms")
    m["trace.overhead_ms"] = (trace_overhead_ms(workload, ops), "ms")
    return m


def trace_overhead_ms(workload, ops):
    """Traced minus untraced latency of like operations in one run. On
    `kpi_api`, per endpoint, the difference of the medians; the median of
    those. On `month_close`, each traced close against the mean of its two
    untraced neighbours, which cancels the growth from close to close; the
    median of those."""
    lat = [latency_ms(workload, o) for o in ops]
    traced = ["trace" in o for o in ops]
    diffs = []
    if workload == "kpi_api":
        for ep in ENDPOINTS:
            on = [x for x, o, t in zip(lat, ops, traced) if t and o["name"] == ep]
            off = [x for x, o, t in zip(lat, ops, traced) if not t and o["name"] == ep]
            if on and off:
                diffs.append(statistics.median(on) - statistics.median(off))
    else:
        diffs = [lat[i] - (lat[i - 1] + lat[i + 1]) / 2 for i in range(1, len(ops) - 1)
                 if traced[i] and not traced[i - 1] and not traced[i + 1]]
    return statistics.median(diffs) if diffs else 0.0


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True,
                    choices=["kpi_api", "month_close"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    a = ap.parse_args()
    deadline = time.monotonic() + DEADLINE_S

    classes = build.build(ROOT, BENCH, WORK)
    run = WORK / f"run-{os.getpid()}"
    shutil.rmtree(run, ignore_errors=True)
    run.mkdir(parents=True)
    try:
        t = time.monotonic()
        data, plan = prepare(a.workload, a.seed, a.seconds, bool(a.trace), run)
        log(f"inputs for seed {a.seed} in {time.monotonic() - t:.1f}s")
        plan.update(workload=a.workload, seed=a.seed, data=str(data),
                    trace=bool(a.trace), cpus=str(CPUS))
        res, spans = run_harness(classes, plan, run, a.trace, deadline)
        ops = res["ops"]
        t = time.monotonic()
        verify(a.workload, ops, data, plan)
        log(f"{len(ops)} ops checked in {time.monotonic() - t:.1f}s; set-ups "
            f"{res['session_build_s']} + {res['warmup_s']}; canaries {res['canary']}")
        by_name = {}
        for o in ops:
            by_name.setdefault(o["name"], []).append(o["end"] - o["start"])
        log("latencies ms: " + " ".join(f"{x:.0f}" for x in latencies_ms(a.workload, ops)))
        log("median s per op: " + ", ".join(
            f"{k} {statistics.median(v):.2f}" for k, v in by_name.items()))
    finally:
        shutil.rmtree(run, ignore_errors=True)
    failed = sum(1 for o in ops if "wrong" in o)
    metrics = (per_layer(a.workload, res, ops, spans) if a.trace
               else end_to_end(a.workload, res, ops))
    print(json.dumps({
        "correct": failed == 0, "attempted": len(ops), "failed": failed,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()}}))
    sys.exit(0 if failed == 0 and ops else 1)


if __name__ == "__main__":
    main()
