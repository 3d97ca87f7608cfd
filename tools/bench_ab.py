#!/usr/bin/env python3
"""Interleaved parent/change benchmark pairs over two checkouts.

    python3 tools/bench_ab.py --parent A --change B --workload month_close \
        --seeds 101-110 --log ab.jsonl
    python3 tools/bench_ab.py --report ab.jsonl
    python3 tools/bench_ab.py --self-test

For each seed, runs `python3 bench/run.py --workload W --seed S --seconds T
--trace 0` once in each checkout, the parent first on even-numbered pairs
and the change first on odd ones, and appends both result lines to the log
(one JSON object per run). It then prints, per workload and per end-to-end
metric of the change checkout's BENCHMARK.json, each side's median and
quartiles, the pairs the change won and lost (ties count for neither), and
a verdict:

  gain        the change wins at least 9/10 of the pairs and the medians
              differ, in its favour, by more than the parent's interquartile
              range
  worse       the change's median is worse than the parent's by more than
              the metric's bound
  unresolved  the parent's interquartile range exceeds the bound, and not
              every change run reads better than every parent run
  within      none of the above: no worse than the bound allows

A run that failed (non-zero exit or no result line) or reported wrong
answers is listed, and its pair is left out of the metric summary. The
script only invokes bench/run.py and writes nothing under either checkout
except what run.py itself writes.
"""
import argparse
import json
import statistics
import subprocess
import sys
import time
from pathlib import Path


def seeds_of(spec):
    """`101-110` or `5,7,9` -> list of ints."""
    out = []
    for part in spec.split(","):
        lo, _, hi = part.partition("-")
        out.extend(range(int(lo), int(hi or lo) + 1))
    return out


def run_once(checkout, workload, seed, seconds):
    """One bench/run.py run; the record appended to the log."""
    t = time.monotonic()
    p = subprocess.run([sys.executable, "bench/run.py", "--workload", workload,
                        "--seed", str(seed), "--seconds", str(seconds), "--trace", "0"],
                       cwd=checkout, capture_output=True, text=True)
    lines = [l for l in p.stdout.splitlines() if l.startswith("{")]
    return {"workload": workload, "seed": seed, "exit": p.returncode,
            "wall_s": round(time.monotonic() - t, 1),
            "result": json.loads(lines[-1]) if lines else None,
            "stderr_tail": p.stderr[-600:] if p.returncode else ""}


def quartiles(xs):
    xs = sorted(xs)
    if len(xs) < 2:
        return xs[0], xs[0], xs[0]
    q1, q2, q3 = statistics.quantiles(xs, n=4, method="inclusive")
    return q1, q2, q3


def summarize(records, metrics):
    """Per (workload, metric): the table row and the verdict. `records` are
    log entries with `side`; `metrics` the BENCHMARK.json end-to-end list."""
    rows, bad = [], []
    by = {}
    for r in records:
        ok = r["exit"] == 0 and r["result"] and r["result"]["failed"] == 0
        if not ok:
            bad.append(r)
        by.setdefault((r["workload"], r["seed"]), {})[r["side"]] = r if ok else None
    for workload in sorted({w for w, _ in by}):
        pairs = [v for (w, _), v in sorted(by.items())
                 if w == workload and v.get("parent") and v.get("change")]
        if not pairs:
            continue
        for m in metrics:
            name, lower, bound = m["name"], m["better"] == "lower", m["bound"]
            par = [p["parent"]["result"]["metrics"][name]["value"] for p in pairs]
            chg = [p["change"]["result"]["metrics"][name]["value"] for p in pairs]
            better = (lambda c, p: c < p) if lower else (lambda c, p: c > p)
            wins = sum(better(c, p) for c, p in zip(chg, par))
            losses = sum(better(p, c) for c, p in zip(chg, par))
            pq, cq = quartiles(par), quartiles(chg)
            iqr = pq[2] - pq[0]
            gap = (pq[1] - cq[1]) if lower else (cq[1] - pq[1])
            if wins >= 0.9 * len(pairs) and gap > iqr:
                verdict = "gain"
            elif -gap > bound * abs(pq[1]):
                verdict = "worse"
            elif iqr > bound * abs(pq[1]) and not all(
                    better(c, p) for c in chg for p in par):
                verdict = "unresolved"
            else:
                verdict = "within"
            rows.append({"workload": workload, "metric": name, "pairs": len(pairs),
                         "parent": pq, "change": cq, "wins": wins, "losses": losses,
                         "ratio": cq[1] / pq[1] if pq[1] else float("nan"),
                         "verdict": verdict})
    return rows, bad


def render(rows, bad):
    out = []
    for b in bad:
        why = f"exit {b['exit']}" if b["exit"] else f"{b['result']['failed']} failed"
        out.append(f"RUN FAILED {b['side']} {b['workload']} seed {b['seed']}: {why}")
    out.append(f"{'workload':12} {'metric':15} {'n':>3}  {'parent q1/med/q3':>26}  "
               f"{'change q1/med/q3':>26}  {'ratio':>6} {'won':>4} {'lost':>4}  verdict")
    for r in rows:
        fmt = lambda q: "/".join(f"{x:.4g}" for x in q)
        out.append(f"{r['workload']:12} {r['metric']:15} {r['pairs']:>3}  "
                   f"{fmt(r['parent']):>26}  {fmt(r['change']):>26}  {r['ratio']:>6.3f} "
                   f"{r['wins']:>4} {r['losses']:>4}  {r['verdict']}")
    return "\n".join(out)


def end_to_end(checkout):
    return json.loads((Path(checkout) / "BENCHMARK.json").read_text())["end_to_end"]


def self_test():
    """Checks the verdicts on canned result lines; runs no benchmark."""
    metrics = [{"name": n, "better": "lower", "bound": 0.25}
               for n in ("latency_p50_ms", "heap_peak_mb", "setup_s")]

    def rec(side, seed, p50, heap, setup, failed=0, exit=0):
        line = {"correct": failed == 0, "attempted": 7, "failed": failed, "metrics": {
            "latency_p50_ms": {"value": p50, "unit": "ms"},
            "heap_peak_mb": {"value": heap, "unit": "MB"},
            "setup_s": {"value": setup, "unit": "s"}}}
        return {"side": side, "workload": "w", "seed": seed, "exit": exit,
                "result": None if exit else line}
    recs = []
    for i in range(10):
        # p50: change wins 9 of 10 by ~30%; heap: equal within noise;
        # setup: change 40% slower
        recs.append(rec("parent", i, 2000 + 10 * i, 98 + i % 2, 15))
        recs.append(rec("change", i, 1400 + 10 * i if i else 2100, 98 + (i + 1) % 2, 21))
    recs.append(rec("parent", 10, 1, 1, 1))
    recs.append(rec("change", 10, 1, 1, 1, failed=1))
    recs.append(rec("change", 11, 1, 1, 1, exit=1))
    rows, bad = summarize(recs, metrics)
    got = {r["metric"]: (r["verdict"], r["wins"], r["losses"], r["pairs"]) for r in rows}
    assert got == {"latency_p50_ms": ("gain", 9, 1, 10), "heap_peak_mb": ("within", 5, 5, 10),
                   "setup_s": ("worse", 0, 10, 10)}, got
    assert [(b["side"], b["seed"]) for b in bad] == [("change", 10), ("change", 11)], bad
    # a wide parent spread with overlapping runs is unresolved, not "within"
    wide = [rec(s, i, v, 1, 1) for i, (a, b) in enumerate([(1000, 1100), (2000, 1900),
                                                            (1500, 1600), (900, 950)])
            for s, v in (("parent", a), ("change", b))]
    (p50, *_), _ = summarize(wide, metrics)
    assert p50["verdict"] == "unresolved", p50
    assert quartiles([4.0]) == (4.0, 4.0, 4.0)
    assert seeds_of("3-5,9") == [3, 4, 5, 9]
    print(render(rows, bad))
    print("self-test ok")


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--parent")
    ap.add_argument("--change")
    ap.add_argument("--workload", action="append", choices=["kpi_api", "month_close"])
    ap.add_argument("--seeds")
    ap.add_argument("--seconds", type=float, default=20)
    ap.add_argument("--log", help="JSON-lines log the runs are appended to")
    ap.add_argument("--report", help="summarize an existing log; run nothing")
    ap.add_argument("--self-test", action="store_true")
    a = ap.parse_args()
    if a.self_test:
        return self_test()
    if a.report:
        recs = [json.loads(l) for l in Path(a.report).read_text().splitlines() if l.strip()]
        metrics = end_to_end(Path(__file__).resolve().parent.parent)
    else:
        if not (a.parent and a.change and a.workload and a.seeds and a.log):
            ap.error("--parent, --change, --workload, --seeds and --log are required")
        metrics = end_to_end(a.change)
        recs = []
        with open(a.log, "a") as log:
            for workload in a.workload:
                for i, seed in enumerate(seeds_of(a.seeds)):
                    order = ["parent", "change"] if i % 2 == 0 else ["change", "parent"]
                    for side in order:
                        r = run_once(a.parent if side == "parent" else a.change,
                                     workload, seed, a.seconds)
                        r.update(side=side, first=order[0])
                        log.write(json.dumps(r) + "\n")
                        log.flush()
                        recs.append(r)
                        print(f"[ab] {workload} seed {seed} {side}: exit {r['exit']} "
                              f"in {r['wall_s']}s", file=sys.stderr, flush=True)
    print(render(*summarize(recs, metrics)))


if __name__ == "__main__":
    main()
