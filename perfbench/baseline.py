#!/usr/bin/env python3
"""Run the benchmark over several seeds and summarise each metric.

    python3 perfbench/baseline.py --workloads publish_small daily_append \\
        --seeds 1-10 --trace 0 --out perfbench/results/baseline.json

Runs are sequential, one process each, exactly as the benchmark command is
run. For every workload and metric the summary holds the median, the first
and third quartiles (``statistics.quantiles(values, n=4)``) and the spread
(q3 - q1) / median; every run's result and host-health line is kept too.

With ``--trace-pairs K`` each of the first K seeds is also run traced, right
after its untraced run, so the two sets interleave in one window. The
tracing overhead is then the median traced ``job_s`` over the median
untraced ``job_s`` of those K seeds.
"""

from __future__ import annotations

import argparse
import json
import statistics
import subprocess
import sys
import time


def parse_seeds(text: str) -> list[int]:
    lo, _, hi = text.partition("-")
    return list(range(int(lo), int(hi or lo) + 1))


def run_once(workload: str, seed: int, seconds: int, trace: int) -> dict:
    t0 = time.perf_counter()
    p = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", workload, "--seed", str(seed),
         "--seconds", str(seconds), "--trace", str(trace)],
        capture_output=True, text=True, timeout=200,
    )
    lines = p.stdout.strip().splitlines()
    if p.returncode != 0 or len(lines) < 2:
        raise RuntimeError(f"{workload} seed {seed}: exit {p.returncode}\n{p.stderr[-2000:]}")
    out = json.loads(lines[-1])
    out["host"] = json.loads(lines[-2])["host"]
    out["seed"], out["wall_s"] = seed, round(time.perf_counter() - t0, 2)
    return out


def summarise(runs: list[dict]) -> dict:
    names = runs[0]["metrics"].keys()
    out = {}
    for name in names:
        vals = [r["metrics"][name]["value"] for r in runs]
        q1, med, q3 = statistics.quantiles(vals, n=4)
        out[name] = {
            "unit": runs[0]["metrics"][name]["unit"],
            "median": med, "q1": q1, "q3": q3,
            "spread": (q3 - q1) / med if med else None,
        }
    return out


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workloads", nargs="+", required=True)
    ap.add_argument("--seeds", default="1-10")
    with open("BENCHMARK.json") as f:
        run_seconds = json.load(f)["run_seconds"]
    ap.add_argument("--seconds", type=int, default=run_seconds)
    ap.add_argument("--trace-pairs", type=int, default=0)
    ap.add_argument("--out", required=True)
    args = ap.parse_args()
    report = {"seconds": args.seconds, "workloads": {}}
    for w in args.workloads:
        runs, traced = [], []
        for i, seed in enumerate(parse_seeds(args.seeds)):
            for trace in (0, 1) if i < args.trace_pairs else (0,):
                r = run_once(w, seed, args.seconds, trace)
                (traced if trace else runs).append(r)
                print(f"{w} seed {seed} trace {trace}: correct={r['correct']} "
                      f"failed={r['failed']} wall={r['wall_s']} s", file=sys.stderr, flush=True)
        report["workloads"][w] = {"summary": summarise(runs), "runs": runs}
        if traced:
            on = statistics.median(r["metrics"]["trace.job_s"]["value"] for r in traced)
            off = statistics.median(r["metrics"]["job_s"]["value"] for r in runs[:len(traced)])
            report["workloads"][w]["traced"] = {"summary": summarise(traced), "runs": traced}
            report["workloads"][w]["tracing_overhead"] = {
                "traced_job_s_median": on, "untraced_job_s_median": off, "ratio": on / off}
        with open(args.out, "w") as f:
            json.dump(report, f, indent=1)
    for w, d in report["workloads"].items():
        for name, s in d["summary"].items():
            print(f"{w:14s} {name:40s} median {s['median']:.4g} {s['unit']:8s} spread {s['spread']}")
        if "tracing_overhead" in d:
            print(f"{w:14s} traced/untraced job_s {d['tracing_overhead']['ratio']:.3f}")
    return 0


if __name__ == "__main__":
    sys.exit(main())
