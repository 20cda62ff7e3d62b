#!/usr/bin/env python3
"""Self-test of the benchmark at tiny input size (about five minutes).

    python3 perfbench/selftest.py

Checks, from the root of a checkout, that:
- each workload prints, as its last line, a result with exactly the keys
  correct/attempted/failed/metrics, passes its correctness checks, and
  emits every end-to-end metric of BENCHMARK.json with its unit and a
  nonzero value. Its only failed operation is the known false lineage
  finding of the fsck on daily_append (README.md, known defects);
- a traced run emits every per-layer metric of BENCHMARK.json with its unit,
  and its retention stage dropped at least one series day;
- a publication with one data file removed makes the run count as failed;
- in a directory holding only BENCHMARK.json and the benchmark's files the
  command exits non-zero without printing a result.
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys


# failed operations a correct run still reports, until the engine is fixed
KNOWN_FAILURES = {"daily_append": ["perfbench: verify_publication: failed checks ['lineage']"]}


def run(args: list[str], cwd: str = ".") -> tuple[int, list[str], str]:
    p = subprocess.run([sys.executable, "perfbench/run.py", *args], cwd=cwd,
                       capture_output=True, text=True, timeout=200)
    return p.returncode, p.stdout.strip().splitlines(), p.stderr


def result(args: list[str], workload: str | None = None) -> dict:
    code, lines, err = run(args)
    assert code == 0, f"{args}: exit {code}"
    out = json.loads(lines[-1])
    assert set(out) == {"correct", "attempted", "failed", "metrics"}, out.keys()
    assert isinstance(out["attempted"], int) and out["attempted"] >= 1
    assert isinstance(out["failed"], int)
    if workload is not None:
        known = KNOWN_FAILURES.get(workload, [])
        notes = [n for n in err.splitlines() if n.startswith("perfbench: ")
                 and not n.startswith("perfbench: phases")]
        assert out["correct"] and out["failed"] == len(known) and notes == known, (out, notes)
    return out


def same_metrics(out: dict, spec: list[dict], nonzero: bool) -> None:
    want = {m["name"]: m["unit"] for m in spec}
    got = {k: v["unit"] for k, v in out["metrics"].items()}
    assert got == want, f"metrics differ: missing {set(want) - set(got)}, extra {set(got) - set(want)}"
    if nonzero:
        zero = [k for k, v in out["metrics"].items() if not v["value"]]
        assert not zero, f"zero-valued metrics {zero}"


def main() -> int:
    with open("BENCHMARK.json") as f:
        bench = json.load(f)
    tiny = ["--seed", "7", "--seconds", "1", "--scale", "tiny"]
    for w in (x["name"] for x in bench["workloads"]):
        out = result(["--workload", w, "--trace", "0", *tiny], w)
        same_metrics(out, bench["end_to_end"], nonzero=True)
        print(f"ok: {w} end-to-end metrics", flush=True)

    out = result(["--workload", "daily_append", "--trace", "1", *tiny], "daily_append")
    same_metrics(out, bench["per_layer"], nonzero=False)
    assert out["metrics"]["retention.partitions_dropped"]["value"] > 0, out["metrics"]
    print("ok: traced run per-layer metrics", flush=True)

    out = result(["--workload", "publish_small", "--trace", "0", "--drop-data-file", *tiny])
    assert not out["correct"] and out["failed"] >= 1, out
    print(f"ok: missing data file counted as {out['failed']} failed operation(s)", flush=True)

    bare = os.path.join(".perfbench_work", "selftest-bare")
    shutil.rmtree(bare, ignore_errors=True)
    shutil.copytree("perfbench", os.path.join(bare, "perfbench"),
                    ignore=shutil.ignore_patterns("__pycache__"))
    shutil.copy("BENCHMARK.json", bare)
    try:
        code, lines, _ = run(["--workload", "publish_small", "--seed", "1", "--seconds", "1"], cwd=bare)
    finally:
        shutil.rmtree(bare, ignore_errors=True)
    assert code != 0 and not lines, (code, lines)
    print("ok: bare directory exits non-zero without a result", flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
