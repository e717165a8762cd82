#!/usr/bin/env python3
"""The benchmark's own check, at the tiny sf0.001-derived input size.

For every workload it runs the benchmark untraced, traced, and untraced
with one loaded output deliberately corrupted, and checks that:
  * each run exits 0 and ends with the result line;
  * the untraced run prints every end-to-end metric of BENCHMARK.json and
    the traced run every per-layer metric, each with its unit;
  * clean runs are correct with no failed operation;
  * the corrupted run counts the corrupted operation as failed.

    python3 perfbench/selfcheck.py        # from the repository root
"""
import json
import subprocess
import sys

sys.path.insert(0, __file__.rsplit("/", 1)[0])
import workloads  # noqa: E402


def run(workload, trace, corrupt=False):
    cmd = [sys.executable, "perfbench/run.py", "--workload", workload, "--seed", "7",
           "--seconds", "1", "--trace", str(trace), "--size", "tiny"]
    if corrupt:
        cmd.append("--corrupt")
    p = subprocess.run(cmd, capture_output=True, text=True, timeout=600)
    if p.returncode != 0:
        return None, f"exit {p.returncode}: {p.stderr[-500:]}"
    return json.loads(p.stdout.strip().splitlines()[-1]), None


def main():
    with open("BENCHMARK.json") as f:
        spec = json.load(f)
    problems = []
    for w in sorted(workloads.WORKLOADS):
        for trace, corrupt in ((0, False), (1, False), (0, True)):
            label = f"{w} trace={trace}{' corrupt' if corrupt else ''}"
            res, err = run(w, trace, corrupt)
            if err:
                problems.append(f"{label}: {err}")
                continue
            want = {m["name"]: m["unit"] for m in spec["per_layer" if trace else "end_to_end"]}
            got = {k: v.get("unit") for k, v in res["metrics"].items()}
            if got != want:
                problems.append(f"{label}: metrics {sorted(set(got) ^ set(want))} differ")
            if corrupt and (res["correct"] or res["failed"] < 1):
                problems.append(f"{label}: corrupted output not counted as failed")
            if not corrupt and (not res["correct"] or res["failed"]):
                problems.append(f"{label}: {res['failed']} of {res['attempted']} failed")
            print(f"{label}: correct={res['correct']} attempted={res['attempted']} "
                  f"failed={res['failed']} metrics={len(res['metrics'])}")
    for p in problems:
        print("PROBLEM", p)
    print("selfcheck", "FAILED" if problems else "OK")
    sys.exit(1 if problems else 0)


if __name__ == "__main__":
    main()
