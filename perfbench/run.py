#!/usr/bin/env python3
"""perfbench: the graft benchmark. One command builds the library, makes
the seeded inputs, runs one workload in one JVM for a fixed time, checks
every output against DuckDB and prints the metrics.

    python3 perfbench/run.py --workload <etl_star|curation_loops>
        --seed <n> --seconds <s> --trace <0|1> [--size full|tiny] [--corrupt]

Run it from the repository root. The last line of standard output is one
JSON object: {"correct", "attempted", "failed", "metrics"}. With
`--trace 0` the metrics are the end-to-end metrics of BENCHMARK.json,
with `--trace 1` its per-layer metrics (from a run whose rounds
alternate untraced and traced). The line before it is the run stamp.
Build outputs, inputs and run records live under `.bench_build/`.

`--size tiny` runs the workload on inputs derived from sf0.001 (the
benchmark's own check); `--corrupt` alters one loaded output before the
check, which must then count that operation as failed.
"""
import argparse
import fcntl
import hashlib
import json
import os
import shutil
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import build  # noqa: E402
import gen  # noqa: E402
import oracle  # noqa: E402
import workloads  # noqa: E402

BUILD = build.BUILD_DIR
JVM_OPENS = ["java.lang", "java.lang.invoke", "java.lang.reflect", "java.io",
             "java.net", "java.nio", "java.util", "java.util.concurrent",
             "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
             "sun.security.action", "sun.util.calendar"]
SETUPS = 3          # set-ups per run; setup_s is their median
KEEP = 6            # generated input sets, and run records, kept on disk
HEAP = "2g"
DEADLINE_S = 170    # the whole command, build excluded
CHECK_S = 25        # kept for the correctness check after the JVM


def load1():
    try:
        with open("/proc/loadavg") as f:
            return float(f.read().split()[0])
    except OSError:
        return -1.0


def make_input(kind, size, seed):
    """Generate (or reuse) one seeded input set; returns (dir, manifest)."""
    path = os.path.join(BUILD, "inputs", f"{kind}-{size}-s{seed}")
    if kind == "etl":
        meta = gen.write_etl(path, seed, size)
    else:
        meta = gen.write_corpus(path, seed, size)
    os.utime(path)
    prune(os.path.dirname(path))
    return path, meta


def prune(parent):
    """Delete all but the KEEP most recently used directories under `parent`."""
    dirs = sorted((os.path.getmtime(p), p) for p in
                  (os.path.join(parent, d) for d in os.listdir(parent)))
    for _, p in dirs[:-KEEP]:
        shutil.rmtree(p, ignore_errors=True)


def tree_digest():
    """Digest of the library and benchmark sources (the checkout is not a
    git repository, so this stands in for the commit)."""
    h = hashlib.sha256()
    for p in build.sources():
        with open(p, "rb") as f:
            h.update(f.read())
    return h.hexdigest()[:16]


def commit():
    try:
        r = subprocess.run(["git", "rev-parse", "HEAD"], capture_output=True, text=True, timeout=10)
        return r.stdout.strip() if r.returncode == 0 else None
    except (OSError, subprocess.SubprocessError):
        return None


def corrupt_one(out, outputs):
    """Replace the first loaded output of round 0 with a copy missing one row."""
    name = next(iter(outputs.values()))[0]
    path = os.path.join(out, "ops", "r0", name)
    con = oracle.connect()
    rel = f"SELECT * FROM {oracle.parquet(path)}"
    tmp = path + ".corrupt"
    os.makedirs(tmp)
    con.execute(f"COPY ({rel} LIMIT (SELECT count(*) - 1 FROM ({rel}))) "
                f"TO '{tmp}/part-0.parquet' (FORMAT parquet)")
    shutil.rmtree(path)
    os.rename(tmp, path)
    return name


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(workloads.WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--size", choices=["full", "tiny"], default="full")
    ap.add_argument("--corrupt", action="store_true")
    args = ap.parse_args()

    with open("BENCHMARK.json") as f:
        spec = json.load(f)
    metric_spec = spec["per_layer" if args.trace else "end_to_end"]
    w = workloads.WORKLOADS[args.workload]

    # contention guard: never time against another benchmark run
    os.makedirs("bench", exist_ok=True)
    lock = open(os.path.join("bench", ".lock"), "w")
    t_lock = time.time()
    while True:
        try:
            fcntl.flock(lock, fcntl.LOCK_EX | fcntl.LOCK_NB)
            break
        except BlockingIOError:
            if time.time() - t_lock > 60:
                raise SystemExit("perfbench: bench/.lock held for 60 s")
            time.sleep(0.5)
    lock_wait = time.time() - t_lock

    _, classpath = build.build()
    t_built = time.time()

    kind, size = workloads.TINY[args.workload] if args.size == "tiny" else w["input"]
    inputs, manifest = make_input(kind, size, args.seed)
    wkind, wsize = w["warm"]
    warm, _ = make_input(wkind, wsize, 0)
    ops = workloads.op_order(args.workload, args.seed)

    out = os.path.join(BUILD, "runs", f"{args.workload}-{args.size}-s{args.seed}-t{args.trace}")
    shutil.rmtree(out, ignore_errors=True)
    os.makedirs(out)
    prune(os.path.dirname(out))
    cpus = str(os.cpu_count() or 1)
    load_before = load1()
    cmd = ["java", *[x for p in JVM_OPENS for x in ("--add-opens", f"java.base/{p}=ALL-UNNAMED")],
           f"-Xms{HEAP}", f"-Xmx{HEAP}", "-XX:+AlwaysPreTouch", "-XX:ReservedCodeCacheSize=512m",
           "-Dspark.ui.enabled=false",
           "-Duser.timezone=UTC", "-cp", classpath, "perfbench.Main",
           f"workload={args.workload}", f"inputs={inputs}", f"warm={warm}", f"out={out}",
           f"seconds={args.seconds}", f"trace={args.trace}", f"cpus={cpus}",
           f"setups={SETUPS}", f"discard={w['discard']}", "ops=" + ",".join(ops), "warmup=" + ",".join(w["warmup"])]
    with open(os.path.join(out, "jvm.log"), "w") as log:
        proc = subprocess.Popen(cmd, stdout=log, stderr=subprocess.STDOUT, env=dict(
            os.environ, SPARK_LOCAL_DIRS=os.path.abspath(os.path.join(BUILD, "spark-local"))))
        try:
            rc = proc.wait(timeout=max(10, t_built + DEADLINE_S - CHECK_S - time.time()))
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
            raise SystemExit(f"perfbench: JVM did not finish in time (log: {out}/jvm.log)")
    load_after = load1()
    if rc != 0 or not os.path.isfile(os.path.join(out, "result.json")):
        with open(os.path.join(out, "jvm.log")) as f:
            sys.stderr.write(f.read()[-3000:])
        raise SystemExit(f"perfbench: JVM exited with {rc}")
    with open(os.path.join(out, "result.json")) as f:
        res = json.load(f)

    corrupted = corrupt_one(out, res["outputs"]) if args.corrupt else None
    failures, extras = oracle.check(args.workload, inputs, out, res["outputs"], manifest)

    # one sample per operation executed in any round; a sample fails when
    # the op threw or any of its outputs in that round mismatched
    samples = res["samples"]
    failed = 0
    for s in samples:
        if not s["ok"] or (f"r{s['round']}", s["op"]) in failures:
            failed += 1
    attempted = len(samples)
    rounds = res["rounds"]
    untraced = [r["secs"] for r in rounds if r["timed"] and not r["traced"]]
    wall = statistics.median(untraced)
    # operation latencies of the timed rounds (of the first timed round
    # when tracing, which the per-layer metrics describe)
    first = min(i for i, r in enumerate(rounds) if r["timed"])
    lat = sorted(s["secs"] for s in samples
                 if (s["round"] == first if args.trace else s["timed"] and not s["traced"]))
    rows = manifest["total_rows"]
    e2e = {
        "setup_s": statistics.median(s["total_s"] for s in res["setups"]),
        "wall_s": wall,
        "rows_per_s": rows / wall,
    }
    layers = dict(res["layers"])
    layers.update(extras)
    layers["op_p50_s"] = statistics.median(lat)
    layers["memory.peak_rss_mb"] = res["stamp"]["peak_rss_mb"]
    if args.trace:
        layers.setdefault("sources.quarantine_frac", 0.0)
    values = layers if args.trace else e2e
    missing = [m["name"] for m in metric_spec if m["name"] not in values]
    if missing:
        raise SystemExit(f"perfbench: metrics not measured: {missing}")
    metrics = {m["name"]: {"value": values[m["name"]], "unit": m["unit"]} for m in metric_spec}

    stamp = {
        "workload": args.workload, "seed": args.seed, "size": args.size,
        "seconds": args.seconds, "trace": args.trace,
        "commit": commit(), "source_digest": tree_digest(),
        "cpus": int(cpus), "heap": HEAP, **res["stamp"],
        "input": {"dir": inputs, "rows": manifest["rows"], "total_rows": rows,
                  "bytes": manifest["bytes"], **({"dirt": manifest["dirt"]} if "dirt" in manifest else {})},
        "ops": ops, "rounds": len(rounds), "round_s": [r["secs"] for r in rounds],
        "discarded_rounds": w["discard"],
        "setups": res["setups"], "op_p50_s": statistics.median(lat),
        "failed_frac": failed / attempted, "failures": {f"{r}/{o}": why for (r, o), why in failures.items()},
        "errors": res["errors"], "corrupted": corrupted,
        "load1_before": load_before, "load1_after": load_after,
        "contended": load_before > 1.5 * int(cpus), "lock_wait_s": round(lock_wait, 3),
        "build_s": round(t_built - t_lock - lock_wait, 3),
    }
    if args.trace:
        # where the traced round's operation time went
        op_s = layers["driver.op_s"]
        plan_s = layers["plan.analysis_s"] + layers["plan.optimizer_s"] + layers["plan.physical_s"]
        stamp["wall_split"] = {"plan_frac": plan_s / op_s,
                               "driver_gap_frac": layers["driver.gap_s"] / op_s,
                               "in_job_frac": layers["driver.in_job_s"] / op_s,
                               "exec_busy_frac": layers["exec.busy_frac"]}
        stamp["layers"] = layers
    with open(os.path.join(out, "stamp.json"), "w") as f:
        json.dump(stamp, f, indent=1, sort_keys=True)
    print(json.dumps({"stamp": stamp}, sort_keys=True))
    print(json.dumps({"correct": failed == 0, "attempted": attempted, "failed": failed,
                      "metrics": metrics}))


if __name__ == "__main__":
    main()
