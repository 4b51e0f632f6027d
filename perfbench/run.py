#!/usr/bin/env python3
"""Run one benchmark workload and print its result.

    python3 perfbench/run.py --workload siem_tick --seed 1 --seconds 20 --trace 0

Builds the engine and the benchmark program when their sources changed
(perfbench/build.py), starts one JVM with a `GraftSession` at
local[nproc], and prints the workload's figures, one per line, then as
the last line one JSON object: {"correct", "attempted", "failed",
"metrics"}. With --trace 0 the metrics are the end-to-end metrics of
BENCHMARK.json, with --trace 1 its per-layer metrics. Layers a workload
does not call read 0.

Every file the run writes stays under .bench_build/ in the repository
root: the build, the Spark scratch space, spans (trace runs) and one
receipt per run. A traced run reports its tracing overhead as its own
end-to-end figures minus the median of the untraced receipts of the same
workload and the same sources found there.
"""
import argparse
import glob
import json
import os
import shutil
import statistics
import subprocess
import sys
import time

BENCH_DIR = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(BENCH_DIR)
sys.dont_write_bytecode = True
sys.path.insert(0, BENCH_DIR)
import build  # noqa: E402

WORKLOADS = ("siem_tick", "corpus_stream")
TIMEOUT_S = 170
HEAP = "3g"
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def fail(msg, code=1):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(code)


def spec():
    path = os.path.join(ROOT, "BENCHMARK.json")
    if not os.path.exists(path):
        fail("BENCHMARK.json not found at the repository root", 2)
    with open(path) as fh:
        return json.load(fh)


def run_jvm(args, classes, jars, work, t0_ms, deadline):
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    env = dict(os.environ, SPARK_LOCAL_DIRS=tmp)
    cmd = (["java", f"-Xms{HEAP}", f"-Xmx{HEAP}", "-XX:+AlwaysPreTouch", "-XX:-UsePerfData",
            f"-Djava.io.tmpdir={tmp}",
            "-Duser.timezone=UTC", "-Dspark.ui.enabled=false",
            "-Dspark.sql.session.timeZone=UTC", f"-Dderby.system.home={tmp}"]
           + [x for p in ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
           + ["-cp", classes + os.pathsep + os.path.join(jars, "*"), "perfbench.Main",
              "--workload", args.workload, "--seed", str(args.seed),
              "--seconds", str(args.seconds), "--trace", str(args.trace),
              "--work", os.path.join(work, "data"), "--t0-ms", str(t0_ms)])
    log = os.path.join(work, "jvm.log")
    with open(log, "w") as err:
        proc = subprocess.Popen(cmd, cwd=work, env=env, stdout=subprocess.PIPE,
                                stderr=err, text=True)
        try:
            out, _ = proc.communicate(timeout=max(1.0, deadline - time.time()))
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
            fail(f"run exceeded its time limit; log in {log}")
    if proc.returncode != 0:
        with open(log) as fh:
            sys.stderr.write("".join(fh.readlines()[-40:]))
        fail(f"JVM exited with {proc.returncode}; log in {log}")
    return out


def parse(out):
    res = {"e2e": {}, "named": {}, "info": {}, "layer": {}}
    notes, env, counts = [], {}, None
    for line in out.splitlines():
        parts = line.split(" ")
        if parts[0] == "RESULT" and len(parts) == 5:
            res[parts[1]][parts[2]] = (float(parts[3]), parts[4])
        elif parts[0] == "NOTE":
            notes.append(line[5:])
        elif parts[0] == "ENV" and len(parts) >= 3:
            env[parts[1]] = " ".join(parts[2:])
        elif parts[0] == "COUNTS":
            counts = (int(parts[1]), int(parts[2]))
    if counts is None:
        fail("benchmark program printed no result")
    return res, notes, env, counts


def untraced_median(receipts_dir, metric, source_stamp):
    """Median of `metric` over the untraced receipts of the same sources."""
    vals = []
    for f in glob.glob(os.path.join(receipts_dir, "*-trace0.json")):
        with open(f) as fh:
            r = json.load(fh)
        m = r["e2e"].get(metric)
        if m is not None and r["env"].get("source_stamp") == source_stamp:
            vals.append(m[0])
    return statistics.median(vals) if vals else None


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    started = time.time()
    bench = spec()
    classes, jars, digest = build.build()
    # set-up time starts here, after any build
    t0_ms = int(time.time() * 1000)
    deadline = time.time() + TIMEOUT_S
    work = os.path.join(build.build_dir(), "run", args.workload)
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    out = run_jvm(args, classes, jars, work, t0_ms, deadline)
    res, notes, env, (attempted, failed) = parse(out)

    receipts = os.path.join(build.build_dir(), "receipts", args.workload)
    os.makedirs(receipts, exist_ok=True)
    git = "unknown"
    if shutil.which("git"):
        r = subprocess.run(["git", "-C", ROOT, "rev-parse", "HEAD"], capture_output=True, text=True)
        if r.returncode == 0:
            git = r.stdout.strip()
    env.update({"git_commit": git, "source_stamp": digest[:16],
                "wall_s": f"{time.time() - started:.1f}"})

    if args.trace:
        for m in bench["end_to_end"]:
            base = untraced_median(receipts, m["name"], env["source_stamp"])
            got = res["e2e"].get(m["name"])
            name = f"trace.overhead_{m['name']}"
            if base is None or got is None:
                notes.append(f"{name}: no untraced receipt of this workload and these sources yet; reads 0")
                res["layer"][name] = (0.0, m["unit"])
            else:
                res["layer"][name] = (got[0] - base, m["unit"])

    stamp = f"{args.seed}-{int(started * 1000)}-trace{args.trace}"
    with open(os.path.join(receipts, stamp + ".json"), "w") as fh:
        json.dump({"workload": args.workload, "seed": args.seed, "env": env,
                   "attempted": attempted, "failed": failed, "notes": notes,
                   "e2e": res["e2e"], "named": res["named"], "info": res["info"],
                   "layer": res["layer"]}, fh, indent=1)

    for k, v in env.items():
        print(f"env {k}: {v}")
    for n in notes:
        print(f"note: {n}")
    for kind in ("named", "info", "e2e", "layer"):
        for name, (v, u) in res[kind].items():
            print(f"{kind:5s} {name} = {v:.6g} {u}")

    if args.trace:
        wanted, have = bench["per_layer"], res["layer"]
    else:
        wanted, have = bench["end_to_end"], res["e2e"]
    metrics = {}
    for m in wanted:
        if m["name"] in have:
            metrics[m["name"]] = {"value": have[m["name"]][0], "unit": m["unit"]}
        elif args.trace:
            metrics[m["name"]] = {"value": 0.0, "unit": m["unit"]}
        else:
            fail(f"end-to-end metric {m['name']} was not measured")
    # a check that found a wrong output makes the run incorrect; an
    # operation the engine refused with an error only counts as failed
    correct = not any(n.startswith("wrong:") for n in notes)
    print(json.dumps({"correct": correct, "attempted": attempted, "failed": failed,
                      "metrics": metrics}))


if __name__ == "__main__":
    main()
