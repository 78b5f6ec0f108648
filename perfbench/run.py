#!/usr/bin/env python3
"""Workload benchmark for the pipe engine.

Builds the engine and the benchmark program from source (sbt, offline), runs
one workload in a fresh JVM on Spark local[N], and prints two JSON lines:
the full report (every metric with its unit and sample count, sizes,
environment, failures) and, last, the result line

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

whose metrics are the end-to-end ones (--trace 0) or the per-layer ones
(--trace 1). A traced run first repeats the workload untraced with the same
seed and reports both runs' end-to-end metrics and their difference, the
tracing overhead; each of the two measures half of --seconds, so the pair
fits the time one run may take. Its spans go to perfbench/out/.

    python3 perfbench/run.py --workload stream_sync --seed 1 --seconds 15 --trace 0
    python3 perfbench/run.py --workload dedup_index --seed 1 --seconds 15 --repeat 5

--repeat K is the steadiness mode: K runs with seeds seed..seed+K-1, then
the median, quartiles and (Q3 - Q1) / median of every end-to-end metric.
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

BENCH = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(BENCH)
BUILD = os.path.join(BENCH, "build")
WORK = os.path.join(BENCH, "work")
OUT = os.path.join(BENCH, "out")
CONFIG = os.path.join(ROOT, "BENCHMARK.json")

WORKLOADS = ["stream_sync", "dedup_index"]
BUILD_TIMEOUT_S = 840
RUN_TIMEOUT_S = 170
HEAP = "2g"

# Spark 4 on JDK 17 outside spark-submit needs these module openings.
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def fail(msg, code=2):
    log(msg)
    sys.exit(code)


def source_stamp():
    """Digest of every input of the build: engine and benchmark sources."""
    h = hashlib.sha256()
    roots = [os.path.join(ROOT, "src", "main"), os.path.join(BENCH, "src")]
    files = [os.path.join(ROOT, "build.sbt"), os.path.join(ROOT, "project", "build.properties"),
             os.path.join(BENCH, "build.sbt"), os.path.join(BENCH, "project", "build.properties")]
    for r in roots:
        for d, _, names in os.walk(r):
            files += [os.path.join(d, n) for n in names]
    for f in sorted(files):
        if os.path.isfile(f):
            h.update(os.path.relpath(f, ROOT).encode())
            with open(f, "rb") as fh:
                h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()


def build():
    """Compile engine + benchmark once per source state; returns the classpath."""
    if not (os.path.isfile(os.path.join(ROOT, "build.sbt"))
            and os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft"))):
        fail("the engine sources (build.sbt, src/main/scala/graft) are not next to perfbench/")
    stamp = source_stamp()
    stamp_file = os.path.join(BUILD, "stamp")
    cp_file = os.path.join(BUILD, "classpath")
    if os.path.isfile(stamp_file) and os.path.isfile(cp_file):
        with open(stamp_file) as f:
            if f.read().strip() == stamp:
                with open(cp_file) as g:
                    return g.read().strip(), stamp
    os.makedirs(BUILD, exist_ok=True)
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    env.setdefault("SBT_OPTS", "-Dsbt.override.build.repos=true -Dsbt.offline=true -Xmx2g")
    log("building engine and benchmark (sbt, first run only)")
    t0 = time.time()
    with open(os.path.join(BUILD, "build.log"), "w") as logf:
        try:
            p = subprocess.run(
                ["sbt", "--batch", "-Dsbt.log.noformat=true", "-Dsbt.server.forcestart=false",
                 "perfbench/compile", "export perfbench/Runtime/fullClasspath"],
                cwd=BENCH, env=env, stdout=subprocess.PIPE, stderr=logf,
                stdin=subprocess.DEVNULL, text=True, timeout=BUILD_TIMEOUT_S)
        except (OSError, subprocess.TimeoutExpired) as e:
            fail(f"build failed: {e}")
        logf.write(p.stdout)
    cp = [l.strip() for l in p.stdout.splitlines()
          if l.strip().endswith(".jar") and os.pathsep in l and not l.startswith("[")]
    if p.returncode != 0 or not cp:
        tail = p.stdout.splitlines()[-15:]
        fail("build failed:\n" + "\n".join(tail))
    with open(cp_file, "w") as f:
        f.write(cp[-1])
    with open(stamp_file, "w") as f:
        f.write(stamp)
    log(f"built in {time.time() - t0:.0f} s")
    return cp[-1], stamp


def commit_id(stamp):
    rev = "nogit"
    if os.path.isdir(os.path.join(ROOT, ".git")) and shutil.which("git"):
        r = subprocess.run(["git", "-C", ROOT, "rev-parse", "--short=12", "HEAD"],
                           capture_output=True, text=True)
        if r.returncode == 0:
            rev = r.stdout.strip()
    return f"{rev}+src:{stamp[:12]}"


def run_jvm(cp, commit, workload, seed, seconds, trace, timeout):
    """One workload run in a fresh JVM; returns its report."""
    tag = f"{workload}-s{seed}-t{trace}-{os.getpid()}"
    work = os.path.join(WORK, tag)
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    cmd = ["java", f"-Xmx{HEAP}", f"-Xms{HEAP}", f"-Djava.io.tmpdir={work}/tmp",
           "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC"]
    for m in ADD_OPENS:
        cmd += ["--add-opens", f"{m}=ALL-UNNAMED"]
    cmd += ["-cp", cp, "perfbench.Main", "--workload", workload, "--seed", str(seed),
            "--seconds", str(seconds), "--trace", str(trace), "--work", work,
            "--commit", commit]
    if trace:
        cmd += ["--spans", os.path.join(OUT, f"spans-{workload}-seed{seed}.jsonl")]
    log_path = os.path.join(WORK, f"{tag}.log")
    try:
        with open(log_path, "w") as logf:
            p = subprocess.run(cmd, cwd=ROOT, stdout=subprocess.PIPE, stderr=logf,
                               stdin=subprocess.DEVNULL, text=True, timeout=timeout)
        lines = [l for l in p.stdout.splitlines() if l.startswith("{")]
        if p.returncode != 0 or not lines:
            with open(log_path) as f:
                tail = f.read().splitlines()[-25:]
            fail(f"{workload} run failed (exit {p.returncode}):\n" + "\n".join(tail), 1)
        os.remove(log_path)
        return json.loads(lines[-1])
    except subprocess.TimeoutExpired:
        fail(f"{workload} run exceeded {timeout} s", 1)
    finally:
        shutil.rmtree(work, ignore_errors=True)


def pick(report, names):
    return {n: {"value": report[n]["value"], "unit": report[n]["unit"]} for n in names}


def single(args, cp, commit, config):
    e2e_names = [m["name"] for m in config["end_to_end"]]
    layer_names = [m["name"] for m in config["per_layer"]]
    if not args.trace:
        rep = run_jvm(cp, commit, args.workload, args.seed, args.seconds, 0, RUN_TIMEOUT_S)
        print(json.dumps(rep), flush=True)
        return {"correct": rep["correct"], "attempted": rep["attempted"],
                "failed": rep["failed"], "metrics": pick(rep["metrics"], e2e_names)}
    t0 = time.time()
    half = args.seconds / 2
    base = run_jvm(cp, commit, args.workload, args.seed, half, 0, RUN_TIMEOUT_S // 2)
    rep = run_jvm(cp, commit, args.workload, args.seed, half, 1,
                  max(30, int(RUN_TIMEOUT_S - (time.time() - t0))))
    rep["untraced"] = {"correct": base["correct"], "e2e": base["e2e"]}
    rep["tracing_overhead"] = {
        k: {"untraced": base["e2e"][k]["value"], "traced": v["value"],
            "diff": v["value"] - base["e2e"][k]["value"],
            "ratio": (v["value"] / base["e2e"][k]["value"]) if base["e2e"][k]["value"] else None}
        for k, v in rep["e2e"].items() if k in base["e2e"]}
    print(json.dumps(rep), flush=True)
    log("self time per op by layer (ms): " + ", ".join(
        f"{k} {v:.1f}" for k, v in sorted(rep["self_ms_per_op"].items(), key=lambda kv: -kv[1])))
    return {"correct": rep["correct"] and base["correct"], "attempted": rep["attempted"],
            "failed": rep["failed"], "metrics": {n: rep["layers"][n] for n in layer_names}}


def steadiness(args, cp, commit, config):
    names = [m["name"] for m in config["end_to_end"]]
    values = {n: [] for n in names}
    named = {}
    runs = []
    for i in range(args.repeat):
        seed = args.seed + i
        rep = run_jvm(cp, commit, args.workload, seed, args.seconds, 0, RUN_TIMEOUT_S)
        for n in names:
            values[n].append(rep["metrics"][n]["value"])
        for k, v in rep["e2e"].items():
            named.setdefault(k, []).append(v["value"])
        runs.append({"seed": seed, "correct": rep["correct"],
                     "steal_share": rep["env"]["steal_share"], "op_ms": rep["op_ms"]})
        log(f"seed {seed}: correct={rep['correct']} " +
            " ".join(f"{n}={rep['metrics'][n]['value']:.4g}" for n in names) +
            f" steal={rep['env']['steal_share']:.3f}")
    def summary(vs):
        q1, med, q3 = statistics.quantiles(vs, n=4)
        return {"median": med, "q1": q1, "q3": q3,
                "spread": (q3 - q1) / med if med else None, "values": vs}
    out = {"workload": args.workload, "seeds": [args.seed, args.seed + args.repeat - 1],
           "seconds": args.seconds,
           "metrics": {n: summary(v) for n, v in values.items()},
           "e2e": {k: summary(v) for k, v in named.items()}, "runs": runs}
    os.makedirs(OUT, exist_ok=True)
    with open(os.path.join(OUT, f"steady-{args.workload}.json"), "w") as f:
        json.dump(out, f, indent=1)
    for n, s in out["metrics"].items():
        log(f"{n:22s} median {s['median']:.4g}  q1 {s['q1']:.4g}  q3 {s['q3']:.4g}  "
            f"spread {s['spread']:.3f}")
    print(json.dumps(out))


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--repeat", type=int, default=0)
    args = ap.parse_args()
    if not os.path.isfile(CONFIG):
        fail("BENCHMARK.json is missing")
    with open(CONFIG) as f:
        config = json.load(f)
    cp, stamp = build()
    commit = commit_id(stamp)
    os.makedirs(OUT, exist_ok=True)
    if args.repeat:
        steadiness(args, cp, commit, config)
        return
    print(json.dumps(single(args, cp, commit, config)), flush=True)


if __name__ == "__main__":
    main()
