#!/usr/bin/env python3
"""Run one benchmark workload against the program in this checkout.

Usage (from the repository root):
  python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Builds the program and the harness if needed (perfbench/build.py), runs the
workload in one JVM, and prints as the last line of stdout one JSON object
{"correct", "attempted", "failed", "metrics"}: the end-to-end metrics of
BENCHMARK.json with --trace 0, its per-layer metrics with --trace 1. Exits
non-zero when any output is wrong or the run fails.
"""
import argparse
import json
import os
import shutil
import signal
import subprocess
import sys
import time

sys.dont_write_bytecode = True
sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import build  # noqa: E402

ROOT = os.getcwd()
HERE = os.path.dirname(os.path.abspath(__file__))
WORKLOADS = ("cdc_hot_late", "llm_curation")
# Seconds the JVMs of one run may take together after the build; a run that
# has not finished by then is killed and fails, so the command ends within
# its 180 s limit.
RUN_BUDGET_S = 170
# The CDC run stops the JIT at C1: with C2 its 15-s tail spent about a
# minute of CPU compiling on 4 cores next to the Spark task threads, and its
# latency spread 15-25% from run to run (10% with C1). The llm passes are
# compute-bound; C1 made them slower and no steadier.
JIT = {"cdc_hot_late": ["-XX:TieredStopAtLevel=1"], "llm_curation": []}
JAVA_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar"]


def fail(msg):
    sys.stderr.write(f"perfbench: {msg}\n")
    sys.exit(2)


def run_jvm(cp, workload, seed, seconds, trace, work, cpus, deadline, extra=()):
    """Run the harness; return its parsed result line, or None."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    cmd = [build.java(), "-Xmx3g", "-Xss8m", "-XX:ReservedCodeCacheSize=512m", *JIT[workload],
           "-XX:-UsePerfData", f"-Djava.io.tmpdir={tmp}", "-Dspark.ui.enabled=false",
           "-Dspark.sql.session.timeZone=UTC", f"-Dspark.local.dir={tmp}",
           f"-Dspark.hadoop.hadoop.tmp.dir={tmp}"]
    for p in JAVA_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    cmd += ["-cp", os.pathsep.join(cp), "perfbench.Main",
            "--workload", workload, "--seed", str(seed), "--seconds", str(seconds),
            "--trace", "1" if trace else "0", "--dir", work,
            "--data", os.path.join(HERE, "data", "llm"), *extra]
    env = dict(os.environ, SPARK_GRAFT_CPUS=str(cpus), SPARK_LOCAL_DIRS=tmp)
    proc = subprocess.Popen(cmd, stdout=subprocess.PIPE, stderr=subprocess.PIPE, text=True,
                            env=env, cwd=work, start_new_session=True)
    try:
        out, err = proc.communicate(timeout=max(1.0, deadline - time.time()))
    except subprocess.TimeoutExpired:
        os.killpg(proc.pid, signal.SIGKILL)
        proc.communicate()
        sys.stderr.write("perfbench: workload timed out\n")
        return None
    for line in err.splitlines():
        if line.startswith("[perfbench]") or "Exception" in line or "Error" in line:
            sys.stderr.write(line + "\n")
    lines = [l for l in out.splitlines() if l.startswith("{")]
    if proc.returncode != 0 or not lines:
        sys.stderr.write(err[-3000:])
        return None
    return json.loads(lines[-1])


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    spec_file = os.path.join(ROOT, "BENCHMARK.json")
    if not os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft")):
        fail("run from the root of a checkout of the program (src/main/scala/graft is missing)")
    spec = json.load(open(spec_file))
    cp = build.build()

    cpus = max(1, min(4, os.cpu_count() or 1))
    work = os.path.join(build.BUILD, "work", f"{args.workload}-{args.seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    t0 = time.time()
    deadline = t0 + RUN_BUDGET_S
    try:
        res = run_jvm(cp, args.workload, args.seed, args.seconds, args.trace, work, cpus,
                      deadline)
        if res is None:
            fail("workload run failed")
        got = res["metrics"]
        if args.trace:
            # The end-to-end figures of a traced run, against the untraced
            # medians, give the overhead of tracing.
            for m in spec["end_to_end"]:
                if m["name"] in got:
                    got["traced." + m["name"]] = got.pop(m["name"])
        if args.trace and args.workload == "cdc_hot_late":
            # The single-thread baseline of the same full load.
            base = run_jvm(cp, args.workload, args.seed, args.seconds, False,
                           os.path.join(work, "local1"), 1, deadline, ["--load-only", "1"])
            if base is None:
                fail("single-thread baseline run failed")
            got["baseline.load_eps_local1"] = base["metrics"]["load_eps"]
    finally:
        spans = os.path.join(work, "spans.jsonl")
        if os.path.exists(spans):
            traces = os.path.join(build.BUILD, "traces")
            os.makedirs(traces, exist_ok=True)
            shutil.move(spans, os.path.join(traces, f"{args.workload}-{args.seed}.jsonl"))
        shutil.rmtree(work, ignore_errors=True)

    wanted = spec["per_layer"] if args.trace else spec["end_to_end"]
    metrics = {}
    for m in wanted:
        if m["name"] in got:
            metrics[m["name"]] = {"value": got[m["name"]]["value"], "unit": m["unit"]}
        elif args.trace:
            # A layer this workload does not exercise did no work.
            metrics[m["name"]] = {"value": 0, "unit": m["unit"]}
        else:
            fail(f"metric {m['name']} missing from the {args.workload} result")
    extra = sorted(set(got) - {m["name"] for m in wanted})
    if extra:
        sys.stderr.write("perfbench: also measured " + ", ".join(
            f"{k}={got[k]['value']}" for k in extra) + "\n")
    sys.stderr.write(f"perfbench: {args.workload} took {time.time() - t0:.1f} s\n")
    print(json.dumps({"correct": bool(res["correct"]), "attempted": int(res["attempted"]),
                      "failed": int(res["failed"]), "metrics": metrics}))
    sys.exit(0 if res["correct"] else 1)


if __name__ == "__main__":
    main()
