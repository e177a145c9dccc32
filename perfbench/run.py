#!/usr/bin/env python3
"""Benchmark of the twin service: one workload, one run, one JSON result line.

Usage, from the root of a checkout:

    python3 perfbench/run.py --workload serve_write --seed 1 --seconds 8 --trace 0

The first run in a checkout compiles the program with the benchmark (sbt,
offline) and generates the input tables (GenData, sf 0.1, data seed 42);
both are cached under perfbench/.cache and redone only when their sources
change. Each run then starts one JVM that runs the workload on
local[nproc] and prints its outcome. The last line of stdout is

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

with every end_to_end metric of BENCHMARK.json when --trace 0, and every
per_layer metric when --trace 1 (0 where the workload does not use the
layer). Earlier lines carry the workload's own figures, the host context,
and, for a traced run, the tracing overhead.
"""
import argparse
import hashlib
import json
import os
import shutil
import signal
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
CACHE = os.path.join(HERE, ".cache")
PROGRAM_SRC = os.path.join(ROOT, "src", "main")
DATA_SF = "0.1"
DATA_SEED = "42"
JVM_TIMEOUT_S = 170
# workloads of the benchmark that BENCHMARK.json leaves out for time
BY_HAND = ["serve_read", "analytics"]
BUILD_TIMEOUT_S = 800

ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def tree_hash(*roots):
    """Hash of every file's path and bytes under the given files or dirs."""
    h = hashlib.sha256()
    for root in roots:
        paths = [root] if os.path.isfile(root) else sorted(
            os.path.join(d, f) for d, _, fs in os.walk(root) for f in fs)
        for p in paths:
            h.update(os.path.relpath(p, ROOT).encode())
            with open(p, "rb") as f:
                h.update(f.read())
    return h.hexdigest()


def run_bounded(cmd, timeout, **kw):
    """Run cmd in its own process group; kill the group on timeout."""
    proc = subprocess.Popen(cmd, start_new_session=True, **kw)
    try:
        out, _ = proc.communicate(timeout=timeout)
    except subprocess.TimeoutExpired:
        os.killpg(proc.pid, signal.SIGKILL)
        proc.communicate()
        fail(f"{cmd[0]} did not finish within {timeout} s")
    return proc.returncode, out


def build():
    """Compile program + benchmark; return the runtime classpath."""
    stamp = tree_hash(PROGRAM_SRC, os.path.join(HERE, "src", "main"),
                      os.path.join(HERE, "build.sbt"),
                      os.path.join(HERE, "project", "build.properties"))
    cp_file = os.path.join(CACHE, "classpath.txt")
    stamp_file = os.path.join(CACHE, "build.stamp")
    if os.path.exists(stamp_file) and open(stamp_file).read() == stamp:
        return open(cp_file).read().strip()
    env = dict(os.environ, COURSIER_MODE="offline")
    submit = shutil.which("spark-submit")
    if "SPARK_HOME" not in env and submit:
        env["SPARK_HOME"] = os.path.dirname(os.path.dirname(
            os.path.realpath(submit)))
    repos = os.path.expanduser("~/.sbt/repositories")
    opts = ["-Dsbt.offline=true", "-Dsbt.server.autostart=false", "-Xmx2g"]
    if os.path.exists(repos):
        opts += ["-Dsbt.override.build.repos=true",
                 f"-Dsbt.repository.config={repos}"]
    env["SBT_OPTS"] = " ".join(opts)
    print("perfbench: building", file=sys.stderr)
    code, out = run_bounded(
        ["sbt", "--batch", "-Dsbt.log.noformat=true", "compile",
         "Compile/copyResources", "export Runtime/fullClasspath"],
        BUILD_TIMEOUT_S, cwd=HERE, env=env, stdout=subprocess.PIPE,
        stdin=subprocess.DEVNULL, text=True)
    lines = [l for l in out.splitlines() if l.strip()]
    if code != 0 or not lines:
        sys.stderr.write(out[-4000:])
        fail("build failed")
    os.makedirs(CACHE, exist_ok=True)
    with open(cp_file, "w") as f:
        f.write(lines[-1].strip())
    with open(stamp_file, "w") as f:
        f.write(stamp)
    return lines[-1].strip()


def java_cmd(cp, tmp, main, args):
    opens = [a for p in ADD_OPENS for a in ("--add-opens", f"{p}=ALL-UNNAMED")]
    return (["java"] + opens +
            ["-Xmx4g", "-Dfile.encoding=UTF-8", f"-Djava.io.tmpdir={tmp}",
             "-cp", cp, main] + args)


def scratch(name):
    d = os.path.join(CACHE, "work", name)
    shutil.rmtree(d, ignore_errors=True)
    os.makedirs(os.path.join(d, "tmp"))
    return d


def spark_env(work):
    return dict(os.environ, SPARK_LOCAL_DIRS=os.path.join(work, "spark-local"),
                SPARK_GRAFT_CPUS=str(os.cpu_count() or 1))


def gen_data(cp):
    """Generate the input tables once per generator version."""
    gen_src = os.path.join(PROGRAM_SRC, "scala", "graft", "tools",
                           "GenData.scala")
    stamp = tree_hash(gen_src) + DATA_SF + DATA_SEED
    data = os.path.join(CACHE, "data")
    stamp_file = os.path.join(CACHE, "data.stamp")
    if os.path.exists(stamp_file) and open(stamp_file).read() == stamp:
        return data
    shutil.rmtree(data, ignore_errors=True)
    work = scratch("gendata")
    print("perfbench: generating input tables", file=sys.stderr)
    code, _ = run_bounded(
        java_cmd(cp, os.path.join(work, "tmp"), "graft.tools.GenData",
                 [data, DATA_SF, DATA_SEED]),
        BUILD_TIMEOUT_S, env=spark_env(work), stdout=sys.stderr,
        stdin=subprocess.DEVNULL)
    shutil.rmtree(work, ignore_errors=True)
    if code != 0:
        fail("input generation failed")
    with open(stamp_file, "w") as f:
        f.write(stamp)
    return data


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()

    spec_path = os.path.join(ROOT, "BENCHMARK.json")
    if not os.path.exists(spec_path):
        fail("BENCHMARK.json not found at the checkout root")
    spec = json.load(open(spec_path))
    if a.workload not in [w["name"] for w in spec["workloads"]] + BY_HAND:
        fail(f"unknown workload {a.workload}")
    if not os.path.isdir(os.path.join(PROGRAM_SRC, "scala", "graft")):
        fail("program sources (src/main/scala/graft) not found; "
             "run from the root of a checkout")
    if shutil.which("sbt") is None or shutil.which("java") is None:
        fail("sbt and java are needed")

    cp = build()
    data = gen_data(cp)

    name = f"{a.workload}-s{a.seed}-t{a.trace}"
    work = scratch(name)
    out_dir = os.path.join(CACHE, "runs", name)
    os.makedirs(out_dir, exist_ok=True)
    args = ["--workload", a.workload, "--seed", str(a.seed),
            "--seconds", str(a.seconds), "--trace", str(a.trace),
            "--data", data, "--work", work, "--out", out_dir]
    code, out = run_bounded(
        java_cmd(cp, os.path.join(work, "tmp"), "perfbench.Main", args),
        JVM_TIMEOUT_S, env=spark_env(work), stdout=subprocess.PIPE,
        stdin=subprocess.DEVNULL, text=True)
    shutil.rmtree(work, ignore_errors=True)
    lines = [l for l in out.splitlines() if l.startswith("{")]
    if code != 0 or not lines:
        fail(f"workload JVM exited {code} without a result")
    r = json.loads(lines[-1])

    if a.trace == 0:
        want, got = spec["end_to_end"], r["e2e"]
    else:
        want, got = spec["per_layer"], r["layer"]
    metrics = {}
    correct = bool(r["correct"])
    for m in want:
        v = got.get(m["name"])
        if v is None and a.trace == 0:
            correct = False
            r["failures"].append(f"metric {m['name']} not measured")
            continue
        metrics[m["name"]] = {"value": v["value"] if v else 0.0,
                              "unit": m["unit"]}

    detail = dict(r["e2e"], **r["detail"])
    print(json.dumps({"workload": a.workload, "detail": detail}))
    print(json.dumps({"host": r["host"]}))
    if r["failures"]:
        print(json.dumps({"failures": r["failures"]}))
    listed = {m["name"] for m in spec["per_layer"]}
    extra = {k: v for k, v in r["layer"].items() if k not in listed}
    if extra:
        print(json.dumps({"layer_not_in_benchmark_json": extra}))
    untraced = os.path.join(CACHE, "runs", f"{a.workload}-s{a.seed}-t0",
                            "result.json")
    if a.trace == 1 and os.path.exists(untraced):
        base = json.loads(open(untraced).read())["e2e"]
        print(json.dumps({"trace_overhead_vs_untraced": {
            k: {"untraced": base[k]["value"], "traced": v["value"],
                "unit": v["unit"]}
            for k, v in r["e2e"].items() if k in base}}))
    print(json.dumps({"correct": correct, "attempted": int(r["attempted"]),
                      "failed": int(r["failed"]), "metrics": metrics}))


if __name__ == "__main__":
    main()
