"""GA pipeline benchmark: one workload, one seed, one result line.

    python3 perfbench/run.py --workload raw_to_enriched --seed 1 --seconds 15 --trace 0

Run from the repository root. The first run builds the engine and the
benchmark JVM with sbt (offline) into `.bench_build/`; later runs reuse the
build while the sources are unchanged. Each run generates its inputs from
the seed, starts one JVM (`perfbench.Main`) on local[nproc], and prints as
its last stdout line

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

with the end-to-end metrics (`--trace 0`) or the per-layer metrics
(`--trace 1`) that BENCHMARK.json names. The full record (environment,
samples, checks) goes to `.bench_build/records/`, the spans of a traced run
to `.bench_build/traces/`. Exits nonzero when a check fails, and without a
result when the repository is not there to build.
"""

import argparse
import ctypes
import hashlib
import json
import os
import shutil
import signal
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
sys.dont_write_bytecode = True  # leave no __pycache__ in the checkout
import gen  # noqa: E402

WORKLOADS = ["raw_to_enriched", "daily_export"]
HEAP = "3g"
JVM_TIMEOUT_S = 160
BUILD_TIMEOUT_S = 840

def fail(msg, code=2):
    print("perfbench: " + msg, file=sys.stderr)
    sys.exit(code)


def source_digest(root):
    """Hash of everything the build reads, so a changed tree rebuilds."""
    h = hashlib.sha256()
    tops = ["build.sbt", "project/build.properties", "src/main",
            "perfbench/build.sbt", "perfbench/project/build.properties", "perfbench/src"]
    for top in tops:
        p = os.path.join(root, top)
        if os.path.isfile(p):
            files = [p]
        else:
            files = sorted(os.path.join(d, f) for d, _, fs in os.walk(p) for f in fs)
        for f in files:
            h.update(os.path.relpath(f, root).encode())
            with open(f, "rb") as fh:
                h.update(fh.read())
    return h.hexdigest()


def build(root, build_dir):
    """Compiles engine + benchmark once per source tree; returns the launch
    file (classpath line, then JVM options)."""
    launch = os.path.join(build_dir, "launch.txt")
    stamp = os.path.join(build_dir, "build.stamp")
    digest = source_digest(root)
    if os.path.exists(launch) and os.path.exists(stamp) and open(stamp).read() == digest:
        return launch
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    opts = env.get("SBT_OPTS", "")
    if "sbt.offline" not in opts:
        opts += " -Dsbt.offline=true"
        repos = os.path.expanduser("~/.sbt/repositories")
        if os.path.exists(repos):
            opts += " -Dsbt.override.build.repos=true -Dsbt.repository.config=" + repos
    env["SBT_OPTS"] = (opts + " -Dsbt.server.autostart=false").strip()
    log_path = os.path.join(build_dir, "build.log")
    t0 = time.time()
    with open(log_path, "w") as log:
        try:
            r = subprocess.run(["sbt", "--batch", "-Dsbt.log.noformat=true", "writeLaunch"],
                               cwd=os.path.join(root, "perfbench"), env=env, stdout=log,
                               stderr=subprocess.STDOUT, timeout=BUILD_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            fail("build timed out; see " + log_path)
    if r.returncode != 0:
        fail("build failed; see " + log_path)
    shutil.copy(os.path.join(build_dir, "perfbench-target", "launch.txt"), launch)
    with open(stamp, "w") as f:
        f.write(digest)
    print("perfbench: built in %.0f s" % (time.time() - t0), file=sys.stderr)
    return launch


def die_with_parent():
    """Child-process hook: the kernel kills the JVM if this script dies."""
    ctypes.CDLL("libc.so.6", use_errno=True).prctl(1, signal.SIGKILL)  # PR_SET_PDEATHSIG


def run_jvm(launch, argv, work, log_path):
    with open(launch) as f:
        lines = [ln.strip() for ln in f if ln.strip()]
    java = os.path.join(os.environ["JAVA_HOME"], "bin", "java") \
        if os.environ.get("JAVA_HOME") else "java"
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    cmd = [java, "-Xmx" + HEAP, "-Djava.io.tmpdir=" + tmp] + lines[1:] + \
        ["-cp", lines[0], "perfbench.Main"] + argv
    spawn = time.time()
    with open(log_path, "w") as log:
        p = subprocess.Popen(cmd, stdout=subprocess.PIPE, stderr=log, text=True,
                             preexec_fn=die_with_parent)
        try:
            out, _ = p.communicate(timeout=JVM_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            fail("benchmark JVM timed out; see " + log_path, 3)
        finally:
            if p.poll() is None:
                p.kill()
                p.wait()
    result = None
    for line in out.splitlines():
        if line.startswith("{"):
            result = line
    if result is None:
        fail("benchmark JVM printed no result (exit %d); see %s" % (p.returncode, log_path), 3)
    return json.loads(result), spawn


def declared_metrics(root, trace):
    """(name, unit) of each metric BENCHMARK.json declares for this mode."""
    with open(os.path.join(root, "BENCHMARK.json")) as f:
        spec = json.load(f)
    return [(m["name"], m["unit"]) for m in spec["per_layer" if trace else "end_to_end"]]


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, default=10)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    a = ap.parse_args()
    # SIGTERM unwinds like an exception, so the JVM is stopped and awaited
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))

    root = os.getcwd()
    geo = os.path.join(root, "fixtures", "geo", "ip_ranges.csv")
    for need in ["build.sbt", "src/main/scala", "BENCHMARK.json", geo]:
        if not os.path.exists(os.path.join(root, need)):
            fail("run from the repository root: %s is missing" % need)
    build_dir = os.path.join(root, ".bench_build")
    os.makedirs(build_dir, exist_ok=True)
    launch = build(root, build_dir)
    declared = declared_metrics(root, a.trace)

    run_dir = os.path.join(build_dir, "run-%s-%d-%d" % (a.workload, a.seed, os.getpid()))
    shutil.rmtree(run_dir, ignore_errors=True)
    try:
        t0 = time.time()
        truth = gen.generate(a.workload, a.seed, os.path.join(run_dir, "data"), geo)
        gen_s = time.time() - t0
        stamp = time.strftime("%Y%m%dT%H%M%S")
        tag = "%s-seed%d-trace%d-%s" % (a.workload, a.seed, a.trace, stamp)
        res, spawn = run_jvm(launch, [
            "--workload", a.workload, "--data", os.path.join(run_dir, "data"),
            "--work", os.path.join(run_dir, "work"), "--seconds", str(a.seconds),
            "--trace", str(a.trace), "--seed", str(a.seed), "--cores", str(nproc()),
            "--geo", geo, "--trace-out", os.path.join(build_dir, "traces", tag + ".jsonl"),
        ], os.path.join(run_dir, "work"), os.path.join(run_dir, "jvm.log"))
        if not res["correct"]:
            with open(os.path.join(run_dir, "jvm.log")) as f:
                sys.stderr.write(f.read()[-4000:])
    finally:
        keep = os.path.join(build_dir, "last-jvm.log")
        if os.path.exists(os.path.join(run_dir, "jvm.log")):
            shutil.copy(os.path.join(run_dir, "jvm.log"), keep)
        shutil.rmtree(run_dir, ignore_errors=True)

    jvm_start = res["jvm_start_epoch_ms"] / 1000.0
    values = dict(res["metrics"])
    if a.trace:
        values["run.failed_ratio"] = res["failed"] / max(1, res["attempted"])
    else:
        values["setup_s"] = gen_s + (jvm_start - spawn) + res["setup_jvm_s"]
        values["peak_rss_mb"] = res["peak_rss_mb"]
    missing = [n for n, _ in declared if n not in values]
    if missing:
        fail("metrics missing from the run: " + ", ".join(missing), 4)
    metrics = {n: {"value": values[n], "unit": u} for n, u in declared}

    env = {"nproc": nproc(), "heap": HEAP, "java": res["env"]["java_version"],
           "spark": res["env"]["spark_version"], "heap_max_mb": res["env"]["heap_max_mb"],
           "seed": a.seed, "seconds": a.seconds, "workload": a.workload, "trace": a.trace,
           "setup_gen_s": gen_s,
           "inputs": {k: v for k, v in truth.items()
                      if k in ("records", "hits", "history_rows", "visitors")}}
    record = {"env": env, "metrics": metrics, "attempted": res["attempted"],
              "failed": res["failed"], "correct": res["correct"], "checks": res["checks"],
              "samples": res["samples"]}
    os.makedirs(os.path.join(build_dir, "records"), exist_ok=True)
    with open(os.path.join(build_dir, "records", tag + ".json"), "w") as f:
        json.dump(record, f, indent=1)
    print("perfbench: gen %.1f s, jvm start %.1f s, run %.1f s" % (
        gen_s, jvm_start - spawn, time.time() - t0), file=sys.stderr)
    print(json.dumps({"env": env}))
    print(json.dumps({"correct": res["correct"], "attempted": res["attempted"],
                      "failed": res["failed"], "metrics": metrics}))
    sys.exit(0 if res["correct"] and res["failed"] == 0 else 1)


def nproc():
    return len(os.sched_getaffinity(0))


if __name__ == "__main__":
    main()
