#!/usr/bin/env python3
"""Run one benchmark workload against the engine in this checkout.

    python3 perfbench/run.py --workload export|curate|lakehouse \
        --seed N --seconds S --trace 0|1

Builds the engine with its own sbt build and the harness in
perfbench/harness (once per source change), runs the harness under
spark-submit on local[nproc], and prints as its last stdout line one JSON
object: {"correct", "attempted", "failed", "metrics"}. With --trace 0 the
metrics are the end-to-end ones; with --trace 1 the per-layer ones, from a
run in which every other operation is traced.

Everything the run writes stays under .perfbench/ in the checkout; the full
record of each run (stamp, raw operations, spans when traced, every metric)
is kept in .perfbench/results/. Build and Spark logs go to stderr.
"""

import argparse
import fcntl
import glob
import hashlib
import json
import os
import shutil
import signal
import subprocess
import sys
import time

import stats

BENCH_DIR = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(BENCH_DIR)
HARNESS = os.path.join(BENCH_DIR, "harness")
STATE = os.path.join(ROOT, ".perfbench")
WORKLOADS = ("export", "curate", "lakehouse")
DRIVER_MEMORY = "3g"
# A fixed heap and young generation: with the collector's adaptive sizing
# the process' peak resident set varies by a third between identical runs.
JVM_OPTIONS = "-Xms3g -XX:NewSize=768m -XX:MaxNewSize=768m -XX:-UsePerfData"
RUN_TIMEOUT_S = 170


def log(msg):
    print("[perfbench] " + msg, file=sys.stderr, flush=True)


def fail(msg, code=2):
    log(msg)
    sys.exit(code)


def source_files():
    """Every file the two builds read, in a fixed order."""
    files = [os.path.join(ROOT, "build.sbt")]
    for pattern in ("project/*.sbt", "project/*.properties",
                    "project/*.scala", "src/main/**/*"):
        files += glob.glob(os.path.join(ROOT, pattern), recursive=True)
    for pattern in ("build.sbt", "project/*.properties", "src/main/**/*"):
        files += glob.glob(os.path.join(HARNESS, pattern), recursive=True)
    return sorted(f for f in files if os.path.isfile(f))


def source_hash():
    h = hashlib.sha256()
    for f in source_files():
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()


def sbt(cwd, env):
    cmd = ["sbt", "--batch", "-Dsbt.server.autostart=false",
           "-Dsbt.log.noformat=true", "package"]
    log("building in %s" % os.path.relpath(cwd, ROOT) if cwd != ROOT else
        "building the engine")
    r = subprocess.run(cmd, cwd=cwd, env=env, stdout=sys.stderr,
                       stderr=sys.stderr, stdin=subprocess.DEVNULL)
    if r.returncode != 0:
        fail("sbt package failed in %s" % cwd)


def jar_in(base):
    jars = [j for j in glob.glob(os.path.join(base, "target", "scala-*", "*.jar"))
            if not j.endswith(("-sources.jar", "-javadoc.jar", "-tests.jar"))]
    if not jars:
        fail("no jar under %s/target" % base)
    return max(jars, key=os.path.getmtime)


def build(env):
    """Build engine and harness unless their sources are unchanged since the
    last build; returns (engine jar, harness jar, source hash)."""
    digest = source_hash()
    stamp = os.path.join(STATE, "build.stamp")
    with open(os.path.join(STATE, "build.lock"), "w") as lock:
        fcntl.flock(lock, fcntl.LOCK_EX)
        have = open(stamp).read().strip() if os.path.exists(stamp) else ""
        if have != digest:
            sbt(ROOT, env)
            env = dict(env, PERFBENCH_ENGINE_JAR=jar_in(ROOT))
            sbt(HARNESS, env)
            with open(stamp, "w") as fh:
                fh.write(digest)
    return jar_in(ROOT), jar_in(HARNESS), digest


def spark_home():
    if os.environ.get("SPARK_HOME"):
        return os.environ["SPARK_HOME"]
    submit = shutil.which("spark-submit")
    if not submit:
        fail("spark-submit is not on PATH and SPARK_HOME is unset")
    return os.path.dirname(os.path.dirname(os.path.realpath(submit)))


def load1():
    try:
        with open("/proc/loadavg") as fh:
            return float(fh.read().split()[0])
    except OSError:
        return -1.0


def git_commit():
    if not os.path.isdir(os.path.join(ROOT, ".git")):
        return None
    r = subprocess.run(["git", "-C", ROOT, "rev-parse", "HEAD"],
                       capture_output=True, text=True)
    return r.stdout.strip() or None


def run_harness(args, engine, harness, env, work, out):
    cores = os.cpu_count() or 1
    cmd = [os.path.join(env["SPARK_HOME"], "bin", "spark-submit"),
           "--master", "local[%d]" % cores,
           "--driver-memory", DRIVER_MEMORY,
           "--conf", "spark.local.dir=" + os.path.join(work, "spark-local"),
           "--conf", "spark.ui.enabled=false",
           "--conf", "spark.hadoop.hadoop.tmp.dir=" + os.path.join(work, "tmp"),
           "--conf", "spark.driver.extraJavaOptions=-Djava.io.tmpdir="
           + os.path.join(work, "tmp") + " " + JVM_OPTIONS,
           "--jars", engine,
           "--class", "perfbench.Main", harness,
           "--workload", args.workload, "--seed", str(args.seed),
           "--seconds", str(args.seconds), "--trace", str(args.trace),
           "--cores", str(cores), "--work", work, "--out", out]
    os.makedirs(os.path.join(work, "tmp"), exist_ok=True)
    proc = subprocess.Popen(cmd, cwd=work, env=env, stdout=sys.stderr,
                            stderr=sys.stderr, stdin=subprocess.DEVNULL,
                            start_new_session=True)
    try:
        rc = proc.wait(timeout=RUN_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        os.killpg(proc.pid, signal.SIGKILL)
        proc.wait()
        fail("harness did not finish within %d s" % RUN_TIMEOUT_S, 3)
    finally:
        if proc.poll() is None:
            os.killpg(proc.pid, signal.SIGKILL)
            proc.wait()
    if rc != 0 or not os.path.exists(out):
        fail("harness exited with code %d" % rc, 3)
    with open(out) as fh:
        return json.load(fh), cores


def main():
    p = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    p.add_argument("--workload", required=True, choices=WORKLOADS)
    p.add_argument("--seed", required=True, type=int)
    p.add_argument("--seconds", required=True, type=float)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = p.parse_args()

    if not (os.path.isfile(os.path.join(ROOT, "build.sbt"))
            and os.path.isdir(os.path.join(ROOT, "src", "main"))):
        fail("no engine sources (build.sbt, src/main) next to perfbench/")
    if not shutil.which("sbt"):
        fail("sbt is not on PATH")
    os.makedirs(STATE, exist_ok=True)
    env = dict(os.environ, SPARK_HOME=spark_home())
    engine, harness, digest = build(env)

    load_start = load1()
    work = os.path.join(STATE, "work-%s-%d-%d" % (args.workload, args.seed,
                                                  os.getpid()))
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    try:
        result, cores = run_harness(args, engine, harness, env, work,
                                    os.path.join(work, "result.json"))
    finally:
        shutil.rmtree(work, ignore_errors=True)

    ops = result["ops"]
    failed = sum(1 for op in ops if not op["ok"])
    setup_error = result["setup"].get("error")
    if setup_error:
        log("set-up failed: " + setup_error)
    units = declared_units(args.trace)
    metrics = (stats.layer_metrics(result, list(units)) if args.trace
               else stats.end_to_end(result))
    if set(metrics) != set(units):
        fail("metrics %s differ from BENCHMARK.json's %s" % (
            sorted(set(metrics) ^ set(units)), "per_layer" if args.trace
            else "end_to_end"), 4)
    meta = result["meta"]
    stamp = {
        "workload": args.workload, "seed": args.seed,
        "seconds": args.seconds, "trace": args.trace, "nproc": cores,
        "driver_heap_mb": meta["driver_heap_mb"],
        "spark_version": meta["spark_version"],
        "git_commit": git_commit(), "source_hash": digest,
        "load1_start": load_start, "load1_end": load1(),
        "loaded_host": load_start > cores,
        "time": time.strftime("%Y-%m-%dT%H:%M:%SZ", time.gmtime()),
    }
    if stamp["loaded_host"]:
        log("warning: load1 %.2f > nproc %d at start; timings are suspect"
            % (load_start, cores))
    line = {
        "correct": failed == 0 and not setup_error,
        "attempted": len(ops),
        "failed": failed,
        "metrics": {k: {"value": v, "unit": units[k]} for k, v in metrics.items()},
    }
    counts = {}
    for op in ops:
        cls = op.get("class", op["kind"])
        counts[cls] = counts.get(cls, 0) + 1
    record = dict(stamp=stamp, line=line, views=stats.workload_views(result),
                  supported_tail={c: stats.supported_tail(n)
                                  for c, n in counts.items()},
                  raw=result)
    results = os.path.join(STATE, "results")
    os.makedirs(results, exist_ok=True)
    path = os.path.join(results, "%s-seed%d-trace%d-%d.json" % (
        args.workload, args.seed, args.trace, int(time.time() * 1000)))
    with open(path, "w") as fh:
        json.dump(record, fh)
    log("stamp " + json.dumps(stamp))
    log("full record in " + os.path.relpath(path, ROOT))
    print(json.dumps(line))


def declared_units(traced):
    """Metric name -> unit, as BENCHMARK.json declares them."""
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        bench = json.load(fh)
    return {m["name"]: m["unit"]
            for m in bench["per_layer" if traced else "end_to_end"]}


if __name__ == "__main__":
    main()
