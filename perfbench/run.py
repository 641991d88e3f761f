#!/usr/bin/env python3
"""graft benchmark: the paper's TSC pipeline, timed end to end and per layer.

Run from the root of a checkout:

    python3 perfbench/run.py --workload tsc_elastic --seed 1 --seconds 20 --trace 0

It builds the engine and the benchmark driver (perfbench/build.sbt, sbt in
offline mode) when the sources changed since the last build, then runs one
JVM at local[nproc] for the workload. The last line of standard output is
one JSON object: correct, attempted, failed and the metrics that
BENCHMARK.json lists (end_to_end with --trace 0, per_layer with --trace 1).
Everything the run writes stays under .bench_build/ in the checkout; the
spans of a traced run are kept in .bench_build/out/.
"""

import argparse
import hashlib
import json
import os
import shutil
import signal
import subprocess
import sys
import time

ROOT = os.getcwd()
BENCH = os.path.join(ROOT, "perfbench")
BUILD = os.path.join(ROOT, ".bench_build")
ENGINE_SRC = os.path.join(ROOT, "src", "main")
MAIN = "perfbench.GraftBench"
WORKLOADS = ("tsc_elastic", "tsc_euclid_wide")

# Spark 4 on JDK 17 outside spark-submit (the engine's build.sbt uses the
# same list).
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]

FIRST_RUN_LIMIT_S = 880  # a run that builds
RUN_LIMIT_S = 175


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def fail(msg):
    log(msg)
    sys.exit(2)


def spark_home():
    home = os.environ.get("SPARK_HOME")
    if not home:
        submit = shutil.which("spark-submit")
        if submit:
            home = os.path.dirname(os.path.dirname(os.path.realpath(submit)))
    if not home or not os.path.isdir(os.path.join(home, "jars")):
        fail("no Spark distribution: set SPARK_HOME or put spark-submit on PATH")
    return home


def source_stamp():
    """Hash of every file the build reads, so a changed source rebuilds."""
    h = hashlib.sha256()
    files = []
    for base in (ENGINE_SRC, os.path.join(BENCH, "src")):
        for d, _, names in os.walk(base):
            files += [os.path.join(d, n) for n in names]
    files += [os.path.join(BENCH, "build.sbt"),
              os.path.join(BENCH, "project", "build.properties")]
    for f in sorted(files):
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()


def run_bounded(cmd, cwd, env, limit_s, log_path):
    """Run cmd in its own process group, output to log_path; kill the whole
    group if it outlives limit_s. Returns the exit code (None on timeout)."""
    with open(log_path, "w") as out:
        proc = subprocess.Popen(cmd, cwd=cwd, env=env, stdout=out,
                                stderr=subprocess.STDOUT, start_new_session=True)
        try:
            return proc.wait(timeout=max(1.0, limit_s))
        except subprocess.TimeoutExpired:
            os.killpg(proc.pid, signal.SIGKILL)
            proc.wait()
            return None
        finally:
            if proc.poll() is None:
                os.killpg(proc.pid, signal.SIGKILL)
                proc.wait()


def cpu_ticks():
    """Aggregate CPU ticks from /proc/stat (None where it is unreadable)."""
    try:
        with open("/proc/stat") as fh:
            return [int(x) for x in fh.readline().split()[1:]]
    except (OSError, ValueError):
        return None


def steal_share(before, after):
    """Share of CPU time the hypervisor gave to other guests in between: a
    run with a high share was slowed by its neighbours, not by the code."""
    if not before or not after or len(before) < 8:
        return float("nan")
    d = [b - a for a, b in zip(before, after)]
    return d[7] / sum(d) if sum(d) > 0 else float("nan")


def tail(path, n=40):
    try:
        with open(path, errors="replace") as fh:
            return "".join(fh.readlines()[-n:])
    except OSError:
        return ""


def build(env, deadline):
    """Compile when sources changed; return the runtime classpath."""
    stamp_file = os.path.join(BUILD, "stamp")
    cp_file = os.path.join(BUILD, "classpath")
    stamp = source_stamp()
    if os.path.exists(cp_file) and os.path.exists(stamp_file):
        with open(stamp_file) as fh:
            if fh.read().strip() == stamp:
                with open(cp_file) as fh:
                    return fh.read().strip(), False
    log("building engine + benchmark (sbt, offline)")
    opts = env.get("SBT_OPTS", "")
    if "sbt.offline" not in opts:
        opts += " -Dsbt.offline=true"
    # no sbt server socket; temp files stay in the checkout
    opts += f" -Dsbt.server.autostart=false -Djava.io.tmpdir={os.path.join(BUILD, 'tmp')}"
    env = dict(env, SBT_OPTS=opts.strip(), COURSIER_MODE="offline")
    build_log = os.path.join(BUILD, "build.log")
    code = run_bounded(["sbt", "-batch", "-Dsbt.log.noformat=true", "compile",
                        "export Compile/fullClasspath"],
                       BENCH, env, deadline - time.time(), build_log)
    lines = [l.strip() for l in open(build_log, errors="replace")]
    cp = lines[-1] if lines else ""
    if code != 0 or "perfbench" not in cp:
        sys.stderr.write(tail(build_log))
        fail(f"build failed (exit {code})")
    with open(cp_file, "w") as fh:
        fh.write(cp)
    with open(stamp_file, "w") as fh:
        fh.write(stamp)
    return cp, True


def main():
    t0 = time.time()
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", required=True, type=int)
    ap.add_argument("--seconds", required=True, type=float)
    ap.add_argument("--trace", required=True, type=int, choices=(0, 1))
    args = ap.parse_args()

    if not os.path.isdir(os.path.join(ENGINE_SRC, "scala", "graft")):
        fail("run from the root of a graft checkout (src/main/scala/graft is missing)")
    try:
        with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
            spec = json.load(fh)
    except (OSError, ValueError) as e:
        fail(f"cannot read BENCHMARK.json: {e}")
    metrics = spec["per_layer"] if args.trace else spec["end_to_end"]

    for d in ("out", "logs", "tmp", "work"):
        os.makedirs(os.path.join(BUILD, d), exist_ok=True)
    env = dict(os.environ, SPARK_HOME=spark_home())
    cp, built = build(env, t0 + FIRST_RUN_LIMIT_S - 200)
    limit = (FIRST_RUN_LIMIT_S if built else RUN_LIMIT_S) - (time.time() - t0)

    tag = f"{args.workload}-s{args.seed}-t{args.trace}"
    work = os.path.join(BUILD, "work", tag)
    out = os.path.join(BUILD, "out", tag + ".json")
    jvm_log = os.path.join(BUILD, "logs", tag + ".log")
    tmp = os.path.join(BUILD, "tmp")
    for d in (work, os.path.join(tmp, "spark")):
        shutil.rmtree(d, ignore_errors=True)
    if os.path.exists(out):
        os.remove(out)
    cmd = (["java"] + [f"--add-opens={p}=ALL-UNNAMED" for p in ADD_OPENS] + [
        "-Xmx3g", f"-Djava.io.tmpdir={tmp}",
        f"-Dspark.local.dir={os.path.join(tmp, 'spark')}",
        f"-Dspark.sql.warehouse.dir={os.path.join(tmp, 'warehouse')}",
        "-Dspark.ui.enabled=false",
        "-cp", cp, MAIN,
        "--workload", args.workload, "--seed", str(args.seed),
        "--seconds", str(args.seconds), "--trace", str(args.trace),
        "--work", work, "--out", out])
    # Spark prefers SPARK_LOCAL_DIRS over spark.local.dir: pin both here
    env["SPARK_LOCAL_DIRS"] = os.path.join(tmp, "spark")
    ticks = cpu_ticks()
    code = run_bounded(cmd, ROOT, env, limit, jvm_log)
    steal = steal_share(ticks, cpu_ticks())
    shutil.rmtree(work, ignore_errors=True)
    if code != 0 or not os.path.exists(out):
        sys.stderr.write(tail(jvm_log))
        fail(f"benchmark JVM failed (exit {code})")
    with open(out) as fh:
        res = json.load(fh)

    source = res["per_layer"] if args.trace else res["end_to_end"]
    missing = [m["name"] for m in metrics if source.get(m["name"]) is None]
    if missing:
        sys.stderr.write(tail(jvm_log))
        fail(f"metrics missing from the run: {', '.join(missing)}")
    for p in res["problems"]:
        log(f"check failed: {p}")
    fp = res["fingerprint"]
    log(f"{args.workload} seed={args.seed} rows={fp['rows']} "
        f"classes={fp['class_counts']} sha256={fp['sha256'][:16]} "
        f"passes={len(res['passes'])} cores={res['cores']} cpu_steal={steal:.3f}")
    failed_frac = res["failed"] / res["attempted"]
    for m in metrics:
        print(f"{m['name']:<34} {source[m['name']]:>16.6g} {m['unit']}")
    print(f"{'failed_frac':<34} {failed_frac:>16.6g} frac")
    print(json.dumps({
        "correct": bool(res["correct"]),
        "attempted": int(res["attempted"]),
        "failed": int(res["failed"]),
        "metrics": {m["name"]: {"value": source[m["name"]], "unit": m["unit"]}
                    for m in metrics},
    }))


if __name__ == "__main__":
    main()
