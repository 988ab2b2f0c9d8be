#!/usr/bin/env python3
"""The repo benchmark: one run of one workload.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> \
        --trace <0|1>

Run from the root of a checkout. The first run builds the harness and the
library from source (sbt, offline) into .bench_build/; later runs reuse the
build while the sources are unchanged. Each run generates its inputs from
the seed, starts one JVM on local[nproc] that runs the timed cold pass,
the timed warm rounds and an untimed verification round that writes every
operation's output, checks those outputs against DuckDB or the planted
ground truth, and prints one JSON line:

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

With --trace 0 the metrics are the end-to-end ones, with --trace 1 the
per-layer ones. Everything a run writes stays under .bench_runs/<run>/:
inputs, Spark local and warehouse dirs, the index, dumps, spans and the
result with its host context (nproc, loadavg, CPU steal).
"""
import argparse
import hashlib
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
LIB_SRC = os.path.join(ROOT, "src", "main", "scala")
BUILD = os.path.join(ROOT, ".bench_build")
RUNS = os.path.join(ROOT, ".bench_runs")
WORKLOADS = ("registry", "curate_corpus")
GEN_REPEATS = 3
JVM_TIMEOUT_S = 150
ADD_OPENS = ["java.base/java.lang", "java.base/java.lang.invoke",
             "java.base/java.lang.reflect", "java.base/java.io",
             "java.base/java.net", "java.base/java.nio", "java.base/java.util",
             "java.base/java.util.concurrent",
             "java.base/java.util.concurrent.atomic", "java.base/sun.nio.ch",
             "java.base/sun.nio.cs", "java.base/sun.security.action",
             "java.base/sun.util.calendar"]

sys.path.insert(0, HERE)
import checks  # noqa: E402
import gen     # noqa: E402


def log(*a):
    print(*a, file=sys.stderr, flush=True)


def source_stamp():
    h = hashlib.sha1()
    for top in (LIB_SRC, os.path.join(HERE, "src"), os.path.join(HERE, "build.sbt")):
        paths = [top] if os.path.isfile(top) else sorted(
            os.path.join(d, f) for d, _, fs in os.walk(top) for f in fs)
        for p in paths:
            h.update(p.encode())
            with open(p, "rb") as f:
                h.update(f.read())
    return h.hexdigest()


def build():
    """Classpath of the compiled harness + library, building when stale."""
    if not os.path.isdir(LIB_SRC):
        raise SystemExit(f"library sources not found under {LIB_SRC}")
    stamp_file = os.path.join(BUILD, "classpath.txt")
    stamp = source_stamp()
    if os.path.exists(stamp_file):
        saved_stamp, cp = open(stamp_file).read().split("\n", 1)
        if saved_stamp == stamp:
            return cp.strip()
    env = dict(os.environ, COURSIER_MODE="offline")
    opts = env.get("SBT_OPTS", "")
    repos = os.path.expanduser("~/.sbt/repositories")
    if "sbt.repository.config" not in opts and os.path.exists(repos):
        opts += f" -Dsbt.override.build.repos=true -Dsbt.repository.config={repos}"
    # the build tool's own temp files and server socket stay in the checkout
    tmp = os.path.join(BUILD, "tmp")
    os.makedirs(tmp, exist_ok=True)
    env["SBT_OPTS"] = (opts + " -Dsbt.offline=true -Dsbt.server.autostart=false"
                       f" -Djava.io.tmpdir={tmp}").strip()
    env["JAVA_TOOL_OPTIONS"] = "-XX:-UsePerfData"
    log("[perfbench] building harness and library (sbt, offline)")
    p = subprocess.run(["sbt", "--batch", "-Dsbt.log.noformat=true", "compile",
                        "export Runtime/fullClasspath"],
                       cwd=HERE, env=env, capture_output=True, text=True,
                       timeout=840)
    if p.returncode != 0:
        log(p.stdout[-4000:], p.stderr[-4000:])
        raise SystemExit("build failed")
    cp = [l for l in p.stdout.splitlines() if ".jar" in l and not l.startswith("[")][-1]
    os.makedirs(BUILD, exist_ok=True)
    with open(stamp_file, "w") as f:
        f.write(stamp + "\n" + cp.strip())
    return cp.strip()


def read_steal():
    with open("/proc/stat") as f:
        parts = f.readline().split()
    return int(parts[8]) if len(parts) > 8 else 0


def loadavg():
    with open("/proc/loadavg") as f:
        return float(f.read().split()[0])


def main():
    # SIGTERM unwinds like an exception, so the JVM is stopped on the way out
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--keep", action="store_true",
                    help="keep inputs and dumps of the run directory")
    a = ap.parse_args()

    cp = build()
    cpus = len(os.sched_getaffinity(0))
    context = {"nproc": cpus, "loadavg_start": loadavg(), "steal_start": read_steal()}
    run = os.path.join(RUNS, f"{a.workload}_s{a.seed}_t{a.trace}_p{os.getpid()}")
    shutil.rmtree(run, ignore_errors=True)
    data = os.path.join(run, "data")
    os.makedirs(os.path.join(run, "tmp"))

    # set-up part 1: input generation, repeated; the median counts
    gen_s = []
    for _ in range(GEN_REPEATS):
        t0 = time.perf_counter()
        gen.generate(a.workload, a.seed, data)
        gen_s.append(time.perf_counter() - t0)

    # a fixed heap keeps GC sizing, and so peak RSS, the same run to run
    # -UsePerfData: no hsperfdata file outside the run directory
    cmd = (["java", "-Xms2g", "-Xmx2g", "-XX:+UseParallelGC", "-XX:-UsePerfData",
            f"-Djava.io.tmpdir={os.path.join(run, 'tmp')}",
            "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC"]
           + [x for p in ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
           + ["-cp", cp, "perfbench.Main", "--workload", a.workload,
              "--data", data, "--out", run, "--seconds", str(a.seconds),
              "--trace", str(a.trace), "--cpus", str(cpus)])
    with open(os.path.join(run, "jvm.log"), "w") as jlog:
        proc = subprocess.Popen(cmd, stdout=jlog, stderr=subprocess.STDOUT, cwd=run)
        try:
            rc = proc.wait(timeout=JVM_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            raise SystemExit("harness JVM timed out")
        finally:
            # never leave the JVM behind: timeout, SIGTERM or any error
            if proc.poll() is None:
                proc.kill()
                proc.wait()
    if rc != 0:
        with open(os.path.join(run, "jvm.log")) as f:
            log(f.read()[-4000:])
        raise SystemExit(f"harness JVM exited with {rc}")
    with open(os.path.join(run, "harness.json")) as f:
        h = json.load(f)

    verdicts, stats = checks.run_checks(a.workload, run, data)
    context.update(loadavg_end=loadavg(), steal_delta=read_steal() - context.pop("steal_start"))
    for k, v in sorted(h["errors"].items()):
        log(f"[perfbench] ERROR {k}: {v}")
    for k, v in sorted(verdicts.items()):
        if v:
            log(f"[perfbench] FAIL {k}: {v}")
    # An operation is attempted once per run: it runs in every round and is
    # judged by the output of the verification round, which runs the same
    # warm path as the timed rounds. It fails if it threw in any round or
    # its output is wrong.
    ops = set(h["ops"])
    failing = ops & (set(h["errors"]) | {k for k, v in verdicts.items() if v})
    attempted, failed = len(ops), len(failing)
    # correct: every operation that did not fail had its output checked
    # and passed; a wrong output counts in failed
    unjudged = ops - set(verdicts) - failing
    for k in sorted(unjudged):
        log(f"[perfbench] UNCHECKED {k}")

    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    if a.trace:
        # a layer the workload does not exercise reads 0
        metrics = {m["name"]: {"value": h["per_layer"].get(m["name"], 0.0),
                               "unit": m["unit"]} for m in spec["per_layer"]}
    else:
        e2e = dict(h["end_to_end"])
        e2e["setup_s"] = statistics.median(gen_s) + h["setup_jvm_s"]
        metrics = {m["name"]: {"value": e2e[m["name"]], "unit": m["unit"]}
                   for m in spec["end_to_end"]}
    result = {"correct": not unjudged, "attempted": attempted, "failed": failed,
              "metrics": metrics}
    with open(os.path.join(run, "result.json"), "w") as f:
        json.dump({"result": result, "context": context, "gen_s": gen_s,
                   "harness": h, "checks": verdicts, "check_stats": stats}, f, indent=1)
    log("[perfbench] context " + json.dumps(context))
    if not a.keep:
        for d in ("data", "work", "check", "spark-local", "warehouse", "tmp"):
            shutil.rmtree(os.path.join(run, d), ignore_errors=True)
    print(json.dumps(result))


if __name__ == "__main__":
    main()
