#!/usr/bin/env python3
"""Run one benchmark workload and print its result as the last stdout line.

Usage (from the repository root):

    python3 perfbench/run.py --workload dl-flood --seed 1 --seconds 10 --trace 0

Builds the program (the repository's own sbt build) and the harness
(perfbench/build.sbt) on first use, then starts one JVM that runs the
workload through the program's public entry points. See perfbench/README.md
for the workloads and metrics.

Prints, last, one JSON object:
    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}
with the end-to-end metrics of BENCHMARK.json under --trace 0 and its
per-layer metrics under --trace 1. Exits non-zero, printing no result, if the
program cannot be built or run or a metric is missing.
"""
import argparse
import glob
import hashlib
import json
import math
import os
import shutil
import subprocess
import sys
import time

BENCH = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(BENCH)
WORK = os.path.join(BENCH, ".work")
RUN_TIMEOUT_S = 170
# the Spark jars directory of the program's own build (its `unmanagedBase`),
# written by build() and read by perfbench/build.sbt and the run
SPARK_JARS_FILE = os.path.join(WORK, "spark-jars")
JVM_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util", "java.base/java.util.concurrent",
    "java.base/java.util.concurrent.atomic", "java.base/sun.nio.ch",
    "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def sources_digest():
    h = hashlib.sha256()
    files = [os.path.join(ROOT, "build.sbt"), os.path.join(BENCH, "build.sbt")]
    for base in (os.path.join(ROOT, "src", "main"), os.path.join(ROOT, "project"),
                 os.path.join(BENCH, "src"), os.path.join(BENCH, "project")):
        for d, dirs, names in os.walk(base):
            dirs[:] = sorted(x for x in dirs if x != "target")
            files += [os.path.join(d, n) for n in sorted(names)]
    for f in files:
        if os.path.isfile(f):
            h.update(os.path.relpath(f, ROOT).encode())
            with open(f, "rb") as fh:
                h.update(fh.read())
    return h.hexdigest()


def sbt(cwd, commands, logf):
    """Runs sbt commands in `cwd`; returns (exit code, output), the output
    also appended to `logf`."""
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    repos = os.path.expanduser("~/.sbt/repositories")
    if "SBT_OPTS" not in env and os.path.isfile(repos):
        env["SBT_OPTS"] = ("-Dsbt.override.build.repos=true "
                           f"-Dsbt.repository.config={repos} -Dsbt.offline=true -Xmx2g")
    tmp = os.path.join(WORK, "tmp")
    os.makedirs(tmp, exist_ok=True)
    env["SBT_OPTS"] = (env.get("SBT_OPTS", "") + f" -Djava.io.tmpdir={tmp} -XX:-UsePerfData").strip()
    p = subprocess.run(["sbt", "--batch", "-Dsbt.log.noformat=true", *commands],
                       cwd=cwd, stdout=subprocess.PIPE, stderr=subprocess.STDOUT,
                       stdin=subprocess.DEVNULL, env=env)
    with open(logf, "ab") as out:
        out.write(p.stdout)
    return p.returncode, p.stdout.decode(errors="replace")


def build():
    """Builds program and harness unless this checkout already built them."""
    if not (os.path.isfile(os.path.join(ROOT, "build.sbt"))
            and os.path.isdir(os.path.join(ROOT, "src", "main", "scala"))):
        log("no program sources next to the benchmark (build.sbt, src/main/scala)")
        sys.exit(2)
    os.makedirs(WORK, exist_ok=True)
    stamp = os.path.join(WORK, "build.stamp")
    digest = sources_digest()
    if os.path.isfile(stamp) and open(stamp).read() == digest:
        return
    logf = os.path.join(WORK, "build.log")
    t0 = time.time()
    log("building the program and the harness (log: perfbench/.work/build.log)")
    rc, out = sbt(ROOT, ["Compile / products", "print unmanagedBase"], logf)
    # `print` writes the setting's value alone on the last line
    jars = out.strip().splitlines()[-1].strip() if out.strip() else ""
    if rc != 0 or not os.path.isdir(jars):
        log("program build failed; see perfbench/.work/build.log")
        sys.exit(3)
    with open(SPARK_JARS_FILE, "w") as fh:
        fh.write(jars)
    if sbt(BENCH, ["compile"], logf)[0] != 0:
        log("harness build failed; see perfbench/.work/build.log")
        sys.exit(3)
    with open(stamp, "w") as fh:
        fh.write(digest)
    log(f"built in {time.time() - t0:.0f} s")


def spec():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        return json.load(fh)


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--record", action="store_true",
                    help="write ops-batch digests to perfbench/expected instead of checking them")
    a = ap.parse_args()
    bench = spec()
    if a.workload not in [w["name"] for w in bench["workloads"]]:
        log(f"unknown workload {a.workload}")
        sys.exit(2)
    wanted = bench["per_layer" if a.trace else "end_to_end"]
    build()

    run_dir = os.path.join(WORK, f"run-{os.getpid()}")
    shutil.rmtree(run_dir, ignore_errors=True)
    os.makedirs(os.path.join(run_dir, "tmp"))
    cores = len(os.sched_getaffinity(0))
    cp = os.pathsep.join([os.path.join(BENCH, "target", "scala-2.13", "classes"),
                          os.path.join(ROOT, "target", "scala-2.13", "classes"),
                          os.path.join(open(SPARK_JARS_FILE).read().strip(), "*")])
    # a fixed heap: the full collections that sample the heap would otherwise
    # shrink it and slow what follows
    cmd = (["java", "-Xms2g", "-Xmx2g", "-XX:+UseG1GC", "-XX:-UsePerfData",
            f"-Djava.io.tmpdir={run_dir}/tmp",
            "-Dspark.ui.enabled=false", "-Dderby.system.home=" + run_dir]
           + [x for p in JVM_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
           + ["-cp", cp, "perfbench.Main",
              "--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
              "--trace", str(a.trace), "--cores", str(cores), "--work", run_dir,
              "--data", os.path.join(BENCH, "data", "sf0.01"),
              "--expected", os.path.join(BENCH, "expected", "ops-batch.json"),
              "--record", "1" if a.record else "0"])
    jvm_log = os.path.join(WORK, f"jvm-{a.workload}.log")
    env = {k: v for k, v in os.environ.items() if k != "SPARK_LOCAL_DIRS"}
    try:
        with open(jvm_log, "wb") as err:
            p = subprocess.run(cmd, cwd=run_dir, stdout=subprocess.PIPE, stderr=err,
                               stdin=subprocess.DEVNULL, timeout=RUN_TIMEOUT_S, env=env)
    except subprocess.TimeoutExpired:
        log(f"run exceeded {RUN_TIMEOUT_S} s; see {jvm_log}")
        sys.exit(4)
    finally:
        for f in glob.glob(os.path.join(run_dir, "spans-*.jsonl")):
            shutil.copy(f, WORK)
        shutil.rmtree(run_dir, ignore_errors=True)
    lines = [x for x in p.stdout.decode(errors="replace").splitlines() if x.startswith("{")]
    if p.returncode != 0 or not lines:
        log(f"run failed (exit {p.returncode}); see {jvm_log}")
        sys.exit(5)
    got = json.loads(lines[-1])
    with open(os.path.join(WORK, f"last-{a.workload}-trace{a.trace}.json"), "w") as fh:
        json.dump(got, fh, indent=1)
    metrics = {}
    for m in wanted:
        v = got["metrics"].get(m["name"])
        if v is None or v["value"] is None or not math.isfinite(v["value"]):
            log(f"metric {m['name']} missing from the run")
            sys.exit(6)
        metrics[m["name"]] = {"value": v["value"], "unit": m["unit"]}
    for note in got.get("notes", []):
        log(note)
    env = got.get("env", {})
    log("env " + json.dumps(env))
    attempted = max(1, int(got["attempted"]))
    failed = int(got["failed"])
    # the names the benchmark was specified with, for reading; the last line
    # is the result
    summary = {"fail_ratio": failed / attempted}
    if not a.trace:
        thr = got["metrics"]["throughput_per_s"]["value"]
        if a.workload == "ops-batch":
            summary.update(wall_s=float(env.get("wall_s", "nan")),
                           query_p50_s=float(env.get("query_p50_s", "nan")))
        else:
            summary["records_per_s"] = thr
    print(json.dumps({"summary": summary}))
    print(json.dumps({"correct": bool(got["correct"]) and failed == 0,
                      "attempted": attempted, "failed": failed, "metrics": metrics}))


if __name__ == "__main__":
    main()
