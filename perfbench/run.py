#!/usr/bin/env python3
"""Benchmark of the graft key-range store, run from the repository root:

    python3 perfbench/run.py --workload <ingest|faces> \
        --seed <n> --seconds <s> --trace <0|1>

Builds the program from src/main/scala and the harness from
perfbench/harness with the Scala compiler among the Spark jars the
repository's build.sbt names (cached under .bench_build/ by a hash of the
sources), writes the synthetic input tables once (perfbench/gen_data.py),
then runs one workload in a fresh JVM against a private warehouse that is
deleted when the run ends. The last stdout line is the result:

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

with every end_to_end metric of BENCHMARK.json under --trace 0 and every
per_layer metric under --trace 1. The line before it holds diagnostics
(load averages, first-decile/median ratio, the pinned launcher). The
traced run also writes its span file to .bench_build/perfbench/traces/.
"""
import argparse
import glob
import hashlib
import json
import os
import re
import shutil
import signal
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.getcwd()
BUILD = os.path.join(ROOT, ".bench_build", "perfbench")
WORKLOADS = ("ingest", "faces")
RUN_TIMEOUT_S = 165
# the pinned launcher: Spark local[CPUS] with CPUS shuffle partitions, a
# fixed heap (build.sbt's -Xmx16g can exceed the host's RAM) and the
# repo's ParallelGC
CPUS = 4
JVM_OPTS = ["-Xms3g", "-Xmx3g", "-XX:+UseParallelGC", "-Xss4m",
            "-Duser.timezone=UTC"]
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar"]

_child = None


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def spark_jars():
    """The jar directory build.sbt's `unmanagedBase` points at."""
    sbt = os.path.join(ROOT, "build.sbt")
    if not os.path.isfile(sbt):
        fail("build.sbt not found: run from the repository root")
    m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', open(sbt).read())
    if not m or not glob.glob(os.path.join(m.group(1), "*.jar")):
        fail("no Spark jar directory found via build.sbt unmanagedBase")
    return sorted(glob.glob(os.path.join(m.group(1), "*.jar")))


def sources(d):
    return sorted(glob.glob(os.path.join(d, "**", "*.scala"), recursive=True))


def digest(paths, extra=""):
    h = hashlib.sha256(extra.encode())
    for p in paths:
        h.update(os.path.relpath(p, ROOT).encode())
        with open(p, "rb") as f:
            h.update(f.read())
    return h.hexdigest()[:16]


def scalac(jars, classpath, out, files):
    os.makedirs(out, exist_ok=True)
    args = os.path.join(out + ".args")
    with open(args, "w") as f:
        f.write("\n".join(["-nowarn", "-d", out, "-classpath",
                           os.pathsep.join(classpath)] + files))
    r = subprocess.run(["java", "-Xss8m", "-Xmx2g", "-cp", os.pathsep.join(jars),
                        "scala.tools.nsc.Main", "@" + args],
                       stdout=subprocess.PIPE, stderr=subprocess.STDOUT,
                       text=True)
    if r.returncode != 0:
        print(r.stdout[-4000:], file=sys.stderr)
        fail(f"compilation failed ({out})")


def build(jars):
    """Compile the program, then the harness against it; cached."""
    main_src = sources(os.path.join(ROOT, "src", "main", "scala"))
    harness_src = sources(os.path.join(HERE, "harness"))
    if not main_src or not harness_src:
        fail("program or harness sources not found")
    out = os.path.join(BUILD, "classes-" + digest(
        main_src + harness_src, "\n".join(os.path.basename(j) for j in jars)))
    if not os.path.exists(os.path.join(out, "done")):
        shutil.rmtree(out, ignore_errors=True)
        scalac(jars, jars, os.path.join(out, "main"), main_src)
        scalac(jars, [os.path.join(out, "main")] + jars,
               os.path.join(out, "harness"), harness_src)
        open(os.path.join(out, "done"), "w").close()
    return [os.path.join(out, "harness"), os.path.join(out, "main")]


def data():
    """The input tables, generated once per generator version."""
    gen = os.path.join(HERE, "gen_data.py")
    out = os.path.join(BUILD, "data-" + digest([gen]))
    if not os.path.exists(os.path.join(out, "done")):
        shutil.rmtree(out, ignore_errors=True)
        subprocess.run([sys.executable, gen, out], check=True)
        open(os.path.join(out, "done"), "w").close()
    return out


def alive(pid):
    try:
        os.kill(pid, 0)
    except ProcessLookupError:
        return False
    except PermissionError:
        pass
    return True


def stop_child(*_):
    if _child is not None and _child.poll() is None:
        os.killpg(_child.pid, signal.SIGKILL)
        _child.wait()
    sys.exit(3)


def main():
    global _child
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()
    bench = json.load(open(os.path.join(ROOT, "BENCHMARK.json")))
    jars = spark_jars()
    classpath = build(jars) + jars
    data_dir = data()
    t_start = time.time()  # the run's time limit starts after the build

    signal.signal(signal.SIGTERM, stop_child)
    signal.signal(signal.SIGINT, stop_child)
    for stale in glob.glob(os.path.join(BUILD, "run-*")):
        if not alive(int(stale.rsplit("-", 1)[1])):  # left by a killed run
            shutil.rmtree(stale, ignore_errors=True)
    work = os.path.join(BUILD, f"run-{os.getpid()}")
    os.makedirs(os.path.join(work, "tmp"))
    logs = os.path.join(BUILD, "logs")
    os.makedirs(logs, exist_ok=True)
    log_path = os.path.join(logs, f"{a.workload}-{a.seed}-{a.trace}.log")
    result = os.path.join(work, "result.json")
    spans = os.path.join(BUILD, "traces", f"{a.workload}-{a.seed}.jsonl")
    cmd = (["java"] + JVM_OPTS + [f"-Djava.io.tmpdir={work}/tmp"] +
           [x for p in ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")] +
           ["-cp", os.pathsep.join(classpath), "perfbench.Harness",
            a.workload, str(a.seed), str(a.seconds), str(a.trace),
            str(CPUS), data_dir, work, result, spans,
            os.path.join(HERE, "faces.txt")])
    try:
        with open(log_path, "w") as log:
            # Spark's own dirs stay under the run's work dir
            env = {k: v for k, v in os.environ.items()
                   if k not in ("SPARK_LOCAL_DIRS", "LOCAL_DIRS")}
            _child = subprocess.Popen(cmd, stdout=log, stderr=log, env=env,
                                      start_new_session=True)
            try:
                _child.wait(timeout=max(10, RUN_TIMEOUT_S - (time.time() - t_start)))
            except subprocess.TimeoutExpired:
                os.killpg(_child.pid, signal.SIGKILL)
                _child.wait()
                fail(f"run timed out; log: {log_path}")
        if _child.returncode != 0 or not os.path.exists(result):
            fail(f"harness exited {_child.returncode}; log: {log_path}")
        res = json.load(open(result))
    finally:
        shutil.rmtree(work, ignore_errors=True)

    spec = bench["per_layer" if a.trace else "end_to_end"]
    got = res["metrics"]
    metrics = {}
    for m in spec:
        if m["name"] in got and got[m["name"]]["value"] is not None:
            metrics[m["name"]] = {"value": got[m["name"]]["value"], "unit": m["unit"]}
        elif a.trace:
            # a layer this workload does not exercise reads as 0
            metrics[m["name"]] = {"value": 0, "unit": m["unit"]}
        else:
            fail(f"metric {m['name']} missing from the {a.workload} run")
    info = dict(res["info"], workload=a.workload, seed=a.seed,
                launcher=" ".join(JVM_OPTS) +
                f" local[{CPUS}] shuffle.partitions={CPUS}")
    extra = {k: v["value"] for k, v in got.items() if k not in metrics}
    if extra:
        info["extra_metrics"] = extra
    print(json.dumps(info))
    print(json.dumps({"correct": res["correct"], "attempted": res["attempted"],
                      "failed": res["failed"], "metrics": metrics}))


if __name__ == "__main__":
    main()
