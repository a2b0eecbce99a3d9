#!/usr/bin/env python3
"""Lakehouse-to-RAG benchmark: build, run one workload, print its result.

    python3 perfbench/run.py --workload incr|ask --seed N --seconds S --trace 0|1
    python3 perfbench/run.py --self-test

Run from the repository root. Builds the engine (src/main) and the
benchmark (perfbench/src) from source into .bench_build/ on first use,
runs one workload in a fresh JVM, writes the full result to
.bench_out/<workload>-seed<N>-trace<T>.json, and prints one JSON line
last: {"correct", "attempted", "failed", "metrics"}. With --trace 0 the
metrics are the end-to-end ones, with --trace 1 the per-layer ones.
Everything the run writes stays under the working directory.
"""
import argparse
import glob
import hashlib
import json
import os
import shutil
import signal
import subprocess
import sys
import time

ROOT = os.getcwd()
BUILD = os.path.join(ROOT, ".bench_build")
WORK = os.path.join(ROOT, ".bench_work")
OUT = os.path.join(ROOT, ".bench_out")
ENGINE_SRC = os.path.join(ROOT, "src", "main")
BENCH_SRC = os.path.join(ROOT, "perfbench", "src")
RUN_TIMEOUT_S = 170
HEAP = "3g"

ADD_OPENS = [
    f"--add-opens=java.base/{p}=ALL-UNNAMED" for p in (
        "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
        "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
        "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar")
]


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def spark_jars():
    home = os.environ.get("SPARK_HOME")
    if not home:
        submit = shutil.which("spark-submit")
        home = os.path.dirname(os.path.dirname(os.path.realpath(submit))) if submit else None
    jars = sorted(glob.glob(os.path.join(home, "jars", "*.jar"))) if home else []
    if not any("scala-compiler" in j for j in jars):
        fail("no Spark distribution with a Scala compiler found (set SPARK_HOME)")
    return jars


def sources(root, exts):
    out = []
    for d, _, files in os.walk(root):
        out += [os.path.join(d, f) for f in files if f.endswith(exts)]
    return sorted(out)


def digest(paths):
    h = hashlib.sha256()
    for p in paths:
        h.update(os.path.relpath(p, ROOT).encode())
        with open(p, "rb") as f:
            h.update(hashlib.sha256(f.read()).digest())
    return h.hexdigest()


def scalac(jars, classpath, out_dir, files, resource_root=None):
    """Compile `files` into the class directory `out_dir`, and copy the
    files under `resource_root` beside the classes."""
    shutil.rmtree(out_dir, ignore_errors=True)
    os.makedirs(out_dir)
    cmd = ["java", "-Xss8m", "-Xmx2g", "-cp", ":".join(jars), "scala.tools.nsc.Main",
           "-nowarn", "-classpath", ":".join(classpath), "-d", out_dir] + files
    r = subprocess.run(cmd, stdout=sys.stderr, stderr=sys.stderr)
    if r.returncode != 0:
        fail(f"compilation failed ({len(files)} files into {out_dir})")
    if resource_root and os.path.isdir(resource_root):
        shutil.copytree(resource_root, out_dir, dirs_exist_ok=True)


def build():
    """Compile the engine and the benchmark, each unless its sources are
    unchanged since the last build. Returns the combined source digest
    and the class directories."""
    if not os.path.isdir(os.path.join(ENGINE_SRC, "scala")):
        fail("no engine sources (src/main/scala): run from the repository root")
    engine = sources(os.path.join(ENGINE_SRC, "scala"), (".scala", ".java"))
    resources = sources(os.path.join(ENGINE_SRC, "resources"), ("",))
    bench = sources(BENCH_SRC, (".scala",))
    engine_stamp = digest(engine + resources)
    stamp = digest(engine + resources + bench)
    engine_classes = os.path.join(BUILD, "engine")
    bench_classes = os.path.join(BUILD, "bench")
    jars = None

    def stale(name, want):
        p = os.path.join(BUILD, name + ".stamp")
        return not (os.path.exists(p) and open(p).read() == want)

    def done(name, want):
        with open(os.path.join(BUILD, name + ".stamp"), "w") as f:
            f.write(want)

    t0 = time.time()
    if stale("engine", engine_stamp):
        jars = spark_jars()
        shutil.rmtree(BUILD, ignore_errors=True)
        scalac(jars, jars, engine_classes, engine, os.path.join(ENGINE_SRC, "resources"))
        done("engine", engine_stamp)
    if stale("bench", stamp):
        jars = jars or spark_jars()
        scalac(jars, jars + [engine_classes], bench_classes, bench)
        done("bench", stamp)
    if jars:
        print(f"perfbench: built in {time.time() - t0:.1f} s", file=sys.stderr)
    return stamp, [engine_classes, bench_classes]


def git_commit():
    try:
        r = subprocess.run(["git", "rev-parse", "HEAD"], capture_output=True, text=True,
                           cwd=ROOT, timeout=10)
        return r.stdout.strip() if r.returncode == 0 else None
    except (OSError, subprocess.SubprocessError):
        return None


def java(classes, main, args, timeout):
    """Run a main class in its own process group; kill the group on timeout."""
    tmp = os.path.join(WORK, "tmp")
    os.makedirs(tmp, exist_ok=True)
    cmd = (["java"] + ADD_OPENS +
           [f"-Xmx{HEAP}", f"-Djava.io.tmpdir={tmp}",
            "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
            f"-Dspark.local.dir={os.path.join(WORK, 'spark-local')}",
            f"-Dspark.sql.warehouse.dir={os.path.join(WORK, 'warehouse')}",
            f"-Dderby.system.home={os.path.join(WORK, 'derby')}",
            "-cp", ":".join(classes + spark_jars()), main] + args)
    p = subprocess.Popen(cmd, stdout=sys.stderr, stderr=sys.stderr, cwd=WORK,
                         start_new_session=True)
    try:
        return p.wait(timeout=timeout)
    except subprocess.TimeoutExpired:
        os.killpg(p.pid, signal.SIGKILL)
        p.wait()
        fail(f"{main} timed out after {timeout} s")
    finally:
        if p.poll() is None:
            os.killpg(p.pid, signal.SIGKILL)
            p.wait()


def overhead(result):
    """Traced minus untraced end-to-end values, when an untraced result of
    the same workload and seed exists."""
    plain = os.path.join(OUT, f"{result['workload']}-seed{result['seed']}-trace0.json")
    if not os.path.exists(plain):
        return None
    with open(plain) as f:
        base = json.load(f)["end_to_end"]
    return {k: {"traced": v["value"], "untraced": base[k]["value"],
                "share": (v["value"] - base[k]["value"]) / base[k]["value"]}
            for k, v in result["end_to_end"].items() if k in base and base[k]["value"]}


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", choices=["incr", "ask"])
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=10)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--self-test", action="store_true")
    a = ap.parse_args()
    if not a.self_test and not a.workload:
        ap.error("--workload is required")

    stamp, classes = build()
    if a.self_test:
        sys.exit(java(classes, "graftbench.SelfTest", [], RUN_TIMEOUT_S))

    run_dir = os.path.join(WORK, f"{a.workload}-{a.seed}-{a.trace}-{os.getpid()}")
    shutil.rmtree(run_dir, ignore_errors=True)
    os.makedirs(OUT, exist_ok=True)
    out = os.path.join(OUT, f"{a.workload}-seed{a.seed}-trace{a.trace}.json")
    if os.path.exists(out):
        os.remove(out)
    try:
        code = java(classes, "graftbench.Main",
                    [a.workload, str(a.seed), str(a.seconds), str(a.trace), run_dir, out],
                    RUN_TIMEOUT_S)
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)
    if code != 0 or not os.path.exists(out):
        fail(f"benchmark exited with code {code}")
    with open(out) as f:
        result = json.load(f)
    result["provenance"].update({"git_commit": git_commit(), "source_digest": stamp})
    if a.trace:
        result["trace_overhead"] = overhead(result)
    with open(out, "w") as f:
        json.dump(result, f, indent=1)

    metrics = result["per_layer"] if a.trace else result["end_to_end"]
    if not metrics:
        fail("no metrics: every timed operation failed")
    print(f"perfbench: full result in {os.path.relpath(out, ROOT)}", file=sys.stderr)
    print(json.dumps({"correct": result["correct"], "attempted": result["attempted"],
                      "failed": result["failed"], "metrics": metrics}))


if __name__ == "__main__":
    main()
