#!/usr/bin/env python3
"""Crawl-loop benchmark for the graft crawl engine.

Run from the root of a source checkout:

    python3 perfbench/run.py --workload crawl_small_waves --seed 1 --seconds 10 --trace 0

It builds the program and the benchmark from source on first use (sbt, into
perfbench/target), then starts one JVM at local[nproc]. The last line of standard output is one JSON object:
{"correct", "attempted", "failed", "metrics"}. With --trace 0 the metrics are
the end_to_end metrics of BENCHMARK.json, with --trace 1 the per_layer ones.
The line before it records the host, the verdicts and the schedule digests.

    python3 perfbench/run.py --self-test     # the benchmark's own tests
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

BENCH = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(BENCH)
WORK = os.path.join(BENCH, ".work")
TARGET = os.path.join(BENCH, "target")
CLASSPATH = os.path.join(TARGET, "classpath.txt")
STAMP = os.path.join(TARGET, "source.sha256")
PROGRAM = os.path.join(ROOT, "src", "main", "scala", "graft")
HEAP = "4g"
LEG_TIMEOUT_S = 170
BUILD_TIMEOUT_S = 840

WORKLOADS = ("crawl_small_waves", "frontier_kernel")
JDK_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def log(*a):
    print(*a, file=sys.stderr, flush=True)


def fail(msg, code=2):
    log("perfbench: " + msg)
    sys.exit(code)


def nproc():
    try:
        return len(os.sched_getaffinity(0))
    except AttributeError:
        return os.cpu_count() or 1


def spark_home():
    home = os.environ.get("SPARK_HOME")
    if not home:
        submit = shutil.which("spark-submit")
        home = os.path.dirname(os.path.dirname(os.path.realpath(submit))) if submit else None
    if not home or not os.path.isdir(os.path.join(home, "jars")):
        fail("no Spark runtime: set SPARK_HOME")
    return home


def source_files():
    roots = [os.path.join(ROOT, "src", "main"), os.path.join(BENCH, "src")]
    files = [os.path.join(BENCH, "build.sbt"), os.path.join(BENCH, "project", "build.properties")]
    for r in roots:
        for d, _, names in os.walk(r):
            files += [os.path.join(d, n) for n in names]
    return sorted(files)


def source_digest():
    h = hashlib.sha256()
    for f in source_files():
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()


def build(env):
    """Compile program + benchmark with sbt unless the sources are unchanged."""
    digest = source_digest()
    if os.path.exists(STAMP) and os.path.exists(CLASSPATH):
        with open(STAMP) as fh:
            if fh.read().strip() == digest:
                return
    sbt = shutil.which("sbt")
    if not sbt:
        fail("sbt not found on PATH")
    benv = dict(env)
    benv.setdefault("COURSIER_MODE", "offline")
    benv.setdefault("SBT_OPTS", "-Dsbt.offline=true -Xmx2g")
    t0 = time.time()
    p = subprocess.run([sbt, "-batch", "-Dsbt.log.noformat=true", "-Dsbt.server.forcestart=false",
                        "compile", "writeClasspath"], cwd=BENCH, env=benv, stdin=subprocess.DEVNULL,
                       stdout=subprocess.PIPE, stderr=subprocess.STDOUT, timeout=BUILD_TIMEOUT_S)
    sys.stderr.write(p.stdout.decode(errors="replace")[-4000:])
    if p.returncode != 0 or not os.path.exists(CLASSPATH):
        fail("build failed")
    with open(STAMP, "w") as fh:
        fh.write(digest)
    log(f"perfbench: built in {time.time() - t0:.1f}s")


def java_cmd(main, args, work):
    java = os.path.join(os.environ["JAVA_HOME"], "bin", "java") if os.environ.get("JAVA_HOME") else "java"
    with open(CLASSPATH) as fh:
        cp = fh.read().strip()
    cmd = [java, f"-Xms{HEAP}", f"-Xmx{HEAP}", f"-XX:ActiveProcessorCount={nproc()}",
           "-XX:-UsePerfData", f"-Djava.io.tmpdir={os.path.join(work, 'tmp')}"]
    for o in JDK_OPENS:
        cmd += ["--add-opens", o + "=ALL-UNNAMED"]
    return cmd + ["-cp", cp, main] + [str(a) for a in args]


def run_leg(workload, seed, seconds, mode, deadline, env):
    """Start one measured JVM (mode plain or traced) and return its PERFBENCH
    result object."""
    work = os.path.join(WORK, f"{workload}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    cmd = java_cmd("perfbench.Main", [workload, seed, seconds, mode, work], work)
    p = subprocess.Popen(cmd, cwd=work, env=env, stdin=subprocess.DEVNULL, stdout=subprocess.PIPE,
                         stderr=subprocess.PIPE, start_new_session=True)
    try:
        out, err = p.communicate(timeout=max(deadline - time.time(), 1))
    except subprocess.TimeoutExpired:
        os.killpg(p.pid, signal.SIGKILL)
        _, err = p.communicate()
        sys.stderr.write(err.decode(errors="replace")[-6000:])
        shutil.rmtree(work, ignore_errors=True)
        fail(f"{workload} ran past its time limit")
    lines = out.decode(errors="replace").splitlines()
    found = [l[len("PERFBENCH "):] for l in lines if l.startswith("PERFBENCH ")]
    if not found:
        sys.stderr.write(err.decode(errors="replace")[-6000:])
        shutil.rmtree(work, ignore_errors=True)
        fail(f"{workload} printed no result (exit {p.returncode})")
    spans = os.path.join(work, "spans.jsonl")
    if os.path.exists(spans):
        os.makedirs(os.path.join(WORK, "traces"), exist_ok=True)
        shutil.copy(spans, os.path.join(WORK, "traces", f"{workload}-seed{seed}.spans.jsonl"))
    shutil.rmtree(work, ignore_errors=True)
    return json.loads(found[-1])


def filesystem(path):
    """(mount point, fs type) of the mount holding `path`."""
    best = ("?", "?")
    real = os.path.realpath(path)
    try:
        with open("/proc/mounts") as fh:
            for line in fh:
                parts = line.split()
                mnt = parts[1]
                if (real == mnt or real.startswith(mnt.rstrip("/") + "/")) and len(mnt) >= len(best[0]):
                    best = (mnt, parts[2])
    except OSError:
        pass
    return best


def host_record():
    mem_kb = 0
    try:
        with open("/proc/meminfo") as fh:
            mem_kb = int(next(l for l in fh if l.startswith("MemTotal:")).split()[1])
    except (OSError, StopIteration):
        pass
    os.makedirs(WORK, exist_ok=True)
    mnt, fstype = filesystem(WORK)
    return {"nproc": nproc(), "mem_gb": round(mem_kb / 1048576, 1), "jvm_heap": HEAP,
            "scratch_fs": fstype, "scratch_mount": mnt,
            "note": "checkpoint dirs and spark.local.dir both live under perfbench/.work"}


def report(names, measured, registry, workload):
    """Values for `names`: measured ones as they are, 0.0 for a metric the
    registry does not measure on this workload; the rest are missing."""
    out, missing = {}, []
    for m in names:
        if m in measured:
            out[m] = measured[m]
        elif workload not in registry[m]["on"]:
            out[m] = 0.0
        else:
            missing.append(m)
    return out, missing


def load_json(path):
    with open(path) as fh:
        return json.load(fh)


def main():
    ap = argparse.ArgumentParser(description=__doc__, formatter_class=argparse.RawDescriptionHelpFormatter)
    ap.add_argument("--workload", choices=WORKLOADS)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=10)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--self-test", action="store_true")
    a = ap.parse_args()
    t_start = time.time()
    if not os.path.isdir(PROGRAM):
        fail("no program sources at src/main/scala/graft: run from the root of a source checkout")
    if not a.self_test and not a.workload:
        fail("--workload is required")
    env = dict(os.environ, SPARK_HOME=spark_home())
    build(env)
    if a.self_test:
        sys.exit(self_test(env))

    bench = load_json(os.path.join(ROOT, "BENCHMARK.json"))
    registry = load_json(os.path.join(BENCH, "metrics.json"))["metrics"]
    names = [m["name"] for m in bench["per_layer" if a.trace else "end_to_end"]]
    units = {m["name"]: m["unit"] for m in bench["end_to_end"] + bench["per_layer"]}
    # the limit counts from here: a first run in a fresh checkout also builds
    leg = run_leg(a.workload, a.seed, a.seconds, "traced" if a.trace else "plain",
                  time.time() + LEG_TIMEOUT_S, env)
    verdicts, failed = leg["verdicts"], leg["failed"]
    metrics, missing = report(names, leg["metrics"], registry, a.workload)
    correct = failed == 0 and all(v["ok"] for v in verdicts) and not missing
    print(json.dumps({"workload": a.workload, "seed": a.seed, "trace": a.trace, "host": host_record(),
                      "verdicts": verdicts, "missing_metrics": missing, "leg": leg["info"],
                      "leg_metrics": leg["metrics"],
                      "wall_s": round(time.time() - t_start, 1)}))
    print(json.dumps({"correct": correct, "attempted": max(leg["attempted"], 1), "failed": failed,
                      "metrics": {m: {"value": v, "unit": units[m]} for m, v in metrics.items()}}))


def self_test(env):
    """The benchmark's own tests: Scala checks and generator, then run.py's helpers."""
    work = os.path.join(WORK, f"selftest-{os.getpid()}")
    os.makedirs(os.path.join(work, "tmp"), exist_ok=True)
    p = subprocess.run(java_cmd("perfbench.SelfTest", [work], work), cwd=work, env=env,
                       stdin=subprocess.DEVNULL, timeout=LEG_TIMEOUT_S)
    shutil.rmtree(work, ignore_errors=True)
    ok = p.returncode == 0
    reg = {"a": {"on": ["w1"]}, "b": {"on": ["w2"]}}
    checks = [
        ("a metric measured on the workload is reported as measured",
         report(["a"], {"a": 1.5}, reg, "w1") == ({"a": 1.5}, [])),
        ("a metric not measured on the workload reads 0",
         report(["b"], {}, reg, "w1") == ({"b": 0.0}, [])),
        ("a metric the workload should measure but did not is missing",
         report(["a"], {}, reg, "w1") == ({}, ["a"])),
    ]
    for name, passed in checks:
        print(("PASS " if passed else "FAIL ") + name)
        ok = ok and passed
    print("self-test " + ("passed" if ok else "FAILED"))
    return 0 if ok else 1


if __name__ == "__main__":
    main()
