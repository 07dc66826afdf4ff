#!/usr/bin/env python3
"""Build the library and the benchmark from source, run one workload,
and print its result as the last line of stdout.

    python3 perfbench/run.py --workload maintain --seed 1 --seconds 10 --trace 0

Run it from the root of a checkout. The first run compiles
`src/main/scala` and `perfbench/src` with the Scala compiler that ships
in the Spark jars `build.sbt` names as `unmanagedBase` into
`.bench_build/`; later runs reuse the classes while the sources
are unchanged. Scratch data of a run lives in `.bench_build/run-<pid>/`
and is removed when the run ends; traced runs leave their span file in
`.bench_build/traces/`.

Exit codes: 0 all checks passed; 1 a check failed (the result line is
still printed) or the run broke; 2 nothing to build; 3 timed out.
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

WORKLOADS = ("maintain", "curate")
RUN_TIMEOUT_S = 170
BUILD_TIMEOUT_S = 700
# Spark on JDK 17 needs these outside spark-submit (same list as build.sbt).
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io",
    "java.base/java.net", "java.base/java.nio",
    "java.base/java.util", "java.base/java.util.concurrent",
    "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def log(msg):
    print(f"[run.py] {msg}", file=sys.stderr, flush=True)


def spark_jars(root):
    """The jar directory `build.sbt` compiles against (`unmanagedBase`)."""
    sbt = os.path.join(root, "build.sbt")
    m = os.path.exists(sbt) and re.search(
        r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', open(sbt).read())
    if not m:
        log("no build.sbt naming an unmanagedBase jar directory: nothing to build")
        sys.exit(2)
    return m.group(1)


def sources(root):
    out = []
    for d in ("src/main/scala", "perfbench/src"):
        out += glob.glob(os.path.join(root, d, "**", "*.scala"), recursive=True)
    return sorted(out)


def build(root, java, jars):
    """Compile the library and the benchmark; returns the classes dir."""
    srcs = sources(root)
    if not any("/src/main/scala/" in s for s in srcs):
        log("no library sources under src/main/scala: nothing to build")
        sys.exit(2)
    h = hashlib.sha256()
    for s in srcs:
        h.update(os.path.relpath(s, root).encode())
        with open(s, "rb") as f:
            h.update(hashlib.sha256(f.read()).digest())
    out = os.path.join(root, ".bench_build", "classes-" + h.hexdigest()[:16])
    if os.path.exists(os.path.join(out, ".ok")):
        return out
    for old in glob.glob(os.path.join(root, ".bench_build", "classes-*")):
        shutil.rmtree(old, ignore_errors=True)
    tmp = f"{out}.tmp{os.getpid()}"
    os.makedirs(tmp)
    log(f"compiling {len(srcs)} sources")
    t0 = time.time()
    r = subprocess.run(
        [java, "-XX:-UsePerfData", "-Xmx2g", "-Xss8m", "-cp", jars, "scala.tools.nsc.Main",
         "-nowarn", "-d", tmp, "-classpath", jars] + srcs,
        stdout=sys.stderr, stderr=sys.stderr, timeout=BUILD_TIMEOUT_S)
    if r.returncode != 0:
        shutil.rmtree(tmp, ignore_errors=True)
        log("compile failed")
        sys.exit(1)
    open(os.path.join(tmp, ".ok"), "w").close()
    try:
        os.rename(tmp, out)
    except OSError:  # a concurrent run in this checkout built it first
        shutil.rmtree(tmp, ignore_errors=True)
    log(f"compiled in {time.time() - t0:.0f}s")
    return out


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", required=True, type=int)
    ap.add_argument("--seconds", required=True, type=float)
    ap.add_argument("--trace", default=0, type=int, choices=(0, 1))
    a = ap.parse_args()

    root = os.getcwd()
    java = shutil.which("java") or "java"
    jars = os.path.join(spark_jars(root), "*")
    classes = build(root, java, jars)
    work = os.path.join(root, ".bench_build", f"run-{os.getpid()}")
    os.makedirs(os.path.join(work, "tmp"))
    # A fixed heap: with the default, G1 starts small and grows it by
    # GC timing, and the GC count per run varied threefold. No
    # hsperfdata file outside the checkout.
    cmd = [java, "-Xms2g", "-Xmx2g", "-XX:MetaspaceSize=256m", "-XX:-UsePerfData",
           f"-Djava.io.tmpdir={work}/tmp"]
    for p in ADD_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    cmd += ["-cp", f"{classes}:{jars}", "perfbench.Main",
            "--workload", a.workload, "--seed", str(a.seed),
            "--seconds", str(a.seconds), "--trace", str(a.trace), "--work", work]
    proc = subprocess.Popen(cmd, stdout=subprocess.PIPE, stderr=sys.stderr,
                            text=True, start_new_session=True)

    def stop(*_):
        # the JVM runs in its own process group: take all of it down
        try:
            os.killpg(proc.pid, signal.SIGKILL)
        except ProcessLookupError:
            pass
        proc.wait()
        shutil.rmtree(work, ignore_errors=True)
        sys.exit(3)

    signal.signal(signal.SIGTERM, stop)
    try:
        out, _ = proc.communicate(timeout=RUN_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        log(f"timed out after {RUN_TIMEOUT_S}s")
        stop()
    except BaseException:
        stop()
    finally:
        shutil.rmtree(work, ignore_errors=True)

    lines = [l for l in out.splitlines() if l.startswith("{")]
    if proc.returncode != 0 or not lines:
        log(f"benchmark JVM failed (exit {proc.returncode})")
        sys.exit(1)
    res = json.loads(lines[-1])
    assert set(res) == {"correct", "attempted", "failed", "metrics"}, res.keys()
    print(lines[-1], flush=True)
    sys.exit(0 if res["correct"] else 1)


if __name__ == "__main__":
    main()
