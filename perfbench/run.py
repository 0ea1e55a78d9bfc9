#!/usr/bin/env python3
"""Run one perfbench workload against the engine in the current directory.

    python3 perfbench/run.py --workload build|increment|query --seed N \
        --seconds S --trace 0|1 [--cores N] [--record]

Run it from the root of a checkout of the repository. The first run builds
the engine and the benchmark from source with sbt and caches the classpath
under $CARGO_TARGET_DIR (default .bench_build), keyed by a digest of the
sources; later runs start the JVM directly. Each run uses one fresh JVM at
local[N] (N = available cores unless --cores is given), writes its tables
under the build directory, removes them afterwards and prints, as its last
line, {"correct", "attempted", "failed", "metrics"} as JSON.

Exit codes: 0 with a result; 1 when the run failed; 2 when the directory
holds no engine sources to build.
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
WORKLOADS = ("build", "increment", "query")
BUILD_TIMEOUT_S = 700
RUN_TIMEOUT_S = 170
# A fixed heap with a fixed young generation under the parallel collector:
# eden is filled and reused whole, so peak RSS follows the old generation's
# high-water mark instead of the collector's heap-resizing decisions.
JVM_MEMORY = ["-Xms2g", "-Xmx2g", "-Xmn512m", "-XX:+UseParallelGC"]

# Spark on JDK 17 needs these when the session is created outside
# spark-submit (as the repository's build.sbt does for its tests).
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io",
    "java.base/java.net", "java.base/java.nio",
    "java.base/java.util", "java.base/java.util.concurrent",
    "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def fail(msg, code=1):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(code)


def source_files(root):
    """Every file the build reads, as paths relative to root."""
    out = []
    for rel in ("build.sbt", "project/build.properties",
                "perfbench/build.sbt", "perfbench/project/build.properties"):
        if os.path.isfile(os.path.join(root, rel)):
            out.append(rel)
    for tree in ("src/main", "perfbench/src/main"):
        for d, _, files in os.walk(os.path.join(root, tree)):
            out += [os.path.relpath(os.path.join(d, f), root) for f in files]
    return sorted(out)


def digest(root):
    h = hashlib.sha256()
    for rel in source_files(root):
        h.update(rel.encode() + b"\0")
        with open(os.path.join(root, rel), "rb") as f:
            h.update(f.read())
    return h.hexdigest()[:16]


def run_bounded(cmd, timeout, **kw):
    """Runs cmd in its own process group; kills the group on timeout or on
    a signal to this process, and always waits for it to end."""
    p = subprocess.Popen(cmd, start_new_session=True, **kw)

    def stop(*_):
        try:
            os.killpg(p.pid, signal.SIGKILL)
        except ProcessLookupError:
            pass
        p.wait()
        sys.exit(1)

    old = {s: signal.signal(s, stop) for s in (signal.SIGTERM, signal.SIGINT)}
    try:
        out, _ = p.communicate(timeout=timeout)
    except subprocess.TimeoutExpired:
        os.killpg(p.pid, signal.SIGKILL)
        p.wait()
        fail(f"timed out after {timeout}s: {cmd[0]}")
    finally:
        for s, h in old.items():
            signal.signal(s, h)
    return p.returncode, out


def classpath(root, build_dir):
    """The cached classpath for the current sources, building on a miss."""
    key = digest(root)
    cache = os.path.join(build_dir, "classpath")
    if os.path.isfile(cache):
        with open(cache) as f:
            got_key, cp = f.read().split("\n", 1)
        cp = cp.strip()
        if got_key == key and all(os.path.exists(e) for e in cp.split(os.pathsep)):
            return key, cp
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    t0 = time.time()
    code, out = run_bounded(
        ["sbt", "-batch", "-Dsbt.log.noformat=true", "export Runtime/fullClasspath"],
        BUILD_TIMEOUT_S, cwd=BENCH, env=env, stdout=subprocess.PIPE,
        stderr=subprocess.STDOUT, text=True)
    lines = [l for l in out.splitlines() if l.strip()]
    if code != 0 or not lines or os.path.join(BENCH, "target") not in lines[-1]:
        sys.stderr.write(out[-4000:])
        fail(f"build failed (sbt exit {code})")
    cp = lines[-1].strip()
    os.makedirs(build_dir, exist_ok=True)
    with open(cache, "w") as f:
        f.write(key + "\n" + cp + "\n")
    print(f"[perfbench] built in {time.time() - t0:.1f}s", file=sys.stderr)
    return key, cp


def clear_stale_work(build_dir):
    """Removes the work directories of runs that are no longer alive."""
    for d in os.listdir(build_dir):
        if d.startswith("work-") and d[5:].isdigit():
            try:
                os.kill(int(d[5:]), 0)
            except ProcessLookupError:
                shutil.rmtree(os.path.join(build_dir, d), ignore_errors=True)
            except PermissionError:
                pass


def valid_result(line):
    try:
        r = json.loads(line)
    except ValueError:
        return False
    return (isinstance(r, dict) and set(r) == {"correct", "attempted", "failed", "metrics"}
            and isinstance(r["attempted"], int) and r["attempted"] >= 1)


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", required=True, type=int)
    ap.add_argument("--seconds", required=True, type=float)
    ap.add_argument("--trace", required=True, choices=("0", "1"))
    ap.add_argument("--cores", type=int)
    ap.add_argument("--record", action="store_true",
                    help="also print the observed drift fingerprints")
    a = ap.parse_args()
    if a.workload not in WORKLOADS:
        fail(f"unknown workload {a.workload!r}; one of {', '.join(WORKLOADS)}", 2)

    root = os.getcwd()
    if not (os.path.isfile(os.path.join(root, "build.sbt"))
            and os.path.isdir(os.path.join(root, "src", "main", "scala"))):
        fail("no engine sources here (build.sbt, src/main/scala); "
             "run from the root of a repository checkout", 2)
    build_dir = os.path.join(root, os.environ.get("CARGO_TARGET_DIR", ".bench_build"), "perfbench")
    key, cp = classpath(root, build_dir)

    clear_stale_work(build_dir)
    work = os.path.join(build_dir, f"work-{os.getpid()}")
    os.makedirs(os.path.join(work, "tmp"))
    java = os.path.join(os.environ["JAVA_HOME"], "bin", "java") \
        if os.environ.get("JAVA_HOME") else "java"
    cmd = [java, *JVM_MEMORY,
           f"-Djava.io.tmpdir={os.path.join(work, 'tmp')}",
           f"-Dlog4j2.configurationFile={os.path.join(BENCH, 'log4j2.properties')}",
           "-Dspark.ui.enabled=false"]
    for p in ADD_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    cmd += ["-cp", cp, "perfbench.Main", "--workload", a.workload,
            "--seed", str(a.seed), "--seconds", str(a.seconds), "--trace", a.trace,
            "--work", work, "--fingerprints", os.path.join(BENCH, "fingerprints.json")]
    if a.cores:
        cmd += ["--cores", str(a.cores)]
    if a.record:
        cmd.append("--record")
    env = dict(os.environ, PERFBENCH_SOURCE_DIGEST=key)
    env.pop("SPARK_LOCAL_DIRS", None)  # keep shuffle files inside the checkout
    try:
        code, out = run_bounded(cmd, RUN_TIMEOUT_S, env=env, stdout=subprocess.PIPE, text=True)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    lines = out.splitlines()
    result = lines[-1] if lines else ""
    if code != 0 or not valid_result(result):
        sys.stdout.write("\n".join(l for l in lines if not valid_result(l)) + "\n")
        fail(f"workload {a.workload} failed (exit {code})")
    sys.stdout.write(out if out.endswith("\n") else out + "\n")


if __name__ == "__main__":
    main()
