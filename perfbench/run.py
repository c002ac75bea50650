#!/usr/bin/env python3
"""CDC->lake benchmark for the graft engine.

Run from the root of a checkout:

    python3 perfbench/run.py --workload cdc_upsert --seed 1 --seconds 10 --trace 0

Builds the engine and the harness from source on first use (sbt, offline),
then runs one workload in a fresh JVM. Prints a diagnostics line, then, as
the last line of stdout, one JSON object:
{"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}.
--trace 0 reports the end-to-end metrics, --trace 1 the per-layer ones and
writes the span file under the build directory (spans/<workload>-<seed>.jsonl).
"""
import argparse
import hashlib
import os
import shutil
import signal
import subprocess
import sys

WORKLOADS = ("cdc_upsert", "cdc_append", "lake_query", "curate_cold")
BENCH_DIR = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(BENCH_DIR)
BUILD_TIMEOUT_S = 840
RUN_TIMEOUT_S = 170
HEAP = "3g"
JAVA_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io",
    "java.base/java.net", "java.base/java.nio",
    "java.base/java.util", "java.base/java.util.concurrent",
    "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


CHILDREN = []


def fail(msg, code=2):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(code)


def stop_children(signum=None, _frame=None):
    """Kill every child process group and wait for it; on a signal, exit."""
    for p in CHILDREN:
        if p.poll() is None:
            os.killpg(p.pid, signal.SIGKILL)
            p.wait()
    if signum is not None:
        sys.exit(1)


def run_child(cmd, timeout, **kw):
    """Run `cmd` in its own process group; returns (exit code, stdout or None),
    exit code None on timeout. The group is always gone when this returns."""
    p = subprocess.Popen(cmd, stdin=subprocess.DEVNULL, start_new_session=True, **kw)
    CHILDREN.append(p)
    try:
        out, _ = p.communicate(timeout=timeout)
        return p.returncode, out
    except subprocess.TimeoutExpired:
        return None, None
    finally:
        stop_children()


def source_files():
    """Every file whose change requires a rebuild."""
    files = []
    for base in (os.path.join(ROOT, "src", "main"), os.path.join(BENCH_DIR, "src", "main")):
        for d, _, names in os.walk(base):
            files += [os.path.join(d, n) for n in names]
    files += [os.path.join(ROOT, "build.sbt"), os.path.join(ROOT, "project", "build.properties"),
              os.path.join(BENCH_DIR, "build.sbt"),
              os.path.join(BENCH_DIR, "project", "build.properties")]
    return sorted(files)


def stamp():
    h = hashlib.sha256()
    for f in source_files():
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()


def build(build_dir):
    """Compile engine + harness once per source state; returns the classpath."""
    cp_file = os.path.join(build_dir, "classpath.txt")
    want = stamp()
    if os.path.exists(cp_file):
        with open(cp_file) as fh:
            have, cp = fh.read().split("\n", 1)
        if have == want:
            return cp.strip()
    cmd = ["sbt", "--batch", "-Dsbt.log.noformat=true", "-Dsbt.server.forcestart=false",
           "compile", "export Runtime/fullClasspath"]
    code, out = run_child(cmd, BUILD_TIMEOUT_S, cwd=BENCH_DIR, stdout=subprocess.PIPE,
                          stderr=subprocess.STDOUT, text=True)
    if code is None:
        fail("build timed out")
    if code != 0:
        sys.stderr.write(out[-4000:])
        fail("build failed")
    lines = [l for l in out.splitlines()
             if not l.startswith("[") and os.pathsep in l and "classes" in l]
    if not lines:
        sys.stderr.write(out[-4000:])
        fail("build printed no classpath")
    cp = lines[-1].strip()
    os.makedirs(build_dir, exist_ok=True)
    with open(cp_file, "w") as fh:
        fh.write(want + "\n" + cp + "\n")
    return cp


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=10.0)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()
    signal.signal(signal.SIGTERM, stop_children)
    signal.signal(signal.SIGINT, stop_children)

    if not (os.path.isfile(os.path.join(ROOT, "build.sbt"))
            and os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft"))):
        fail("the engine's sources are not next to the benchmark; run from a full checkout")
    if shutil.which("sbt") is None or shutil.which("java") is None:
        fail("sbt and java are required")

    build_dir = os.path.abspath(os.environ.get("CARGO_TARGET_DIR") or ".bench_build")
    cp = build(build_dir)

    work = os.path.join(build_dir, "runs", f"{a.workload}-{a.seed}-{os.getpid()}")
    out = os.path.join(work, "result.txt")
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    spans = os.path.join(build_dir, "spans", f"{a.workload}-{a.seed}.jsonl")
    cmd = (["java", f"-Xmx{HEAP}", "-XX:+UseG1GC", f"-Djava.io.tmpdir={tmp}",
            "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC"]
           + [x for p in JAVA_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
           + ["-cp", cp, "perfbench.Main",
              "--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
              "--trace", str(a.trace), "--work", work, "--out", out, "--spans", spans])
    code, _ = run_child(cmd, RUN_TIMEOUT_S, stdout=sys.stderr, stderr=sys.stderr)
    if code is None:
        shutil.rmtree(work, ignore_errors=True)
        fail(f"run exceeded {RUN_TIMEOUT_S} s", 3)
    result = None
    if code == 0 and os.path.exists(out):
        with open(out) as fh:
            result = fh.read().splitlines()
    shutil.rmtree(work, ignore_errors=True)
    if not result:
        fail(f"run failed (exit {code})", 1)
    print(result[0])
    print(result[-1], flush=True)


if __name__ == "__main__":
    main()
