#!/usr/bin/env python3
"""Run one graft benchmark workload and print its result.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the root of a graft checkout. The first run builds graft and the
benchmark from source with sbt (perfbench/build.sbt) and caches the
resulting classpath under $CARGO_TARGET_DIR (default .bench_build); later
runs reuse it while the sources are unchanged. The benchmark itself runs in
one JVM (graft.perfbench.Main). Its per-metric lines are passed through and
the last line printed is the result as one JSON object. The full artifact
(samples, host context, layer table, checks) lands in perfbench/out/.
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

import gen

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORKLOADS = tuple(gen.GENERATORS)
FIRST_RUN_LIMIT_S = 880
RUN_LIMIT_S = 160

# Runs are short and start cold, so the JVM is tuned for start-up: C1 only
# (C2 compilation would compete with Spark for the cores for most of a run
# and make its wall time swing), no re-verification of the classpath's
# bytecode, and the serial collector (the live heap is ~100 MB).
JVM_FLAGS = ["-XX:TieredStopAtLevel=1", "-XX:+UnlockDiagnosticVMOptions",
             "-XX:-BytecodeVerificationRemote", "-XX:+UseSerialGC"]
JVM_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def source_digest():
    """Digest of every file the build reads from this checkout."""
    h = hashlib.sha256()
    files = []
    for top in ("src/main", "project", "perfbench/src", "perfbench/project"):
        base = os.path.join(ROOT, top)
        for d, dirs, names in os.walk(base):
            dirs[:] = sorted(x for x in dirs if x not in ("target", "project"))
            files += [os.path.join(d, n) for n in names]
    files += [os.path.join(ROOT, "build.sbt"), os.path.join(HERE, "build.sbt")]
    for f in sorted(files):
        if os.path.isfile(f):
            h.update(os.path.relpath(f, ROOT).encode())
            with open(f, "rb") as fh:
                h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()


def build(build_dir, digest, deadline):
    """Compile with sbt unless the cached classpath matches the sources."""
    stamp = os.path.join(build_dir, "classpath.json")
    if os.path.exists(stamp):
        with open(stamp) as fh:
            cached = json.load(fh)
        if cached.get("digest") == digest and all(os.path.exists(p) for p in cached["classpath"]):
            return cached["classpath"], False
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    if "SBT_OPTS" not in env:
        opts = ["-Dsbt.offline=true"]
        repos = os.path.expanduser("~/.sbt/repositories")
        if os.path.exists(repos):
            opts += ["-Dsbt.override.build.repos=true", f"-Dsbt.repository.config={repos}"]
        env["SBT_OPTS"] = " ".join(opts)
    cmd = ["sbt", "--batch", "-Dsbt.log.noformat=true", "export Runtime/fullClasspath"]
    proc = subprocess.Popen(cmd, cwd=HERE, env=env, stdout=subprocess.PIPE,
                            stderr=subprocess.STDOUT, text=True, start_new_session=True)
    try:
        out, _ = proc.communicate(timeout=max(10, deadline - time.time()))
    except subprocess.TimeoutExpired:
        stop(proc)
        fail("build timed out")
    lines = [l.strip() for l in out.splitlines() if l.strip()]
    cp = lines[-1].split(os.pathsep) if lines else []
    if proc.returncode != 0 or not cp or not any(p.endswith(".jar") for p in cp):
        sys.stderr.write(out[-4000:])
        fail(f"build failed (sbt exit {proc.returncode})")
    os.makedirs(build_dir, exist_ok=True)
    with open(stamp, "w") as fh:
        json.dump({"digest": digest, "classpath": cp}, fh)
    return cp, True


def stop(proc):
    """Terminate the process group of `proc` and wait for it to end."""
    for sig in (signal.SIGTERM, signal.SIGKILL):
        try:
            os.killpg(proc.pid, sig)
        except ProcessLookupError:
            break
        try:
            proc.wait(timeout=5)
            break
        except subprocess.TimeoutExpired:
            continue


def git_commit():
    try:
        r = subprocess.run(["git", "rev-parse", "HEAD"], cwd=ROOT, capture_output=True,
                           text=True, timeout=10)
        return r.stdout.strip() if r.returncode == 0 else "none"
    except (OSError, subprocess.TimeoutExpired):
        return "none"


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", required=True, type=int)
    ap.add_argument("--seconds", required=True, type=int)
    ap.add_argument("--trace", default="0", choices=("0", "1"))
    a = ap.parse_args()
    start = time.time()
    if not (os.path.isfile(os.path.join(ROOT, "build.sbt"))
            and os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft"))):
        fail("graft sources not found next to perfbench/: run from a full checkout")
    build_dir = os.path.join(ROOT, os.environ.get("CARGO_TARGET_DIR", ".bench_build"), "perfbench")
    digest = source_digest()
    classpath, built = build(build_dir, digest, start + FIRST_RUN_LIMIT_S - 120)
    limit = FIRST_RUN_LIMIT_S if built else RUN_LIMIT_S

    work = os.path.join(HERE, "work", f"{a.workload}-{a.seed}-{os.getpid()}")
    out_dir = os.path.join(HERE, "out")
    inputs = os.path.join(work, "in")
    try:
        os.makedirs(os.path.join(work, "tmp"), exist_ok=True)
        t_gen = time.time()
        gen.generate(a.workload, a.seed, max(4, a.seconds // 2), inputs)
        gen_s = time.time() - t_gen
        cmd = (["java"] + JVM_FLAGS + [x for p in JVM_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
               + ["-Xmx3g", f"-Djava.io.tmpdir={os.path.join(work, 'tmp')}",
                  "-Dspark.ui.enabled=false", "-cp", os.pathsep.join(classpath),
                  "graft.perfbench.Main", "--workload", a.workload, "--seed", str(a.seed),
                  "--seconds", str(a.seconds), "--trace", a.trace, "--inputs", inputs,
                  "--gen-seconds", repr(gen_s), "--work", work, "--out", out_dir])
        env = dict(os.environ, PERFBENCH_COMMIT=f"{git_commit()} sources:{digest[:16]}")
        proc = subprocess.Popen(cmd, cwd=ROOT, env=env, stdout=subprocess.PIPE, text=True,
                                start_new_session=True)
        try:
            out, _ = proc.communicate(timeout=max(10, start + limit - time.time()))
        except subprocess.TimeoutExpired:
            stop(proc)
            fail("benchmark run timed out")
    finally:
        shutil.rmtree(work, ignore_errors=True)
    lines = out.splitlines()
    result = None
    for line in reversed(lines):
        if line.startswith("{"):
            try:
                result = json.loads(line)
            except ValueError:
                pass
            break
    if proc.returncode != 0 or result is None:
        sys.stderr.write("\n".join(lines[-20:]) + "\n")
        fail(f"benchmark run failed (exit {proc.returncode})")
    for line in lines:
        if not line.startswith("{"):
            print(line)
    print(json.dumps(result))


if __name__ == "__main__":
    main()
