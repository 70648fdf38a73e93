#!/usr/bin/env python3
"""Diagnosis benchmark: one command per workload.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the root of a checkout. The first run compiles the program and the
benchmark with sbt (perfbench/build.sbt) and caches the classpath; later runs
start the JVM directly. Inputs, traces and Spark scratch space go under
perfbench/.work. The last line of standard output is the result object.

    python3 perfbench/run.py --pin-digests

re-pins perfbench/query_digests.json and dumps the query outputs for
tools/check_oracle.py (see perfbench/README.md).
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

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(HERE, ".work")
CLASSPATH = os.path.join(WORK, "classpath.json")
DIGESTS = os.path.join(HERE, "query_digests.json")
WORKLOADS = ("diag_catalog", "maintain_commit", "query_mix")
# a run must end within 180 s, or 900 s when it builds first; leave room
# to stop the JVM and report
RUN_LIMIT_S = 170
BUILD_RUN_LIMIT_S = 880
BUILD_LIMIT_S = 700
HEAP = "2g"
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io",
    "java.base/java.net", "java.base/java.nio",
    "java.base/java.util", "java.base/java.util.concurrent",
    "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def fail(msg, code=2):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(code)


def sources():
    """Every file the build reads, for the cache key."""
    roots = [os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src")]
    files = [os.path.join(ROOT, "build.sbt"),
             os.path.join(ROOT, "project", "build.properties"),
             os.path.join(HERE, "build.sbt"),
             os.path.join(HERE, "project", "build.properties")]
    for r in roots:
        for d, _, names in os.walk(r):
            files += [os.path.join(d, n) for n in names]
    return sorted(files)


def fingerprint():
    h = hashlib.sha256()
    for f in sources():
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()


def run_bounded(cmd, limit_s, **kw):
    """Runs cmd in its own process group; kills the group past limit_s."""
    proc = subprocess.Popen(cmd, start_new_session=True, **kw)
    try:
        out, _ = proc.communicate(timeout=limit_s)
    except subprocess.TimeoutExpired:
        os.killpg(proc.pid, signal.SIGKILL)
        proc.wait()
        fail(f"{cmd[0]} exceeded {limit_s} s and was stopped", 3)
    return proc.returncode, out


def classpath():
    """(classpath, built): the compiled classpath, building it first when
    the sources changed since the cached one."""
    key = fingerprint()
    if os.path.exists(CLASSPATH):
        with open(CLASSPATH) as fh:
            cached = json.load(fh)
        if cached.get("fingerprint") == key:
            return cached["classpath"], False
    if shutil.which("sbt") is None:
        fail("sbt is not on PATH")
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    env.setdefault("SBT_OPTS",
                   "-Dsbt.override.build.repos=true -Dsbt.offline=true -Xmx2g")
    # keep the build's scratch files inside the checkout too
    os.makedirs(os.path.join(WORK, "tmp"), exist_ok=True)
    env["SBT_OPTS"] += f" -Djava.io.tmpdir={os.path.join(WORK, 'tmp')} -XX:-UsePerfData"
    code, out = run_bounded(
        ["sbt", "-batch", "-Dsbt.log.noformat=true", "-Dsbt.supershell=false",
         "compile", "export Runtime/fullClasspath"],
        BUILD_LIMIT_S, cwd=HERE, env=env, stdout=subprocess.PIPE,
        stdin=subprocess.DEVNULL, text=True)
    lines = [l for l in out.splitlines() if l.strip()]
    if code != 0 or not lines or "[error]" in lines[-1]:
        sys.stderr.write(out[-4000:])
        fail("build failed", 4)
    cp = lines[-1].strip()
    os.makedirs(WORK, exist_ok=True)
    with open(CLASSPATH, "w") as fh:
        json.dump({"fingerprint": key, "classpath": cp}, fh)
    return cp, True


def jvm(cp, args, limit_s):
    os.makedirs(os.path.join(WORK, "tmp"), exist_ok=True)
    # a fixed heap and time zone: no resizing between runs, and rendered
    # values that do not depend on the host's locale
    cmd = ["java", f"-Xms{HEAP}", f"-Xmx{HEAP}", "-XX:-UsePerfData",
           "-Duser.timezone=UTC",
           f"-Djava.io.tmpdir={os.path.join(WORK, 'tmp')}"]
    for p in ADD_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    cmd += ["-cp", cp, "perfbench.Main", "--work", WORK,
            "--digests", DIGESTS] + args
    # the JVM runs inside the work directory so nothing strays into the
    # checkout root (Spark's derby and warehouse defaults are relative)
    return run_bounded(cmd, limit_s, cwd=WORK, stdout=subprocess.PIPE,
                       stdin=subprocess.DEVNULL, text=True)


def main():
    ap = argparse.ArgumentParser(description=__doc__,
                                 formatter_class=argparse.RawDescriptionHelpFormatter)
    ap.add_argument("--workload", choices=WORKLOADS)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=int, default=10)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--pin-digests", action="store_true")
    a = ap.parse_args()
    t0 = time.monotonic()
    if not os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft")) or \
            not os.path.isfile(os.path.join(ROOT, "build.sbt")):
        fail(f"no program sources under {ROOT}: run from the root of a full checkout")
    if not a.pin_digests and a.workload is None:
        fail("--workload is required")
    cp, built = classpath()
    limit = int((BUILD_RUN_LIMIT_S if built else RUN_LIMIT_S) - (time.monotonic() - t0))
    if limit < 30:
        fail("no time left to run after the build", 3)
    if a.pin_digests:
        code, out = jvm(cp, ["--pin", os.path.join(WORK, "pin-out")], BUILD_LIMIT_S)
        sys.stdout.write(out)
        sys.exit(code)
    code, out = jvm(cp, ["--workload", a.workload, "--seed", str(a.seed),
                         "--seconds", str(a.seconds), "--trace", str(a.trace)], limit)
    lines = out.splitlines()
    if code != 0 or not lines or not lines[-1].startswith('{"correct"'):
        sys.stderr.write(out[-4000:])
        fail(f"benchmark JVM exited with code {code} and no result", 5)
    result = json.loads(lines[-1])
    for l in lines[:-1]:
        print(l)
    print(json.dumps(result))


if __name__ == "__main__":
    main()
