#!/usr/bin/env python3
"""Run one workload of the repository benchmark and print its result.

    python3 perfbench/run.py --workload alert-stream --seed 1 --seconds 20 --trace 0
    python3 perfbench/run.py --self-test

Run from the root of a checkout. The first run builds the harness in
perfbench/ together with the engine sources under src/main/scala (sbt,
offline) into .bench_build/; later runs reuse that build until a source
changes. The harness JVM prints a detail line and then the result line,
which this script prints last:

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

Exits non-zero, without a result line, when the engine sources are
missing, the build fails, or the run fails or overruns its time limit.
"""
import argparse
import hashlib
import json
import os
import signal
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.getcwd()
BUILD = os.path.join(ROOT, ".bench_build")
WORKLOADS = ("alert-stream", "alert-backfill")
BUILD_TIMEOUT_S = 850
RUN_TIMEOUT_S = 170

# JDK 17 module opens Spark needs outside spark-submit (the same list as
# the repository's build.sbt).
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


def build_inputs():
    """Every file whose content decides the build, as sorted paths."""
    files = [os.path.join(HERE, "build.sbt"),
             os.path.join(HERE, "project", "build.properties")]
    for base in (os.path.join(HERE, "src"), os.path.join(ROOT, "src", "main")):
        for d, _, names in os.walk(base):
            files += [os.path.join(d, n) for n in names]
    return sorted(files)


def fingerprint(files):
    h = hashlib.sha256()
    for f in files:
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()


def sbt(*tasks, timeout):
    """Run sbt offline in perfbench/, returning its stdout lines."""
    env = dict(os.environ, COURSIER_MODE="offline")
    opts = ["-Dsbt.offline=true", "-Dsbt.server.autostart=false", "-Xmx2g"]
    repos = os.path.expanduser("~/.sbt/repositories")
    if os.path.exists(repos):
        opts += ["-Dsbt.override.build.repos=true", f"-Dsbt.repository.config={repos}"]
    env["SBT_OPTS"] = " ".join(opts)
    p = subprocess.run(["sbt", "--batch", "-Dsbt.log.noformat=true", *tasks],
                       cwd=HERE, env=env, stdin=subprocess.DEVNULL,
                       stdout=subprocess.PIPE, stderr=subprocess.STDOUT,
                       text=True, timeout=timeout)
    if p.returncode != 0:
        sys.stderr.write(p.stdout[-4000:])
        fail(f"sbt {' '.join(tasks)} failed ({p.returncode})")
    return p.stdout.splitlines()


def build():
    """Compile once per source state; return the runtime classpath."""
    if not os.path.isdir(os.path.join(ROOT, "src", "main", "scala")):
        fail("no engine sources under src/main/scala; run from a checkout root")
    stamp = os.path.join(BUILD, "stamp")
    cp_file = os.path.join(BUILD, "classpath")
    fp = fingerprint(build_inputs())
    if os.path.exists(stamp) and os.path.exists(cp_file):
        with open(stamp) as f:
            if f.read() == fp:
                with open(cp_file) as c:
                    return c.read()
    lines = sbt("compile", "export Runtime/fullClasspath", timeout=BUILD_TIMEOUT_S)
    cps = [l for l in lines if not l.startswith("[") and os.pathsep in l and ".jar" in l]
    if not cps:
        fail("sbt printed no classpath")
    os.makedirs(BUILD, exist_ok=True)
    with open(cp_file, "w") as f:
        f.write(cps[-1].strip())
    with open(stamp, "w") as f:
        f.write(fp)
    return cps[-1].strip()


def heap():
    """The tier-1 test suite's heap rule: half of RAM, 2..8 GiB."""
    g = 2
    try:
        with open("/proc/meminfo") as f:
            for line in f:
                if line.startswith("MemTotal:"):
                    g = int(line.split()[1]) // 2097152
    except OSError:
        pass
    return f"{min(max(g, 2), 8)}g"


def run(args, classpath):
    tmp = os.path.join(BUILD, "tmp")
    os.makedirs(tmp, exist_ok=True)
    cmd = ["java", f"-Xmx{heap()}", f"-Djava.io.tmpdir={tmp}"]
    for p in ADD_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    cmd += ["-cp", classpath, "perfbench.Main",
            "--workload", args.workload, "--seed", str(args.seed),
            "--seconds", str(args.seconds), "--trace", str(args.trace),
            "--root", ROOT]
    proc = subprocess.Popen(cmd, cwd=ROOT, stdin=subprocess.DEVNULL,
                            stdout=subprocess.PIPE, text=True,
                            start_new_session=True)

    def kill(*_):
        try:
            os.killpg(proc.pid, signal.SIGKILL)
        except ProcessLookupError:
            pass
        proc.wait()
        fail("interrupted", 130)

    signal.signal(signal.SIGTERM, kill)
    signal.signal(signal.SIGINT, kill)
    try:
        out, _ = proc.communicate(timeout=RUN_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        os.killpg(proc.pid, signal.SIGKILL)
        proc.wait()
        fail(f"run exceeded {RUN_TIMEOUT_S} s", 3)
    lines = out.strip().splitlines()
    if proc.returncode != 0 or not lines:
        sys.stdout.write(out)
        fail(f"harness exited with {proc.returncode}", proc.returncode or 4)
    result = json.loads(lines[-1])
    if set(result) != {"correct", "attempted", "failed", "metrics"}:
        fail("harness printed no result line", 4)
    print("\n".join(lines[:-1]))
    print(json.dumps(result))


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", choices=WORKLOADS)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=int, default=20)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--self-test", action="store_true",
                    help="run the harness's own unit tests and exit")
    args = ap.parse_args()
    if args.self_test:
        build()
        for line in sbt("test", timeout=BUILD_TIMEOUT_S):
            print(line)
        return
    if not args.workload:
        ap.error("--workload is required")
    run(args, build())


if __name__ == "__main__":
    main()
