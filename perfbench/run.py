#!/usr/bin/env python3
"""Run one benchmark workload against graft and print its result.

    python3 perfbench/run.py --workload NAME --seed N --seconds S --trace 0|1

Run it from the root of a checkout of the repository. The first run
builds the benchmark (its own sbt build in this directory, which
compiles graft's sources with the benchmark's); later runs reuse the
build until a source file changes. The last line of standard output is
one JSON object: {"correct", "attempted", "failed", "metrics"}. The line
before it is a detail record (sample counts, tail percentiles, failures,
the end-to-end metrics of a traced run). A traced run also writes its
spans to perfbench/.runs/.

Exit status: 0 when every output matched its ground truth, 1 when a
check failed (the result is still printed), 2 for a usage or checkout
error and 3 when the benchmark did not produce a result.
"""
import argparse
import hashlib
import os
import shutil
import signal
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORKLOADS = ("etl_incremental", "curation")
BUILD_TIMEOUT_S = 840
RUN_TIMEOUT_S = 170
ADD_OPENS = [
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
    "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
    "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar",
]


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def sources():
    """Every file the build reads, in a stable order."""
    files = [os.path.join(HERE, "build.sbt"), os.path.join(HERE, "project", "build.properties")]
    for top in (os.path.join(HERE, "src", "main"), os.path.join(ROOT, "src", "main")):
        for d, _, names in sorted(os.walk(top)):
            files += [os.path.join(d, n) for n in sorted(names)]
    return files


def fingerprint():
    h = hashlib.sha256()
    for f in sources():
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()


def sbt_env():
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    opts = ["-Dsbt.offline=true", "-Xmx3g", f"-Djava.io.tmpdir={os.path.join(HERE, 'target', 'tmp')}"]
    repos = os.path.expanduser("~/.sbt/repositories")
    if os.path.exists(repos):
        opts = ["-Dsbt.override.build.repos=true", f"-Dsbt.repository.config={repos}"] + opts
    env.setdefault("SBT_OPTS", " ".join(opts))
    return env


def run_bounded(cmd, timeout, **kw):
    """Runs `cmd` in its own process group; kills the group on timeout
    or interruption and always waits for it to end."""
    p = subprocess.Popen(cmd, start_new_session=True, **kw)
    try:
        return p.wait(timeout=timeout)
    except BaseException:
        try:
            os.killpg(p.pid, signal.SIGKILL)
        except ProcessLookupError:
            pass
        p.wait()
        raise


def build():
    """Compiles the benchmark if its sources changed; returns the
    runtime classpath."""
    target = os.path.join(HERE, "target")
    stamp = os.path.join(target, "perfbench.stamp")
    cp_file = os.path.join(target, "perfbench.classpath")
    fp = fingerprint()
    if os.path.exists(stamp) and os.path.exists(cp_file):
        with open(stamp) as f:
            if f.read().strip() == fp:
                with open(cp_file) as c:
                    return c.read().strip()
    log("building (sbt compile)")
    os.makedirs(os.path.join(target, "tmp"), exist_ok=True)
    out_path = os.path.join(target, "build.log")
    t0 = time.time()
    with open(out_path, "w") as out:
        rc = run_bounded(
            ["sbt", "--batch", "-Dsbt.log.noformat=true", "compile", "export Runtime/fullClasspath"],
            BUILD_TIMEOUT_S, cwd=HERE, env=sbt_env(), stdout=out, stderr=subprocess.STDOUT)
    with open(out_path) as f:
        lines = f.read().splitlines()
    cp = [l for l in lines if "perfbench" in l and os.pathsep in l and not l.startswith("[")]
    if rc != 0 or not cp:
        sys.stderr.write("\n".join(lines[-40:]) + "\n")
        log(f"build failed (exit {rc})")
        sys.exit(3)
    with open(cp_file, "w") as f:
        f.write(cp[-1])
    with open(stamp, "w") as f:
        f.write(fp)
    log(f"built in {time.time() - t0:.1f} s")
    return cp[-1]


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", required=True, type=int)
    ap.add_argument("--seconds", required=True, type=float)
    ap.add_argument("--trace", required=True, choices=("0", "1"))
    a = ap.parse_args()
    # a terminated run still stops the benchmark JVM (run_bounded)
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    if not os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft")):
        log(f"graft sources not found under {ROOT}/src/main/scala; run from a checkout of the repository")
        sys.exit(2)
    cp = build()
    work = os.path.join(HERE, ".work", f"{a.workload}-{a.seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    result = os.path.join(work, "result.jsonl")
    env = dict(os.environ)
    # every core, whatever the caller's environment says
    env["SPARK_GRAFT_CPUS"] = str(os.cpu_count() or 4)
    cmd = ["java"]
    for p in ADD_OPENS:
        cmd += ["--add-opens", f"java.base/{p}=ALL-UNNAMED"]
    cmd += [
        # a fixed heap keeps the peak resident size from following GC
        # sizing; touching it at start-up keeps first-touch page faults
        # out of the timed calls
        "-Xmx2g", "-Xms2g", "-XX:+AlwaysPreTouch",
        "-Duser.timezone=UTC",
        "-Dspark.ui.enabled=false",
        "-Dspark.sql.session.timeZone=UTC",
        f"-Djava.io.tmpdir={os.path.join(work, 'tmp')}",
        "-cp", cp, "perfbench.Main",
        "--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
        "--trace", a.trace, "--work", work, "--result", result,
    ]
    jvm_log = os.path.join(work, "jvm.log")
    try:
        try:
            with open(jvm_log, "w") as err:
                rc = run_bounded(cmd, RUN_TIMEOUT_S, cwd=work, env=env, stdout=err, stderr=subprocess.STDOUT)
        except subprocess.TimeoutExpired:
            rc = None
        lines = open(result).read().splitlines() if os.path.exists(result) else []
        if rc not in (0, 1) or not lines:
            with open(jvm_log, errors="replace") as f:
                sys.stderr.write("".join(f.readlines()[-60:]))
            log("timed out" if rc is None else f"benchmark JVM exited {rc} without a result")
            sys.exit(3)
        if lines[0].startswith('{"spans"'):
            runs = os.path.join(HERE, ".runs")
            os.makedirs(runs, exist_ok=True)
            with open(os.path.join(runs, f"{a.workload}-seed{a.seed}-trace.json"), "w") as f:
                f.write(lines[0] + "\n")
            lines = lines[1:]
        if rc != 0:
            with open(jvm_log, errors="replace") as f:
                sys.stderr.write("".join(l for l in f if "[perfbench]" in l))
        sys.stdout.write("\n".join(lines) + "\n")
        sys.stdout.flush()
        sys.exit(rc)
    finally:
        shutil.rmtree(work, ignore_errors=True)


if __name__ == "__main__":
    main()
