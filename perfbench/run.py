#!/usr/bin/env python3
"""Run one perfbench workload against the engine built from this checkout.

    python3 perfbench/run.py --workload <lql_read|ingest_follow|batch_curate> \
        --seed <n> --seconds <s> --trace <0|1>

Run it from the repository root. The first run compiles the engine and the
benchmark with sbt (outputs under target/, perfbench/target/ and
.bench_build/); later runs reuse the build until a source file changes.
Each run works in a fresh directory under .bench_build/work/ and deletes
it at the end. The last stdout line is the JSON result; the exit code is 0
only when every output check passed.
"""
import argparse
import fcntl
import hashlib
import os
import shutil
import signal
import subprocess
import sys
import time

ROOT = os.getcwd()
BENCH = os.path.join(ROOT, "perfbench")
OUT = os.path.join(ROOT, ".bench_build")
CLASSPATH = os.path.join(OUT, "perfbench.classpath")
# A fixed heap with a small fixed young generation: allocation keeps
# reusing the same eden pages, so first-touch page faults (slow on some
# virtual machines) land in set-up instead of the timed phase.
HEAP = "2g"
YOUNG = "384m"
RUN_LIMIT_S = 170
WORKLOADS = ("lql_read", "ingest_follow", "batch_curate")

# The java.base packages Spark on JDK 17 needs opened outside spark-submit,
# one per line (perfbench/build.sbt reads the same file for its tests).
ADD_OPENS = os.path.join(BENCH, "add-opens.txt")


def fail(msg, code=2):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(code)


def sources_fingerprint():
    """Hash of every build input's path, size and mtime."""
    h = hashlib.sha256()
    inputs = [os.path.join(ROOT, "build.sbt"), os.path.join(BENCH, "build.sbt")]
    for base in (os.path.join(ROOT, "src", "main"), os.path.join(BENCH, "src", "main"),
                 os.path.join(ROOT, "project"), os.path.join(BENCH, "project")):
        for d, dirs, files in os.walk(base):
            dirs[:] = sorted(x for x in dirs if x not in ("target", "project"))
            inputs += [os.path.join(d, f) for f in sorted(files)]
    for p in inputs:
        st = os.stat(p)
        h.update(f"{os.path.relpath(p, ROOT)}:{st.st_size}:{st.st_mtime_ns}\n".encode())
    return h.hexdigest()


def build():
    """Compile with sbt unless the recorded build matches the sources."""
    os.makedirs(OUT, exist_ok=True)
    with open(os.path.join(OUT, "build.lock"), "w") as lock:
        fcntl.flock(lock, fcntl.LOCK_EX)
        stamp = sources_fingerprint()
        if os.path.exists(CLASSPATH):
            with open(CLASSPATH) as f:
                recorded, cp = f.read().split("\n", 1)
            if recorded == stamp:
                return cp.strip()
        env = dict(os.environ)
        env.setdefault("COURSIER_MODE", "offline")
        env.setdefault("SBT_OPTS", "-Dsbt.offline=true -Xmx2g")
        t0 = time.time()
        res = subprocess.run(
            ["sbt", "--batch", "-Dsbt.log.noformat=true", "export Runtime/fullClasspath"],
            cwd=BENCH, env=env, stdin=subprocess.DEVNULL,
            stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True)
        lines = [l for l in res.stdout.splitlines() if l.strip()]
        if res.returncode != 0 or not lines or lines[-1].startswith("["):
            sys.stderr.write(res.stdout[-4000:])
            fail("sbt build failed", 3)
        cp = lines[-1].strip()
        with open(CLASSPATH, "w") as f:
            f.write(stamp + "\n" + cp + "\n")
        print(f"perfbench: built in {time.time() - t0:.1f} s", file=sys.stderr)
        return cp


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", required=True, type=int)
    ap.add_argument("--seconds", required=True, type=int)
    ap.add_argument("--trace", required=True, choices=("0", "1"))
    a = ap.parse_args()
    if a.seconds <= 0:
        fail("--seconds must be positive")
    for need in ("build.sbt", os.path.join("src", "main", "scala", "graft")):
        if not os.path.exists(os.path.join(ROOT, need)):
            fail(f"run from the repository root: {need} not found")

    cp = build()
    work = os.path.join(OUT, "work", f"{a.workload}-{os.getpid()}-{time.time_ns()}")
    os.makedirs(os.path.join(work, "tmp"))
    java = os.path.join(os.environ["JAVA_HOME"], "bin", "java") if "JAVA_HOME" in os.environ else "java"
    # no hsperfdata: the JVM would write it to the system temp directory
    cmd = [java, f"-Xms{HEAP}", f"-Xmx{HEAP}", f"-Xmn{YOUNG}", "-XX:-UsePerfData",
           f"-Djava.io.tmpdir={work}/tmp", "-Dspark.ui.enabled=false", "-Dderby.system.home=" + work]
    with open(ADD_OPENS) as f:
        for p in f.read().split():
            cmd += ["--add-opens", f"java.base/{p}=ALL-UNNAMED"]
    cmd += ["-cp", cp, "perfbench.Main", "--workload", a.workload, "--seed", str(a.seed),
            "--seconds", str(a.seconds), "--trace", a.trace,
            "--workdir", work, "--tracedir", os.path.join(OUT, "trace")]
    # a TERM ends the run like an interrupt: the JVM is killed and awaited
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    proc = subprocess.Popen(cmd, cwd=work, stdin=subprocess.DEVNULL, start_new_session=True)
    try:
        code = proc.wait(timeout=RUN_LIMIT_S)
    except subprocess.TimeoutExpired:
        os.killpg(proc.pid, signal.SIGKILL)
        proc.wait()
        print(f"perfbench: run exceeded {RUN_LIMIT_S} s and was killed", file=sys.stderr)
        code = 124
    except BaseException:
        os.killpg(proc.pid, signal.SIGKILL)
        proc.wait()
        raise
    finally:
        shutil.rmtree(work, ignore_errors=True)
    sys.exit(code)


if __name__ == "__main__":
    main()
