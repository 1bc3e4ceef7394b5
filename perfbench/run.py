#!/usr/bin/env python3
"""Feature-store benchmark: one run of one workload.

Usage (from the repository root):

    python3 perfbench/run.py --workload train_serve|pipeline_gates \
        --seed N --seconds S --trace 0|1

The first run in a checkout builds the engine and the harness with sbt
(perfbench/build.sbt); later runs start the JVM directly on the cached
classpath. Every scratch file lives under .bench_build/ and is removed
when the run ends. The last line of stdout is the result as JSON; the
exit code is non-zero when any output check fails.
"""
import argparse
import hashlib
import json
import os
import re
import shutil
import signal
import subprocess
import sys
import threading

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
BUILD = os.path.join(ROOT, ".bench_build")
# train_serve_race is not a benchmark workload: it measures how many lookups
# fail while the table they read is republished in place
WORKLOADS = ("train_serve", "pipeline_gates", "train_serve_race")
RUN_LIMIT_S = 170  # a run must end within 180 s

# Spark 4 on JDK 17 needs these when the session is created outside
# spark-submit (the engine's build.sbt passes the same list)
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def sources_digest():
    """Digest of everything the build reads, so an edited tree rebuilds."""
    h = hashlib.sha256()
    roots = [os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src")]
    files = [os.path.join(ROOT, "build.sbt"), os.path.join(HERE, "build.sbt")]
    for r in roots:
        for d, _, fs in os.walk(r):
            files += [os.path.join(d, f) for f in fs]
    for f in sorted(files):
        h.update(f.encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()[:16]


def classpath():
    for p in ("build.sbt", os.path.join("src", "main", "scala", "graft")):
        if not os.path.exists(os.path.join(ROOT, p)):
            fail(f"no engine sources at {p}; run from a full checkout")
    cache = os.path.join(BUILD, f"classpath-{sources_digest()}.txt")
    if os.path.exists(cache):
        with open(cache) as fh:
            return fh.read().strip()
    os.makedirs(BUILD, exist_ok=True)
    out = subprocess.run(
        ["sbt", "--batch", "-Dsbt.log.noformat=true", "compile", "export Runtime/fullClasspath"],
        cwd=HERE, stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True, timeout=880)
    lines = [l for l in out.stdout.splitlines() if l.strip() and not l.startswith("[")]
    if out.returncode != 0 or not lines:
        sys.stderr.write(out.stdout[-4000:])
        fail("build failed")
    cp = lines[-1].strip()
    for old in os.listdir(BUILD):
        if old.startswith("classpath-"):
            os.remove(os.path.join(BUILD, old))
    with open(cache, "w") as fh:
        fh.write(cp)
    return cp


def check_oracle(out_dir, data_dir):
    """Hash-match the dumped gate outputs against the DuckDB oracle."""
    r = subprocess.run([sys.executable, os.path.join(ROOT, "tools", "check_oracle.py"), out_dir, data_dir],
                       stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True, timeout=120)
    m = re.search(r"(\d+)/(\d+) queries match", r.stdout)
    ok = r.returncode == 0 and m is not None and m.group(1) == m.group(2) and int(m.group(2)) > 0
    for line in r.stdout.splitlines():
        if line.startswith("FAIL") or "queries match" in line:
            print(f"oracle: {line}")
    return ok


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", required=True, type=int)
    ap.add_argument("--seconds", required=True, type=float)
    ap.add_argument("--trace", default="0", choices=("0", "1"))
    a = ap.parse_args()
    # a terminated runner still stops its JVM and removes its scratch
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))

    cp = classpath()
    work = os.path.join(BUILD, f"work-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    trace_out = os.path.join(BUILD, "traces", f"{a.workload}-seed{a.seed}.jsonl")
    # the session shape is fixed by the harness: no engine env overrides
    env = {k: v for k, v in os.environ.items() if not k.startswith("SPARK_GRAFT_")}
    cmd = (["java", "-Xmx3g", f"-Djava.io.tmpdir={tmp}", f"-Dderby.system.home={work}"]
           + [x for p in ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
           + ["-cp", cp, "perfbench.Main", "--workload", a.workload, "--seed", str(a.seed),
              "--seconds", str(a.seconds), "--trace", a.trace, "--work", work,
              "--trace-out", trace_out])
    result = None
    try:
        proc = subprocess.Popen(cmd, cwd=work, env=env, stdout=subprocess.PIPE, text=True,
                                start_new_session=True)

        def kill():
            if proc.poll() is None:
                os.killpg(proc.pid, signal.SIGKILL)

        watchdog = threading.Timer(RUN_LIMIT_S, kill)
        watchdog.start()
        try:
            for line in proc.stdout:
                if line.startswith("RESULT "):
                    result = json.loads(line[len("RESULT "):])
                else:
                    sys.stdout.write(line)
            proc.wait()
        finally:
            watchdog.cancel()
            kill()
            proc.wait()
        if proc.returncode != 0 or result is None:
            fail(f"benchmark JVM exited with {proc.returncode} and no result")
        if a.workload == "pipeline_gates" and not check_oracle(
                os.path.join(work, "oracle_out"), os.path.join(work, "data")):
            result["correct"] = False
    finally:
        shutil.rmtree(work, ignore_errors=True)
    sys.stdout.flush()
    print(json.dumps(result))
    sys.exit(0 if result["correct"] else 1)


if __name__ == "__main__":
    main()
