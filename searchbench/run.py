#!/usr/bin/env python3
"""Run one workload of the search-path benchmark.

    python3 searchbench/run.py --workload build|search|search_cached \
        --seed N --seconds S --trace 0|1

Run it from the repository root. The first run compiles the engine from the
repository's own sources together with the benchmark (sbt, offline) and keeps
the build in .bench_build/searchbench; later runs reuse it while no source
file changed. Each run's inputs, Spark's local files and indexes live in a
directory of their own that is deleted when the run ends. A JSON record of
every run (summary, quiet-window record, failures, metrics, and the spans
when traced) is kept in .bench_build/searchbench/results.

The last line of standard output is the result object
{"correct", "attempted", "failed", "metrics"}; see METRICS.md.
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
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
OUT = ROOT / ".bench_build" / "searchbench"
ENGINE_MARKER = ROOT / "src" / "main" / "scala" / "graft" / "search" / "SearchEngine.scala"
RUN_TIMEOUT_S = 170
BUILD_TIMEOUT_S = 840
HEAP = "2g"
# Task slots per workload. The build is CPU-bound and gets up to four. A
# search request is a handful of small jobs whose time is mostly driver-side;
# two slots leave the driver, JIT and GC threads cores of their own, which on
# a four-core host cut the run-to-run spread of request latency without
# slowing requests down.
MAX_CORES = {"build": 4, "search": 2, "search_cached": 2}

# Spark on JDK 17 needs these when the session is created outside
# spark-submit; the same list the main build passes to its forked JVMs.
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
    print(f"searchbench: {msg}", file=sys.stderr)
    sys.exit(code)


def spark_home():
    home = os.environ.get("SPARK_HOME")
    if home:
        return home
    submit = shutil.which("spark-submit")
    if submit:
        return str(Path(submit).resolve().parent.parent)
    fail("SPARK_HOME is not set and spark-submit is not on PATH")


def source_digest():
    h = hashlib.sha256()
    files = [HERE / "build.sbt", HERE / "project" / "build.properties"]
    for d in (ROOT / "src" / "main", HERE / "src" / "main"):
        files += sorted(p for p in d.rglob("*") if p.is_file())
    for p in files:
        h.update(str(p.relative_to(ROOT)).encode())
        h.update(p.read_bytes())
    return h.hexdigest()


def run_group(cmd, timeout, **kw):
    """Run a command in its own process group; kill the group on timeout.

    Returns (returncode, stdout); returncode is None on timeout.
    """
    proc = subprocess.Popen(cmd, stdout=subprocess.PIPE, start_new_session=True, text=True, **kw)
    try:
        out, _ = proc.communicate(timeout=timeout)
        return proc.returncode, out
    except subprocess.TimeoutExpired:
        return None, ""
    finally:
        try:
            os.killpg(proc.pid, signal.SIGKILL)
        except ProcessLookupError:
            pass
        proc.wait()


def classpath(env):
    """Compile (when sources changed) and return the runtime classpath."""
    digest = source_digest()
    stamp, cp_file = OUT / "build.stamp", OUT / "classpath.txt"
    if stamp.exists() and cp_file.exists() and stamp.read_text() == digest:
        cp = cp_file.read_text().strip()
        if all(Path(p).exists() for p in cp.split(os.pathsep)):
            return cp
    OUT.mkdir(parents=True, exist_ok=True)
    log = OUT / "build.log"
    cmd = ["sbt", "--batch", "-Dsbt.log.noformat=true", "-Dsbt.server.autostart=false",
           "compile", "export Runtime/fullClasspath"]
    with open(log, "w") as err:
        t0 = time.time()
        rc, out = run_group(cmd, BUILD_TIMEOUT_S, cwd=HERE, env=env, stderr=err)
    with open(log, "a") as f:
        f.write(out)
    if rc != 0:
        fail(f"build failed (exit {rc}); see {log.relative_to(ROOT)}", 3)
    lines = [l for l in out.splitlines() if ".jar" in l and os.pathsep in l and not l.startswith("[")]
    if not lines:
        fail(f"build printed no classpath; see {log.relative_to(ROOT)}", 3)
    print(f"searchbench: built in {time.time() - t0:.1f} s", file=sys.stderr)
    cp_file.write_text(lines[-1].strip())
    stamp.write_text(digest)
    return lines[-1].strip()


def main():
    # a terminated runner still stops its child process group (run_group's finally)
    signal.signal(signal.SIGTERM, lambda signum, _frame: sys.exit(128 + signum))
    ap = argparse.ArgumentParser(description=__doc__, formatter_class=argparse.RawDescriptionHelpFormatter)
    ap.add_argument("--workload", required=True, choices=tuple(MAX_CORES))
    ap.add_argument("--seed", required=True, type=int)
    ap.add_argument("--seconds", required=True, type=float)
    ap.add_argument("--trace", required=True, choices=("0", "1"))
    a = ap.parse_args()
    if not ENGINE_MARKER.exists() or not (ROOT / "build.sbt").exists():
        fail(f"no engine sources under {ROOT}; run from the root of a repository checkout")

    env = dict(os.environ, SPARK_HOME=spark_home())
    # the build resolves only from local caches; never reach for the network
    env.setdefault("COURSIER_MODE", "offline")
    if "SBT_OPTS" not in env:
        opts = ["-Dsbt.offline=true"]
        repos = Path.home() / ".sbt" / "repositories"
        if repos.exists():
            opts += ["-Dsbt.override.build.repos=true", f"-Dsbt.repository.config={repos}"]
        env["SBT_OPTS"] = " ".join(opts)
    cp = classpath(env)

    cores = max(1, min(len(os.sched_getaffinity(0)), MAX_CORES[a.workload]))
    name = f"{a.workload}-seed{a.seed}-trace{a.trace}"
    work = OUT / "runs" / f"{name}-{os.getpid()}"
    result = OUT / "results" / f"{name}.json"
    (work / "tmp").mkdir(parents=True, exist_ok=True)
    (OUT / "logs").mkdir(parents=True, exist_ok=True)
    java = str(Path(env["JAVA_HOME"]) / "bin" / "java") if env.get("JAVA_HOME") else "java"
    cmd = [java, f"-Xmx{HEAP}", f"-Xms{HEAP}", f"-Djava.io.tmpdir={work / 'tmp'}",
           "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC"]
    for p in ADD_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    cmd += ["-cp", cp, "searchbench.Main",
            "--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
            "--trace", a.trace, "--workdir", str(work), "--out", str(result), "--cores", str(cores)]
    log = OUT / "logs" / f"{name}.log"
    try:
        with open(log, "w") as err:
            rc, out = run_group(cmd, RUN_TIMEOUT_S, cwd=work, env=env, stderr=err)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    lines = out.rstrip("\n").splitlines()
    try:
        last = json.loads(lines[-1]) if lines else None
    except ValueError:
        last = None
    if rc != 0 or not isinstance(last, dict) or set(last) != {"correct", "attempted", "failed", "metrics"}:
        sys.stderr.write(out)
        fail(f"run failed (exit {rc}); see {log.relative_to(ROOT)}", 4)
    sys.stdout.write(out)


if __name__ == "__main__":
    main()
