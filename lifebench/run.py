#!/usr/bin/env python3
"""Lifecycle benchmark runner.

Usage, from the repository root:

    python3 lifebench/run.py --workload rag_query --seed 1 --seconds 12 --trace 0

Builds the engine and the benchmark from source with sbt (once per source
fingerprint), then runs one workload in one JVM on Spark local[N], N one
less than the host's core count (at most 3). The last line of standard
output is the run's JSON result. Everything the run writes stays under the checkout:
the build under lifebench/target, the run's scratch state under
.bench_work/ (removed when the run ends).
"""
import argparse
import hashlib
import os
import shutil
import signal
import subprocess
import sys
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
ENGINE = ROOT / "src" / "main" / "scala" / "graft"
TARGET = HERE / "target"
RUN_TIMEOUT_S = 170
PROBE_TIMEOUT_S = 600

ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def fingerprint():
    """Hash of every input of the build: engine and benchmark sources plus
    the benchmark's build files."""
    h = hashlib.sha256()
    files = [HERE / "build.sbt", HERE / "project" / "build.properties"]
    for base in (ROOT / "src" / "main", HERE / "src" / "main"):
        files += sorted(p for p in base.rglob("*") if p.is_file())
    for p in files:
        h.update(str(p.relative_to(ROOT)).encode())
        h.update(p.read_bytes())
    return h.hexdigest()


def build():
    """Compile with sbt unless this exact source tree was built before;
    returns the runtime classpath."""
    fp = fingerprint()
    stamp, cp_file = TARGET / "lifebench.fingerprint", TARGET / "lifebench.classpath"
    if stamp.exists() and cp_file.exists() and stamp.read_text() == fp:
        return cp_file.read_text().strip()
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    env.setdefault("SBT_OPTS", "-Dsbt.override.build.repos=true "
                   "-Dsbt.repository.config=" + str(Path.home() / ".sbt" / "repositories")
                   + " -Dsbt.offline=true -Xmx2g")
    proc = subprocess.run(
        ["sbt", "--batch", "-Dsbt.log.noformat=true", "compile", "export Runtime/fullClasspath"],
        cwd=HERE, env=env, stdin=subprocess.DEVNULL, capture_output=True, text=True,
        timeout=840)
    cp = [ln for ln in proc.stdout.splitlines() if ln.startswith("/") and ".jar" in ln]
    if proc.returncode != 0 or not cp:
        sys.stderr.write(proc.stdout[-4000:] + proc.stderr[-4000:])
        sys.exit("lifebench: build failed")
    TARGET.mkdir(parents=True, exist_ok=True)
    cp_file.write_text(cp[-1])
    stamp.write_text(fp)
    return cp[-1]


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    # serve_capacity is the probe that sets ingest_serve's high rate, not a
    # benchmarked workload.
    ap.add_argument("--workload", required=True,
                    choices=["rag_query", "ingest_serve", "serve_capacity"])
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=int, default=12)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    a = ap.parse_args()
    if not ENGINE.is_dir():
        sys.exit(f"lifebench: engine sources not found at {ENGINE.relative_to(ROOT)}; "
                 "run from a checkout of the repository")
    cp = build()

    work = ROOT / ".bench_work" / f"{a.workload}-{a.seed}-{os.getpid()}"
    shutil.rmtree(work, ignore_errors=True)
    (work / "tmp").mkdir(parents=True)
    cmd = (["java", "-Xmx3g", "-XX:+UseParallelGC", "-XX:-UsePerfData"]
           + [x for p in ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
           + [f"-Djava.io.tmpdir={work / 'tmp'}",
              f"-Dlog4j2.configurationFile={HERE / 'log4j2.properties'}",
              f"-Dgraft.store.root={work / 'stores'}",
              "-cp", cp, "lifebench.Main",
              "--workload", a.workload, "--seed", str(a.seed),
              "--seconds", str(a.seconds), "--trace", str(a.trace), "--work", str(work)])
    child = subprocess.Popen(cmd, cwd=ROOT, stdin=subprocess.DEVNULL, stdout=subprocess.PIPE,
                             text=True, start_new_session=True)
    probe = a.workload == "serve_capacity"
    timeout = PROBE_TIMEOUT_S if probe else RUN_TIMEOUT_S
    try:
        out, _ = child.communicate(timeout=timeout)
    except subprocess.TimeoutExpired:
        os.killpg(child.pid, signal.SIGKILL)
        child.wait()
        shutil.rmtree(work, ignore_errors=True)
        sys.exit(f"lifebench: {a.workload} did not finish within {timeout} s")
    finally:
        if child.poll() is None:
            os.killpg(child.pid, signal.SIGKILL)
            child.wait()
    shutil.rmtree(work, ignore_errors=True)
    lines = [ln for ln in out.splitlines() if ln.strip()]
    last = '{"lifebench"' if probe else '{"correct"'
    if child.returncode != 0 or not lines or not lines[-1].startswith(last):
        sys.stderr.write(out[-4000:])
        sys.exit(f"lifebench: {a.workload} exited {child.returncode} without a result")
    print("\n".join(lines))


if __name__ == "__main__":
    main()
