#!/usr/bin/env python3
"""Run one workload of the engine benchmark and print its result line.

Usage (from the repository root):

    python3 perfbench/run.py --workload <cold_curation|ingest_serve>
                             --seed <n> --seconds <s> --trace <0|1>

The first run in a checkout compiles the engine sources with the harness
(sbt, offline) and generates the benchmark corpus; later runs reuse both
until a source file changes. Everything the benchmark writes goes under
`perfbench/target`, `perfbench/project` and `perfbench/.work`.

The last line of standard output is the result:
`{"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}`,
with the end-to-end metrics, or with `--trace 1` the per-layer metrics.
The line before it is the run header (cpus, code id, heap, corpus, seed).
The full result and, for traced runs, the span trace are also written to
`perfbench/.work/results/`.
"""
import argparse
import hashlib
import json
import os
import signal
import subprocess
import sys

BENCH = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(BENCH)
WORK = os.path.join(BENCH, ".work")
ENGINE_SRC = os.path.join(ROOT, "src", "main")
WORKLOADS = ("cold_curation", "ingest_serve")
BUILD_TIMEOUT_S = 850
RUN_TIMEOUT_S = 170
JAVA_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def source_files():
    roots = [ENGINE_SRC, os.path.join(BENCH, "src", "main")]
    files = [os.path.join(BENCH, "build.sbt"), os.path.join(BENCH, "project", "build.properties")]
    for r in roots:
        for d, _, names in os.walk(r):
            files += [os.path.join(d, n) for n in names]
    return sorted(files)


def code_id():
    """Git commit when the checkout is a repository, else a hash of the built sources."""
    try:
        sha = subprocess.run(["git", "rev-parse", "HEAD"], cwd=ROOT, capture_output=True,
                             text=True, timeout=10)
        if sha.returncode == 0 and sha.stdout.strip():
            return sha.stdout.strip()
    except (OSError, subprocess.TimeoutExpired):
        pass
    return "src-" + sources_digest()[:16]


def sources_digest():
    h = hashlib.sha256()
    for f in source_files():
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()


def run_group(cmd, cwd, env, timeout_s, what):
    """Run `cmd` in its own process group. On timeout, or when this script
    is asked to stop, stop the whole group and wait for it."""
    proc = subprocess.Popen(cmd, cwd=cwd, env=env, stdin=subprocess.DEVNULL, stdout=subprocess.PIPE,
                            stderr=subprocess.PIPE if what == "build" else None, text=True,
                            start_new_session=True)

    def stop(signum, _frame):
        os.killpg(proc.pid, signal.SIGKILL)
        proc.wait()
        fail(f"{what} stopped by signal {signum}")

    previous = {s: signal.signal(s, stop) for s in (signal.SIGTERM, signal.SIGINT)}
    try:
        stdout, stderr = proc.communicate(timeout=timeout_s)
    except subprocess.TimeoutExpired:
        os.killpg(proc.pid, signal.SIGKILL)
        proc.communicate()
        fail(f"{what} did not finish within {timeout_s} s")
    finally:
        for s, h in previous.items():
            signal.signal(s, h)
    return stdout, stderr or "", proc.returncode


def build():
    """Compile engine + harness when sources changed; return the runtime classpath."""
    stamp = os.path.join(WORK, "build.stamp")
    cp_file = os.path.join(WORK, "classpath.txt")
    digest = sources_digest()
    if os.path.exists(stamp) and os.path.exists(cp_file):
        with open(stamp) as fh:
            if fh.read().strip() == digest:
                with open(cp_file) as cf:
                    return cf.read().strip()
    env = dict(os.environ, COURSIER_MODE="offline")
    opts = ["-Dsbt.offline=true", "-Xmx2g"]
    repos = os.path.expanduser("~/.sbt/repositories")
    if os.path.exists(repos):
        opts += ["-Dsbt.override.build.repos=true", f"-Dsbt.repository.config={repos}"]
    env["SBT_OPTS"] = " ".join(opts)
    print("perfbench: building engine and harness", file=sys.stderr)
    stdout, stderr, code = run_group(["sbt", "--batch", "-Dsbt.log.noformat=true", "compile",
                                      "export Runtime/fullClasspath"], BENCH, env, BUILD_TIMEOUT_S, "build")
    if code != 0:
        sys.stderr.write(stdout[-4000:] + stderr[-4000:])
        fail("build failed")
    lines = [l for l in stdout.splitlines() if l and not l.startswith("[")]
    if not lines:
        fail("build printed no classpath")
    classpath = lines[-1].strip()
    with open(cp_file, "w") as fh:
        fh.write(classpath + "\n")
    with open(stamp, "w") as fh:
        fh.write(digest + "\n")
    return classpath


def main():
    ap = argparse.ArgumentParser(description="Run one engine benchmark workload.")
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", required=True, type=int)
    ap.add_argument("--seconds", required=True, type=int)
    ap.add_argument("--trace", required=True, choices=("0", "1"))
    args = ap.parse_args()
    if not os.path.exists(os.path.join(ENGINE_SRC, "scala", "graft", "SparkEntry.scala")):
        fail(f"engine sources not found under {os.path.relpath(ENGINE_SRC, ROOT)}; "
             "run from a full checkout of the repository")
    os.makedirs(os.path.join(WORK, "tmp"), exist_ok=True)
    classpath = build()
    cmd = (["java", "-Xmx3g", f"-Djava.io.tmpdir={os.path.join(WORK, 'tmp')}",
            "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC"]
           + [a for p in JAVA_OPENS for a in ("--add-opens", f"{p}=ALL-UNNAMED")]
           + ["-cp", classpath, "perfbench.Main", "run",
              "--workload", args.workload, "--seed", str(args.seed), "--seconds", str(args.seconds),
              "--trace", args.trace, "--data", os.path.join(WORK, "corpus"), "--work", WORK,
              "--golden", os.path.join(BENCH, "golden.tsv"), "--sha", code_id()])
    stdout, _, code = run_group(cmd, WORK, None, RUN_TIMEOUT_S, "workload")
    if code != 0:
        fail(f"workload exited with code {code}")
    records = []
    for line in stdout.splitlines():
        try:
            records.append(json.loads(line))
        except ValueError:
            print(line, file=sys.stderr)
    header = [r for r in records if isinstance(r, dict) and "header" in r]
    result = [r for r in records if isinstance(r, dict) and "correct" in r]
    if not result:
        fail("workload printed no result")
    if header:
        print(json.dumps(header[-1]))
    print(json.dumps(result[-1]))


if __name__ == "__main__":
    main()
