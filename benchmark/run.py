#!/usr/bin/env python3
"""Benchmark entry point for graft (see BENCHMARK.json and benchmark/layers.json).

Usage, from the root of a checkout:

    python3 benchmark/run.py --workload table_etl --seed 1 --seconds 20 --trace 0

It builds the library and the benchmark harness from source (first run only),
generates the workload's inputs from the seed (cached per seed), runs one
fresh JVM that sets up, measures for --seconds and checks its outputs, and
prints one JSON result object as the last line of standard output.
Everything it writes stays under .bench_build/ in the checkout.
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

WORKLOADS = ("table_etl", "corpus_curate", "stream_ingest")
BUILD_TIMEOUT_S = 840
RUN_TIMEOUT_S = 170

# Spark on JDK 17 needs these outside spark-submit (the library's
# build.sbt passes the same list to its forked runs).
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def fail(msg):
    print(f"benchmark: {msg}", file=sys.stderr)
    sys.exit(2)


def source_digest(root):
    """Hash of every file the build reads; a change triggers a rebuild."""
    h = hashlib.sha256()
    tops = ["build.sbt", os.path.join("project", "build.properties"),
            os.path.join("benchmark", "build.sbt"),
            os.path.join("benchmark", "project", "build.properties")]
    trees = [os.path.join("src", "main"), os.path.join("benchmark", "src", "main")]
    files = [p for p in tops if os.path.isfile(os.path.join(root, p))]
    for t in trees:
        for d, _, fs in os.walk(os.path.join(root, t)):
            files += [os.path.relpath(os.path.join(d, f), root) for f in fs]
    for p in sorted(files):
        h.update(p.encode())
        with open(os.path.join(root, p), "rb") as f:
            h.update(hashlib.sha256(f.read()).digest())
    return h.hexdigest()[:16]


def run_checked(cmd, cwd, env, timeout, log_path):
    """Runs cmd with its output in log_path; kills its process group on timeout."""
    with open(log_path, "w") as log:
        p = subprocess.Popen(cmd, cwd=cwd, env=env, stdout=subprocess.PIPE, stderr=log,
                             text=True, start_new_session=True)
        try:
            out, _ = p.communicate(timeout=timeout)
        except subprocess.TimeoutExpired:
            os.killpg(p.pid, signal.SIGKILL)
            p.wait()
            fail(f"{cmd[0]} timed out after {timeout} s (log: {log_path})")
        except BaseException:
            os.killpg(p.pid, signal.SIGKILL)
            p.wait()
            raise
    return p.returncode, out


def build(root, work):
    """Compiles graft + the harness with sbt once per source digest; returns the classpath."""
    digest = source_digest(root)
    cp_file = os.path.join(work, "classpath-" + digest)
    if os.path.isfile(cp_file):
        with open(cp_file) as f:
            return f.read().strip(), digest
    if shutil.which("sbt") is None:
        fail("sbt not found on PATH")
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    repos = os.path.expanduser(os.path.join("~", ".sbt", "repositories"))
    opts = "-Dsbt.offline=true -Xmx2g"
    if os.path.isfile(repos):
        opts = f"-Dsbt.override.build.repos=true -Dsbt.repository.config={repos} " + opts
    env.setdefault("SBT_OPTS", opts)
    log = os.path.join(work, "build.log")
    code, out = run_checked(["sbt", "--batch", "-Dsbt.log.noformat=true",
                             "-Dsbt.server.forcestart=false", "export Runtime/fullClasspath"],
                            os.path.join(root, "benchmark"), env, BUILD_TIMEOUT_S, log)
    with open(log, "a") as f:
        f.write(out)
    lines = [l for l in out.splitlines() if l.strip() and not l.startswith("[")]
    if code != 0 or not lines:
        fail(f"build failed (exit {code}); see {log}")
    cp = lines[-1].strip()
    with open(cp_file + ".tmp", "w") as f:
        f.write(cp)
    os.replace(cp_file + ".tmp", cp_file)
    return cp, digest


def java_cmd(cp, work, main, args):
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    opens = [x for p in ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
    # JIT thresholds at a tenth of the default, so op times settle within
    # the warm-up instead of falling through the timed loop (the same code
    # still reaches C2; it gets there sooner).
    return (["java", "-Xmx2g", "-XX:+UseG1GC", "-XX:CompileThresholdScaling=0.1",
             f"-Djava.io.tmpdir={tmp}",
             f"-Dspark.local.dir={tmp}", "-Dspark.ui.enabled=false",
             f"-Dlog4j2.configurationFile={os.path.join(os.path.dirname(__file__), 'log4j2.properties')}"]
            + opens + ["-cp", cp, main] + args)


def git_commit(root):
    try:
        r = subprocess.run(["git", "rev-parse", "HEAD"], cwd=root, capture_output=True,
                           text=True, timeout=10)
        return r.stdout.strip() if r.returncode == 0 else "none"
    except (OSError, subprocess.SubprocessError):
        return "none"


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()

    root = os.getcwd()
    if not (os.path.isfile(os.path.join(root, "build.sbt"))
            and os.path.isdir(os.path.join(root, "src", "main", "scala", "graft"))):
        fail("run from the root of a graft checkout (build.sbt and src/main/scala/graft not found)")
    with open(os.path.join(root, "BENCHMARK.json")) as f:
        spec = json.load(f)
    work = os.path.join(root, ".bench_build", "graftbench")
    os.makedirs(work, exist_ok=True)
    started = time.time()
    cp, digest = build(root, work)

    # keyed by the source digest: a changed generator makes new inputs
    data = os.path.join(work, "data", digest, a.workload, f"seed-{a.seed}")
    if not os.path.isdir(data):
        code, _ = run_checked(java_cmd(cp, work, "graftbench.Gen", [a.workload, str(a.seed), data]),
                              work, dict(os.environ), RUN_TIMEOUT_S,
                              os.path.join(work, "gen.log"))
        if code != 0:
            fail(f"input generation failed (exit {code})")

    runs = os.path.join(work, "runs")
    os.makedirs(runs, exist_ok=True)
    run_id = f"{a.workload}-s{a.seed}-t{a.trace}-{time.strftime('%Y%m%dT%H%M%S')}-{os.getpid()}"
    log = os.path.join(runs, run_id + ".log")
    budget = max(30, RUN_TIMEOUT_S - int(time.time() - started))
    code, out = run_checked(
        java_cmd(cp, work, "graftbench.Main",
                 ["--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
                  "--trace", str(a.trace), "--data", data, "--out", runs, "--run-id", run_id,
                  "--source", digest, "--commit", git_commit(root)]),
        work, dict(os.environ), budget, log)
    lines = [l for l in out.splitlines() if l.strip()]
    if code != 0 or not lines:
        fail(f"benchmark run failed (exit {code}); see {log}")
    result = json.loads(lines[-1])
    measured = result["metrics"]
    if a.trace:
        # a layer the workload never calls reads 0 (its bypass prediction)
        metrics = {m["name"]: {"value": measured.get(m["name"], 0.0), "unit": m["unit"]}
                   for m in spec["per_layer"]}
    else:
        missing = [m["name"] for m in spec["end_to_end"] if m["name"] not in measured]
        if missing:
            fail(f"run measured no {', '.join(missing)}")
        metrics = {m["name"]: {"value": measured[m["name"]], "unit": m["unit"]}
                   for m in spec["end_to_end"]}
    print(json.dumps({"correct": result["correct"], "attempted": result["attempted"],
                      "failed": result["failed"], "metrics": metrics}))


if __name__ == "__main__":
    main()
