#!/usr/bin/env python3
"""Build and run the extraction engine's benchmark.

    python3 perfbench/run.py [--workload NAME|all] [--seed N] [--seconds S] [--trace 0|1]

Run it from the repository root. The first run compiles the engine through
the repository's own sbt build (unchanged) and the benchmark against those
classes, offline; later runs reuse the build until a source file changes.
Each workload runs in its own JVM on local[cores]. The last line of stdout
is one JSON object: {"correct", "attempted", "failed", "metrics"}; --trace 0
prints the end-to-end metrics, --trace 1 the per-layer ones. Build output,
logs and per-run reports go to .bench_build/.
"""
import argparse
import hashlib
import json
import os
import shutil
import subprocess
import sys

WORKLOADS = ["extract_mixed", "table_lifecycle"]
ROOT = os.getcwd()
BENCH = os.path.join(ROOT, "perfbench")
OUT = os.path.join(ROOT, ".bench_build")
# a run that outlives this is stopped and reported as failed
RUN_TIMEOUT_S = 170
HEAP = "2g"
ADD_OPENS = [
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
    "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
    "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar",
]


def die(msg, code=2):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(code)


def sources():
    """Every file the build reads, in a stable order."""
    out = [os.path.join(ROOT, "build.sbt"), os.path.join(BENCH, "build.sbt")]
    for top in (os.path.join(ROOT, "src", "main"), os.path.join(BENCH, "src", "main"),
                os.path.join(ROOT, "project"), os.path.join(BENCH, "project")):
        for d, dirs, files in os.walk(top):
            dirs[:] = sorted(x for x in dirs if x not in ("target", "project"))
            out += [os.path.join(d, f) for f in sorted(files)
                    if f.endswith((".scala", ".java", ".sbt", ".properties"))]
    return out


def build():
    """Compile engine and benchmark unless the last build saw the same
    sources; returns the runtime classpath."""
    for need in ("build.sbt", os.path.join("src", "main", "scala"), os.path.join("perfbench", "build.sbt")):
        if not os.path.exists(os.path.join(ROOT, need)):
            die(f"{need} not found: run from the root of a full checkout of the repository", 3)
    h = hashlib.sha256()
    for p in sources():
        h.update(p.encode())
        with open(p, "rb") as f:
            h.update(f.read())
    stamp = os.path.join(OUT, "build.stamp")
    cp_file = os.path.join(OUT, "classpath.txt")
    if os.path.exists(stamp) and os.path.exists(cp_file) and open(stamp).read() == h.hexdigest():
        return open(cp_file).read().strip()
    os.makedirs(OUT, exist_ok=True)
    env = dict(os.environ, COURSIER_MODE="offline")
    if "SBT_OPTS" not in env:
        opts = ["-Dsbt.offline=true", "-Xmx2g"]
        repos = os.path.expanduser(os.path.join("~", ".sbt", "repositories"))
        if os.path.exists(repos):
            opts += ["-Dsbt.override.build.repos=true", f"-Dsbt.repository.config={repos}"]
        env["SBT_OPTS"] = " ".join(opts)
    # keep the build's scratch files inside the checkout too
    tmp = os.path.join(OUT, "tmp")
    os.makedirs(tmp, exist_ok=True)
    env["SBT_OPTS"] += f" -XX:-UsePerfData -Djava.io.tmpdir={tmp}"
    log_path = os.path.join(OUT, "build.log")
    with open(log_path, "w") as log:
        p = subprocess.run(["sbt", "--batch", "-Dsbt.log.noformat=true", "compile",
                            "export perfbench/Runtime/fullClasspath"],
                           cwd=BENCH, env=env, stdout=subprocess.PIPE, stderr=log, text=True)
    lines = [l for l in p.stdout.splitlines() if l.strip()]
    with open(log_path, "a") as log:
        log.write(p.stdout)
    if p.returncode != 0 or not lines or "perfbench" not in lines[-1]:
        die(f"build failed (exit {p.returncode}); see {log_path}", 4)
    with open(cp_file, "w") as f:
        f.write(lines[-1])
    with open(stamp, "w") as f:
        f.write(h.hexdigest())
    return lines[-1]


def run_one(cp, workload, seed, seconds, trace):
    """Run one workload in its own JVM; returns its result object."""
    logs = os.path.join(OUT, "logs")
    tmp = os.path.join(OUT, "tmp")
    # scratch left by a run that was stopped
    for d in ("work", "spark-local", "tmp"):
        shutil.rmtree(os.path.join(OUT, d), ignore_errors=True)
    for d in (logs, tmp):
        os.makedirs(d, exist_ok=True)
    cmd = (["java"] + [a for p in ADD_OPENS for a in ("--add-opens", f"java.base/{p}=ALL-UNNAMED")]
           + [f"-Xmx{HEAP}", "-XX:+UseParallelGC", "-XX:-UsePerfData",
              "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
              f"-Dspark.local.dir={os.path.join(OUT, 'spark-local')}",
              f"-Djava.io.tmpdir={tmp}",
              "-cp", cp, "perfbench.Main",
              "--workload", workload, "--seed", str(seed), "--seconds", str(seconds),
              "--trace", str(trace), "--out", OUT])
    log_path = os.path.join(logs, f"{workload}-seed{seed}-trace{trace}.log")
    with open(log_path, "w") as log:
        proc = subprocess.Popen(cmd, cwd=ROOT, stdout=subprocess.PIPE, stderr=log, text=True)
        try:
            out, _ = proc.communicate(timeout=RUN_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
            die(f"{workload} ran past {RUN_TIMEOUT_S}s and was stopped; see {log_path}", 5)
    lines = out.splitlines()
    for l in lines[:-1]:
        print(l)
    if proc.returncode != 0 or not lines:
        with open(log_path) as f:
            sys.stderr.write("".join(f.readlines()[-30:]))
        die(f"{workload} failed (exit {proc.returncode}); see {log_path}", 6)
    return json.loads(lines[-1])


def main():
    ap = argparse.ArgumentParser(description=__doc__, formatter_class=argparse.RawDescriptionHelpFormatter)
    ap.add_argument("--workload", default="all", choices=WORKLOADS + ["all"])
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=10)
    ap.add_argument("--trace", type=int, default=0, choices=[0, 1])
    a = ap.parse_args()
    cp = build()
    if a.workload != "all":
        print(json.dumps(run_one(cp, a.workload, a.seed, a.seconds, a.trace)))
        return
    results = {w: run_one(cp, w, a.seed, a.seconds, a.trace) for w in WORKLOADS}
    for w, r in results.items():
        print(w, json.dumps(r))
    print(json.dumps({
        "correct": all(r["correct"] for r in results.values()),
        "attempted": sum(r["attempted"] for r in results.values()),
        "failed": sum(r["failed"] for r in results.values()),
        "metrics": {f"{w}.{k}": v for w, r in results.items() for k, v in r["metrics"].items()},
    }))


if __name__ == "__main__":
    main()
