#!/bin/bash
# N-vs-4N executor scaling evidence via real spark-submit (BASELINE.md).
# local-cluster[n,cores,memMB] launches n SEPARATE executor JVMs — the
# closest single-machine analogue of an n-executor cluster.
#
# Protocol: this host's throughput wanders ±30% on a minutes scale
# (shared VM), which dominates any single N/4N pair measured minutes
# apart — raw pairs ranged 0.58-1.06 on identical code. So the script
# runs PAIRS x alternating N / 4N invocations and reports the
# efficiency of per-side MEDIANS plus every raw sample, so one slow
# window cannot silently dent (or inflate) one side.
#
# usage: BENCH/run_scaling.sh [nConvs] [coresPerExecutor] [execMemMB] [pairs]
set -euo pipefail
cd "$(dirname "$0")/.."

NCONVS="${1:-160000}"
CORES="${2:-4}"
MEM="${3:-10240}"
PAIRS="${4:-3}"
SUBMIT=/opt/spark/bin/spark-submit
JAR=target/scala-2.13/pdfparsertsspark_2.13-0.1.0.jar
# one temp dir per run: the table plus one stderr log per spark-submit
WORK=$(mktemp -d /tmp/graft_scaling_XXXX)
TABLE="$WORK/table"
# wall-clock bound per spark-submit: a driver whose executors cannot
# start waits for resources forever instead of failing
STEP_TIMEOUT=1800

# submit <log name> <spark-submit args...>: prints the JSON result lines;
# on a failure, a timeout or no result, names the log, prints its tail
# and stops the script
submit() {
  local log="$WORK/$1.log"
  shift
  local out
  if out=$(timeout -k 30 "$STEP_TIMEOUT" "$SUBMIT" "$@" 2>"$log") &&
     out=$(grep '^{' <<<"$out"); then
    echo "$out"
  else
    echo "spark-submit failed, timed out (${STEP_TIMEOUT}s) or printed no result; log: $log" >&2
    tail -n 25 "$log" >&2
    exit 1
  fi
}

sbt -batch package >/dev/null

# maxPartitionBytes: the extraction kernel costs ~0.3 ms/turn, so scan
# splits must be CPU-balanced, not byte-balanced. The 160k-conv table is
# ~85 MB in 512 files; at the 128 MB default the job collapses to ~17
# tasks = 2.1 waves on the 4x2 cluster, and the partial last wave idles
# up to half the cores. 2 MB splits -> ~110 tasks -> tail amortized.
# Executor JVMs pin GC and JIT threads to their CORE COUNT. On
# local-cluster every executor JVM sees the whole box's 32 vCPUs and
# sizes ParallelGC to ~23 threads: the 4N side then runs 4 x 23 GC
# threads against 32 cores (measured -8% on 4x4), while the 1-executor
# side borrows 28 idle cores for its GC pauses (+3%) — something no
# real cluster container can do. Pinning both sides is the
# container-faithful configuration (YARN/K8s executors GC within their
# own cpu quota); A/B evidence in BASELINE.md. The JIT pool cannot go
# below 2 threads with tiered compilation (a JVM given 1 does not start).
JIT_THREADS=$(( CORES < 2 ? 2 : CORES ))
EXEC_OPTS="-XX:+UseParallelGC -XX:ParallelGCThreads=$CORES -XX:CICompilerCount=$JIT_THREADS"
COMMON=(--conf spark.ui.enabled=false
        --conf spark.sql.session.timeZone=UTC
        --conf spark.sql.adaptive.enabled=true
        --conf spark.sql.files.maxPartitionBytes=2m
        --conf spark.sql.files.openCostInBytes=262144
        --conf "spark.executor.extraJavaOptions=$EXEC_OPTS"
        --conf spark.driver.extraJavaOptions=-XX:+UseParallelGC
        --driver-memory 8g)

echo "== prep: $NCONVS conversations -> $TABLE"
submit prep --master "local[32]" "${COMMON[@]}" \
  --conf spark.sql.shuffle.partitions=32 \
  --class graft.Main "$JAR" synth "$TABLE" "$NCONVS"

# per-pair CPU calibration (graft.tools.CalibProbe via plain java — no
# Spark session): the bench protocol learned in round 5 that artifacts
# must label their own windows; scaling artifacts get the same defense.
# Idle envelope ~14-15k M iters/s at 32 threads on this box.
CALIB_CP="$JAR:$(echo /opt/spark/jars/*.jar | tr ' ' ':')"
calib32() { java -cp "$CALIB_CP" graft.tools.CalibProbe 32 2>/dev/null \
  | sed -n 's/calib_32t=\([0-9.]*\).*/\1/p'; }

N_SAMPLES=()
N4_SAMPLES=()
CALIBS=()
for p in $(seq 1 "$PAIRS"); do
  CAL=$(calib32) || { echo "CPU calibration (graft.tools.CalibProbe) failed" >&2; exit 1; }
  CALIBS+=("$CAL")
  echo "== pair $p/$PAIRS calib_32t=$CAL M iters/s"
  echo "== pair $p/$PAIRS: N = 1 executor x $CORES cores"
  N_OUT=$(submit "N$p" --master "local-cluster[1,$CORES,$MEM]" "${COMMON[@]}" \
    --conf spark.sql.shuffle.partitions=$CORES \
    --class graft.Main "$JAR" scale "$TABLE" "N$p")
  echo "$N_OUT"
  N_SAMPLES+=("$N_OUT")

  echo "== pair $p/$PAIRS: 4N = 4 executors x $CORES cores"
  N4_OUT=$(submit "4N$p" --master "local-cluster[4,$CORES,$MEM]" "${COMMON[@]}" \
    --conf spark.sql.shuffle.partitions=$((CORES * 4)) \
    --class graft.Main "$JAR" scale "$TABLE" "4N$p")
  echo "$N4_OUT"
  N4_SAMPLES+=("$N4_OUT")
done

python3 - "$CORES" "$PAIRS" "${CALIBS[@]}" "${N_SAMPLES[@]}" "${N4_SAMPLES[@]}" <<'EOF'
import json, statistics, sys
cores, pairs = int(sys.argv[1]), int(sys.argv[2])
calibs = [float(c) for c in sys.argv[3:3 + pairs]]
rows = [json.loads(a) for a in sys.argv[3 + pairs:]]
ns, n4s = rows[:pairs], rows[pairs:]
n_med = statistics.median(r["turns_per_sec"] for r in ns)
n4_med = statistics.median(r["turns_per_sec"] for r in n4s)
eff = (n4_med / n_med) / 4
pair_effs = [(b["turns_per_sec"] / a["turns_per_sec"]) / 4 for a, b in zip(ns, n4s)]
turns, lines = ns[0]["turns"], ns[0]["lines"]

def fmt(rs):
    return ", ".join(f"{r['turns_per_sec']:.0f}" for r in rs)

md = f"""## Scaling evidence (N vs 4N executors) — BENCH/run_scaling.sh

Identical job (read conv_id-bucketed transcripts table -> extract_turn
every document turn -> count lines), identical on-disk input, run via
**spark-submit** at two cluster sizes using `local-cluster` (separate
executor JVMs on one 32-core box). {pairs} alternating N/4N pairs;
medians defend against the host's minutes-scale throughput wander.

| side | executors x cores | samples (turns/sec) | median |
|---|---|---|---|
| N  | 1 x {cores} | {fmt(ns)} | {n_med:.1f} |
| 4N | 4 x {cores} | {fmt(n4s)} | {n4_med:.1f} |

**Scaling efficiency (median_4N / median_N) / 4 = {eff:.3f}** (target >= 0.8).
Per-pair efficiencies: {", ".join(f"{e:.3f}" for e in pair_effs)}.
Per-pair CPU calibration (32-thread burn before each pair; idle envelope
~14-15k M iters/s): {", ".join(f"{c:.0f}" for c in calibs)}.
{turns} turns / {lines} extracted lines per run.

Hardware control: this sandbox's vCPUs themselves do not scale
linearly — a pure-CPU multiprocessing burn (no memory traffic, no JVM)
measures 1->2->4->8->16->32 procs at 22/42/80/152/302/463 M iters/s,
i.e. the MACHINE caps 8->32-core efficiency at ~0.76 while 4->16 cores
reaches ~0.94. The N=1x{cores} vs 4N=4x{cores} executor comparison is
therefore run in the regime where the hardware itself can express
4x scaling; on a real multi-host cluster each executor owns its cores.

Per-size settings: spark.sql.shuffle.partitions = total cores;
CPU-balanced scan splits (maxPartitionBytes=2m — see BASELINE.md);
AQE enabled (runtime coalescing + skew-join splitting); ParallelGC on
executors (the extraction kernel is allocation-heavy) with GC/JIT
thread pools PINNED to each executor's core count — the
container-faithful configuration (see BASELINE.md's GC-pinning
section; unpinned local-cluster JVMs size their pools to the whole
box, biasing BOTH sides of the ratio); input bucketed
by pmod(xxhash64(conv_id), 128) with 4 salted files per bucket so
long-conversation skew amortizes across read tasks. Extraction itself
is map-only — no shuffle — so scaling is bounded by task scheduling,
I/O and the shared memory bandwidth of the single test box.
"""
open(f"BENCH/scaling_1x{cores}_vs_4x{cores}.md","w").write(md)
print(md)
EOF
rm -rf "$WORK"
