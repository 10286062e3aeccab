#!/usr/bin/env bash
# Two-parallelism scaling evidence (BASELINE.md protocol, north-rule proxy).
#
# Runs the IDENTICAL extraction job + input at N=1 executor and 4N=4
# executors, each level its own application JVM + real executor JVMs. Executor
# JVMs are sized honestly (ActiveProcessorCount=cores) so each behaves
# like a real executor of that size — otherwise a level borrows the idle
# cores for GC/compilation and the efficiency ratio is meaningless.
# Cores and heaps are sized from the host (nproc, /proc/meminfo).
#
# Usage: scripts/bench_scaling.sh [sf_dir] [amp]
set -euo pipefail
cd "$(dirname "$0")/.."

SF_DIR="${1:-/root/testdata/sf0.1}"
AMP="${2:-1000}"
JAR=target/scala-2.13/packagessgmlspark_2.13-0.1.0.jar
CP="$JAR:/opt/spark/jars/*"

[ -f "$JAR" ] || sbt -batch package

# Host sizing. Executors get 2 cores where 4N = 4 executors fits the host
# (>= 8 cores; the recorded protocol), else 1 core. Heaps: half of
# MemTotal clamped to [2, 8] GiB for the application JVM, and the same
# half split over the 4N level's 4 executors plus that JVM, clamped to
# [1, 4] GiB per executor.
NPROC=$(nproc)
EXEC_CORES=$(( NPROC >= 8 ? 2 : 1 ))
MEM_MB=$(awk '/^MemTotal:/ {print int($2 / 1024)}' /proc/meminfo)
MAIN_GB=$(( MEM_MB / 2048 )); MAIN_GB=$(( MAIN_GB < 2 ? 2 : MAIN_GB > 8 ? 8 : MAIN_GB ))
EXEC_MB=$(( MEM_MB / 2 / 5 )); EXEC_MB=$(( EXEC_MB < 1024 ? 1024 : EXEC_MB > 4096 ? 4096 : EXEC_MB ))

# One parallelism level = one driver JVM + real executor JVMs via Spark's
# local-cluster master: N executors × EXEC_CORES × EXEC_MB each. Executor JVMs
# are sized honestly (ActiveProcessorCount=cores, ParallelGC via
# Bench.session / spark.executor.extraJavaOptions) — the closest
# single-machine proxy for "spark-submit at N and 4N executors".
#
# Why small executors: the per-executor resources must be IDENTICAL at
# both levels and the host must be able to supply 4N executors without
# cross-executor interference. With 4×2=8 of 32 cores busy, per-core
# speed is the same at both levels (measured); at 4×7=28 busy cores the
# box itself saturates (shared memory bandwidth / L3 / frequency) and
# per-core speed drops ~28% — an artifact a real 4N-executor cluster,
# where every node is equally loaded at both sizes, does not have. The
# 28-core saturation point is still reported in BENCH/BASELINE.md. On a
# 4-core host the 4N level uses every core, so the same saturation
# applies to its number.
run_level() { # n_executors
  local n="$1"
  local total=$((n * EXEC_CORES))
  SPARK_GRAFT_SF_DIR="$SF_DIR" SPARK_GRAFT_AMP="$AMP" SPARK_GRAFT_CPUS="$total" \
    SPARK_HOME=/opt/spark SPARK_SCALA_VERSION=2.13 \
    java "-Xmx${MAIN_GB}g" -XX:+UseParallelGC \
    "-Dspark.master=local-cluster[$n,$EXEC_CORES,$EXEC_MB]" \
    -cp "$CP" graft.Bench extract 2>/dev/null | tail -1
}

echo "[scaling] corpus warm-up / generation ($NPROC cores)" >&2
SPARK_GRAFT_SF_DIR="$SF_DIR" SPARK_GRAFT_AMP="$AMP" SPARK_GRAFT_CPUS="$NPROC" \
  java "-Xmx${MAIN_GB}g" -cp "$CP" graft.Bench gen 2>/dev/null || true

echo "[scaling] N=1 executor ($EXEC_CORES cores)" >&2
J8=$(run_level 1)
echo "$J8"
echo "[scaling] 4N=4 executors ($((4 * EXEC_CORES)) cores)" >&2
J32=$(run_level 4)
echo "$J32"

TP8=$(echo "$J8" | sed -E 's/.*"value":([0-9.]+).*/\1/')
TP32=$(echo "$J32" | sed -E 's/.*"value":([0-9.]+).*/\1/')
EFF=$(python3 -c "print(f'{$TP32/(4*$TP8):.3f}')")
echo "{\"metric\":\"scaling_efficiency\",\"value\":$EFF,\"unit\":\"ratio\",\"queries\":{\"executors_n\":1,\"docs_per_sec_n\":$TP8,\"executors_4n\":4,\"docs_per_sec_4n\":$TP32},\"sf\":\"$SF_DIR\"}"
