#!/bin/bash
# Decade-probe wrapper: runs `graft.Bench <query>` on one named query at a time under a
# disk watchdog (a kneeing query can write 60+ GB/min of shuffle), with a hard
# wall-clock timeout, and prints the query's [min,med] entry from Bench's stdout line
# (or its error entry).
# Usage:
#   tools/probe.sh <sfDir> <timeoutSec> <query> [query...]
# Env passthrough: SPARK_GRAFT_SHUFFLE, SPARK_GRAFT_CPUS, SPARK_GRAFT_BENCH_REPS
# (default 1 here: a probe is a spot measurement). Bench's per-rep timeout is set to
# <timeoutSec>, so only the watchdog bounds a probe; the stale-build-JVM sweep is off,
# so a probe never touches a concurrent build.
#
# Isolation contract (r19): each query runs in its own JVM with its OWN
# spark.local.dir under a per-run scratch root, launched via setsid so the
# watchdog kill takes the WHOLE process group (timeout + java) — a kill can't
# orphan the JVM and let it keep writing shuffle after "KILLED". Cleanup is
# scoped to this run's scratch dir only (never a blanket /tmp/blockmgr-* rm
# that would delete temp dirs of other live Spark processes), and the df
# watchdog reads the mount that actually holds the scratch dir.
cd "$(dirname "$0")/.." || exit 1
SFDIR="$1"; TMO="$2"; shift 2
SCRATCH_ROOT="${SPARK_GRAFT_PROBE_SCRATCH:-/tmp}"
for q in "$@"; do
  # fail THIS query loudly if the scratch root is unusable — an empty LOCALDIR would
  # hand the JVM a broken spark.local.dir AND silently disable the df watchdog
  # (its -n guard skips the check when df "" fails), leaving the probe unprotected
  # against disk fill (ADVICE r19 #1)
  LOCALDIR=$(mktemp -d "$SCRATCH_ROOT/graft-probe-${q}-XXXXXX") || {
    echo "PROBE $q SKIPPED: scratch dir unavailable under $SCRATCH_ROOT"; continue; }
  setsid timeout --signal=KILL "$TMO" \
    env SPARK_GRAFT_SF_DIR="$SFDIR" SPARK_GRAFT_BENCH_REPS="${SPARK_GRAFT_BENCH_REPS:-1}" \
    SPARK_GRAFT_QUERY_TIMEOUT_SEC="$TMO" SPARK_GRAFT_KILL_STALE=0 \
    tools/run.sh "-Dspark.local.dir=$LOCALDIR" graft.Bench "$q" \
    > "target/probe_${q}.log" 2>&1 &
  PID=$!
  while kill -0 $PID 2>/dev/null; do
    USE=$(df --output=pcent "$LOCALDIR" 2>/dev/null | tail -1 | tr -dc '0-9')
    if [ -n "$USE" ] && [ "$USE" -ge 80 ]; then
      echo "PROBE $q KILLED: disk watchdog at ${USE}% on $(df --output=target "$LOCALDIR" | tail -1 | tr -d ' ')"
      kill -9 -- -$PID 2>/dev/null
      sleep 2
      break
    fi
    sleep 5
  done
  wait $PID 2>/dev/null
  RC=$?
  # the query's entry in Bench's stdout line: "q":[min,med] when timed, "q":"msg" when
  # it failed
  ENTRY=$(grep -h '^{"metric":"total"' "target/probe_${q}.log" | tail -1 |
    grep -oE "\"$q\":(\[[^]]*\]|\"[^\"]*\")")
  if [ -n "$ENTRY" ]; then echo "PROBE $ENTRY"; else echo "PROBE $q DIED rc=$RC (see target/probe_${q}.log)"; fi
  rm -rf "$LOCALDIR" 2>/dev/null
done
