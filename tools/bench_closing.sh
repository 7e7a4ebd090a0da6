#!/bin/bash
# ONE closing command — INTERLEAVED since r20 (VERDICT r19 #3): instead of two
# sequential 15-minute blocks (HEAD's whole bench, then the control's), the closing
# run alternates single-rep passes of the two builds inside one window:
#   HEAD pass 1 → control pass 1 → HEAD pass 2 → control pass 2 → ...
# Each build still gets PASSES samples per query (per-query MIN is the comparison
# basis, as before), but now every query's HEAD and control samples bracket each
# other in time, so ambient drift lands on BOTH builds and cancels per query —
# the r19 second pair showed 17 apparent regressions on byte-identical code purely
# because the two 15-minute blocks sampled different ambient windows.
#
# Granularity note: the interleaving unit is one full suite pass (~4 min), not one
# query — per-query alternation would pay a JVM + SparkSession start (~20 s) per
# query per build (179 × 2 × passes starts ≈ hours). A suite pass is well inside
# the ambient-drift timescale the r19 pairs measured (the +12% drift was across
# 50 minutes), so pass-level alternation cancels it.
#
# The pairing artifact (per-build folds, common-query min sums, their ratio and the
# per-query regressions) is written to target/bench_closing.json; no tracked file is
# touched.
#
# Usage: tools/bench_closing.sh <prior-commit-ish> [sfDir] [passes]
set -euo pipefail
cd "$(dirname "$0")/.."
source tools/heap.sh
COMMIT="${1:?usage: tools/bench_closing.sh <prior-commit-ish> [sfDir] [passes]}"
SFDIR="${2:-/root/testdata/sf0.1}"
PASSES="${3:-3}"
SHA=$(git rev-parse --short "$COMMIT")
SRC="target/control_src"

sbt -batch compile >/dev/null 2>&1 || { echo "[closing] HEAD compile FAILED" >&2; exit 1; }
echo "[closing] rebuilding control snapshot $SHA into $SRC" >&2
rm -rf "$SRC"; mkdir -p "$SRC"
git archive "$COMMIT" | tar -x -C "$SRC"
(cd "$SRC" && sbt -batch compile >/dev/null 2>&1) || {
  echo "[closing] control snapshot compile FAILED" >&2; exit 1; }

JVMFLAGS=("$(default_xmx)"
  --add-opens=java.base/java.lang=ALL-UNNAMED
  --add-opens=java.base/java.lang.invoke=ALL-UNNAMED
  --add-opens=java.base/java.lang.reflect=ALL-UNNAMED
  --add-opens=java.base/java.io=ALL-UNNAMED
  --add-opens=java.base/java.net=ALL-UNNAMED
  --add-opens=java.base/java.nio=ALL-UNNAMED
  --add-opens=java.base/java.util=ALL-UNNAMED
  --add-opens=java.base/java.util.concurrent=ALL-UNNAMED
  --add-opens=java.base/java.util.concurrent.atomic=ALL-UNNAMED
  --add-opens=java.base/jdk.internal.ref=ALL-UNNAMED
  --add-opens=java.base/sun.nio.ch=ALL-UNNAMED
  --add-opens=java.base/sun.nio.cs=ALL-UNNAMED
  --add-opens=java.base/sun.security.action=ALL-UNNAMED
  --add-opens=java.base/sun.util.calendar=ALL-UNNAMED)

T0=$(date -u +%FT%TZ)
PASS_TIMES=()
for i in $(seq 1 "$PASSES"); do
  PASS_TIMES+=("$(date -u +%FT%TZ)")
  echo "[closing] pass $i/$PASSES HEAD starting at ${PASS_TIMES[-1]}" >&2
  SPARK_GRAFT_SF_DIR="$SFDIR" SPARK_GRAFT_BENCH_REPS=1 \
    java -cp "target/scala-2.13/classes:/opt/spark/jars/*" "${JVMFLAGS[@]}" \
    graft.Bench >/dev/null 2>target/closing_head_p$i.err
  cp target/bench_full.json "target/closing_head_p$i.json"
  PASS_TIMES+=("$(date -u +%FT%TZ)")
  echo "[closing] pass $i/$PASSES control ($SHA) starting at ${PASS_TIMES[-1]}" >&2
  (cd "$SRC" && SPARK_GRAFT_SF_DIR="$SFDIR" SPARK_GRAFT_BENCH_REPS=1 \
    java -cp "target/scala-2.13/classes:/opt/spark/jars/*" "${JVMFLAGS[@]}" \
    graft.Bench >/dev/null 2>../closing_ctrl_p$i.err)
  cp "$SRC/target/bench_full.json" "target/closing_ctrl_p$i.json"
done

python3 - "$SHA" "$SFDIR" "$PASSES" "$T0" "${PASS_TIMES[@]}" <<'PY'
import json, sys
sha, sfdir, passes, t0 = sys.argv[1], sys.argv[2], int(sys.argv[3]), sys.argv[4]
pass_times = sys.argv[5:]

def fold(prefix):
    """Per-build fold over the interleaved passes: per-query min + the pass series."""
    runs = [json.load(open(f"target/{prefix}_p{i}.json")) for i in range(1, passes + 1)]
    qmins, qseries = {}, {}
    for q in set().union(*[set(r["queries"]) for r in runs]):
        vals = [r["queries"][q]["min"] for r in runs if q in r["queries"]]
        qmins[q] = min(vals)
        qseries[q] = [round(v, 3) for v in vals]
    return {
        "degraded_passes": [r.get("degraded") for r in runs],
        "degraded": any(r.get("degraded") for r in runs),
        "errors": {k: v for r in runs for k, v in (r.get("errors") or {}).items()},
        "queries_min": qmins,
        "queries_series": qseries,
    }

head, ctrl = fold("closing_head"), fold("closing_ctrl")
common = sorted(set(head["queries_min"]) & set(ctrl["queries_min"]))
h_sum = sum(head["queries_min"][q] for q in common)
c_sum = sum(ctrl["queries_min"][q] for q in common)
regressions = {
    q: {"head_min": round(head["queries_min"][q], 3),
        "control_min": round(ctrl["queries_min"][q], 3)}
    for q in common
    if head["queries_min"][q] > ctrl["queries_min"][q] * 1.10
    and head["queries_min"][q] - ctrl["queries_min"][q] > 0.1
}
art = {
    "note": "INTERLEAVED closing pairing (r20, VERDICT r19 #3): HEAD and control "
            "alternate single-rep suite passes inside one window; per-query min over "
            "passes is the comparison basis, and each query's samples from the two "
            "builds bracket each other in time so ambient drift cancels per query.",
    "interleaved": True,
    "passes": passes,
    "pass_started_utc": pass_times,
    "window_started_utc": t0,
    "sf": sfdir,
    "control_commit": sha,
    "common_queries": len(common),
    "common_min_sum_current": round(h_sum, 2),
    "common_min_sum_control": round(c_sum, 2),
    "current_over_control": round(h_sum / c_sum, 4) if c_sum else None,
    "regressions_gt10pct_and_100ms": regressions,
    "head": head,
    "control": ctrl,
}
with open("target/bench_closing.json", "w") as f:
    json.dump(art, f, indent=1)
print(f"[closing] interleaved x{passes}: common={len(common)} "
      f"head_min_sum={h_sum:.1f}s control_min_sum={c_sum:.1f}s "
      f"ratio={h_sum/c_sum:.3f} regressions={len(regressions)} "
      f"degraded_head={head['degraded']} degraded_ctrl={ctrl['degraded']}")
PY
