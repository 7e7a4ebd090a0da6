#!/bin/bash
# Same-day bench CONTROL (r14, VERDICT r13 #3 — automates the commit-af05409
# experiment that settled the r13 cross-day drift): rebuild a PRIOR round's committed
# snapshot from git, bench it on TODAY's machine with the same knobs, and stamp a
# "control" block into the current round's BENCH_full_rNN.json. Cross-day min
# comparisons without this control conflate machine drift with code drift (measured
# r13: the unchanged r12 snapshot ran ~8.6% slower same-day than on its own day).
#
# Usage: tools/bench_control.sh <prior-commit-ish> [sfDir]
# Run AFTER the round's own Bench has written BENCH_full_rNN.json (the block is
# injected into the highest-numbered one present).
set -euo pipefail
cd "$(dirname "$0")/.."
source tools/heap.sh
XMX=$(default_xmx)
COMMIT="${1:?usage: tools/bench_control.sh <prior-commit-ish> [sfDir]}"
SFDIR="${2:-/root/testdata/sf0.1}"
SHA=$(git rev-parse --short "$COMMIT")
SRC="target/control_src"

echo "[control] rebuilding snapshot $SHA into $SRC" >&2
rm -rf "$SRC"; mkdir -p "$SRC"
git archive "$COMMIT" | tar -x -C "$SRC"
(cd "$SRC" && sbt -batch compile >/dev/null 2>&1) || {
  echo "[control] snapshot compile FAILED" >&2; exit 1; }

echo "[control] benching snapshot $SHA on $SFDIR" >&2
(cd "$SRC" && SPARK_GRAFT_SF_DIR="$SFDIR" \
  java -cp "target/scala-2.13/classes:/opt/spark/jars/*" "$XMX" \
  --add-opens=java.base/java.lang=ALL-UNNAMED \
  --add-opens=java.base/java.lang.invoke=ALL-UNNAMED \
  --add-opens=java.base/java.lang.reflect=ALL-UNNAMED \
  --add-opens=java.base/java.io=ALL-UNNAMED \
  --add-opens=java.base/java.net=ALL-UNNAMED \
  --add-opens=java.base/java.nio=ALL-UNNAMED \
  --add-opens=java.base/java.util=ALL-UNNAMED \
  --add-opens=java.base/java.util.concurrent=ALL-UNNAMED \
  --add-opens=java.base/java.util.concurrent.atomic=ALL-UNNAMED \
  --add-opens=java.base/jdk.internal.ref=ALL-UNNAMED \
  --add-opens=java.base/sun.nio.ch=ALL-UNNAMED \
  --add-opens=java.base/sun.nio.cs=ALL-UNNAMED \
  --add-opens=java.base/sun.security.action=ALL-UNNAMED \
  --add-opens=java.base/sun.util.calendar=ALL-UNNAMED \
  graft.Bench >/dev/null)

python3 - "$SHA" "$SRC/target/bench_full.json" <<'PY'
import glob, json, re, sys
sha, ctrl_path = sys.argv[1], sys.argv[2]
ctrl = json.load(open(ctrl_path))
# sort by the extracted integer round number, not lexically: a lexical sort picks the
# wrong artifact as soon as a round number is unpadded or reaches 3 digits (ADVICE r14)
# skip stray files whose suffix after _r is non-numeric instead of raising
# AttributeError on NoneType.group (ADVICE r15 #3)
target = max((p for p in glob.glob("BENCH_full_r*.json")
              if re.search(r"_r(\d+)\.json$", p)),
             key=lambda p: int(re.search(r"_r(\d+)\.json$", p).group(1)))
cur = json.load(open(target))
common = sorted(set(cur["queries"]) & set(ctrl["queries"]))
cur_min = sum(cur["queries"][q]["min"] for q in common)
ctl_min = sum(ctrl["queries"][q]["min"] for q in common)
cur["control"] = {
    "commit": sha,
    "sf": ctrl.get("sf"),
    "degraded": ctrl.get("degraded"),
    "common_queries": len(common),
    "common_min_sum_control": round(ctl_min, 2),
    "common_min_sum_current": round(cur_min, 2),
    "current_over_control": round(cur_min / ctl_min, 4) if ctl_min else None,
    "queries_min": {q: ctrl["queries"][q]["min"] for q in common},
}
json.dump(cur, open(target, "w"))
# the driver's own post-round Bench overwrites BENCH_full_rNN.json, which would drop
# the injected control block — persist the pairing in its own round artifact too
pair = {
    "note": "same-day prior-snapshot control paired with the builder's closing run; "
            "survives the driver's post-round overwrite of " + target,
    "closing_run_queries_min": {q: cur["queries"][q]["min"] for q in cur["queries"]},
    "control": cur["control"],
}
json.dump(pair, open(target.replace("BENCH_full_", "BENCH_control_"), "w"))
print(f"[control] {target}: common={len(common)} control_min_sum={ctl_min:.1f}s "
      f"current_min_sum={cur_min:.1f}s ratio={cur_min/ctl_min:.3f} "
      f"control_degraded={ctrl.get('degraded')}")
PY
