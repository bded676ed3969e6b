#!/usr/bin/env bash
# A/B bench control: current working tree vs a committed ref (default HEAD).
#
# The machine's run-to-run noise is ±20% on the fleet total (SCALE.md,
# round-9 note), so a single before/after pair cannot attribute a
# total-level delta. This tool is the scripted protocol that settles it:
# build both sides once, then run the full Bench fleet ALTERNATING
# control/current (interleaving cancels slow machine drift), and report
# per-query medians with ratios — only per-query ratios outside the
# noise band are worth investigating.
#
# Usage: tools/ab_bench.sh [reps=1] [control-ref=HEAD]
#   SPARK_GRAFT_SF_DIR / SPARK_GRAFT_CPUS etc. pass through to Bench.
#   reps=3 recommended before claiming any regression is real.
set -euo pipefail
REPS=${1:-1}
CTRL_REF=${2:-HEAD}
ROOT=$(git rev-parse --show-toplevel)
CTRL_DIR=${GRAFT_AB_CTRL_DIR:-/tmp/graft_ab_control}
OUT=${GRAFT_AB_OUT:-/tmp/graft_ab_out}
mkdir -p "$OUT"
# the out dir is reused across invocations — stale jsons from a prior
# session read as live progress (bit this on 2026-08-15); start clean
rm -f "$OUT"/ctrl_*.json "$OUT"/cur_*.json "$OUT"/*.json.err
CTRL_SHA=$(git -C "$ROOT" rev-parse "$CTRL_REF")

# control worktree (reused across invocations; re-pointed on ref change)
if [ -d "$CTRL_DIR/.git" ] || [ -f "$CTRL_DIR/.git" ]; then
  git -C "$CTRL_DIR" checkout -q --detach "$CTRL_SHA"
else
  git -C "$ROOT" worktree add --detach "$CTRL_DIR" "$CTRL_SHA" >&2
fi

echo "[ab] building current tree" >&2
(cd "$ROOT" && sbt -batch Compile/products >/dev/null)
echo "[ab] building control ($CTRL_REF = ${CTRL_SHA:0:9})" >&2
(cd "$CTRL_DIR" && sbt -batch Compile/products >/dev/null)

# mirrors build.sbt's javaOptions (Spark 4 on JDK 17 outside spark-submit)
ADD_OPENS=""
for p in java.lang java.lang.invoke java.lang.reflect java.io java.net \
         java.nio java.util java.util.concurrent java.util.concurrent.atomic \
         sun.nio.ch sun.nio.cs sun.security.action sun.util.calendar; do
  ADD_OPENS="$ADD_OPENS --add-opens java.base/$p=ALL-UNNAMED"
done

run_bench() { # $1=tree dir  $2=output json path
  (cd "$1" && java $ADD_OPENS "-Xmx${SPARK_DRIVER_MEM:-8g}" \
    -Dspark.ui.enabled=false -Dspark.sql.session.timeZone=UTC \
    -cp "target/scala-2.13/classes:/opt/spark/jars/*" graft.Bench \
    2>"$2.err" | grep -m1 '"metric"' >"$2") \
    || { echo "[ab] bench FAILED in $1 (stderr tail):" >&2; tail -5 "$2.err" >&2; exit 1; }
  # a failed query records a bogus-small timing (stale controls can't
  # read regenerated fixtures; resource-less builds can't find DSv2
  # sources) — surface it or the ratios lie
  local nfail
  nfail=$(grep -c "QUERY FAILED" "$2.err" || true)
  if [ "$nfail" -gt 0 ]; then
    echo "[ab] WARNING: $nfail QUERY FAILED in $2 — those rows' ratios are meaningless:" >&2
    grep "QUERY FAILED" "$2.err" | sed 's/^/[ab]   /' | head -30 >&2
  fi
}

for i in $(seq 1 "$REPS"); do
  echo "[ab] rep $i/$REPS: control" >&2
  run_bench "$CTRL_DIR" "$OUT/ctrl_$i.json"
  echo "[ab] rep $i/$REPS: current" >&2
  run_bench "$ROOT" "$OUT/cur_$i.json"
done

python3 "$ROOT/tools/ab_report.py" "$OUT" "$REPS"
