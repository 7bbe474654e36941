#!/bin/bash
# Interleaved per-query A/B of graft.Bench: the committed files of
# <parent-rev> against this checkout's working tree.
#
#   tools/ab.sh <parent-rev> <pairs> <key>...
#
# Both sides run `sbt -batch "runMain graft.Bench <key>..."` in their own
# directory, so each keeps its own build.sbt (fork options, heap), and
# Bench's environment (SPARK_GRAFT_SF_DIR, SPARK_GRAFT_CPUS,
# SPARK_GRAFT_BENCH_REPS) applies to both. Both sides compile first; then
# the side that runs first alternates from pair to pair, so a drift in
# machine speed weighs on both sides alike. Every Bench JSON line goes to
# stdout as it finishes; then, per key, each side's median and quartiles
# of Bench's seconds and the number of pairs this checkout won.
set -uo pipefail
if [ $# -lt 3 ]; then
  sed -n '2,14p' "$0"
  exit 2
fi
rev=$1 pairs=$2
shift 2
keys="$*"
. "$(dirname "$0")/ab_common.sh"
ab_export "$rev" || exit 1
runs="$tmp/runs.jsonl"

for dir in "$tmp/parent" "$root"; do
  (cd "$dir" && sbt -batch compile > "$tmp/compile.log" 2>&1) ||
    { cat "$tmp/compile.log"; exit 1; }
done

run() { # <side> <dir> <pair>
  (cd "$2" && sbt -batch "runMain graft.Bench $keys" 2>&1) |
    sed -n 's/^\[info\] \({"metric":"total".*\)$/\1/p' | tail -n 1 |
    python3 -c '
import json, sys
line = sys.stdin.read().strip()
b = json.loads(line) if line else None
print(json.dumps({"side": sys.argv[1], "pair": int(sys.argv[2]), "result": b and {
    "correct": b["failures"] == 0, "attempted": len(b["queries"]),
    "failed": b["failures"],
    "metrics": {k: {"value": v} for k, v in b["queries"].items() if v >= 0}}}))
' "$1" "$3" | tee -a "$runs"
}

for ((i = 0; i < pairs; i++)); do
  if ((i % 2 == 0)); then
    run parent "$tmp/parent" "$i"; run head "$root" "$i"
  else
    run head "$root" "$i"; run parent "$tmp/parent" "$i"
  fi
done

ab_summary "$runs" "$rev"
