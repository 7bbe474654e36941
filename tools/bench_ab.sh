#!/bin/bash
# Interleaved A/B of the benchmark (perfbench/run.py, untraced): the
# committed files of <parent-rev> against this checkout's working tree.
#
#   tools/bench_ab.sh <parent-rev> <workload> <pairs> <first-seed> [seconds] [claimed-metric]
#
# Pair i runs both sides on seed <first-seed>+i, and the side that runs
# first alternates from pair to pair, so a drift in machine speed weighs on
# both sides alike. The parent is exported with `git archive` into a
# temporary directory; each side compiles into its own .bench_build, and
# perfbench/ is only read. Every run's JSON line goes to stdout as it
# finishes; then, per end-to-end metric of BENCHMARK.json, each side's
# median and quartiles, the number of pairs this checkout won and a
# verdict: the claimed metric (if named) against the gain rule, every
# other metric against its bound (tools/ab_common.sh).
set -uo pipefail
if [ $# -lt 4 ]; then
  sed -n '2,15p' "$0"
  exit 2
fi
rev=$1 workload=$2 pairs=$3 seed0=$4 secs=${5:-16} claim=${6:-}
. "$(dirname "$0")/ab_common.sh"
ab_export "$rev" || exit 1
runs="$tmp/runs.jsonl"

run() { # <side> <dir> <seed>
  local line
  line=$(cd "$2" && python3 perfbench/run.py --workload "$workload" --seed "$3" \
    --seconds "$secs" --trace 0 2>&1 | tail -n 1)
  [[ $line == "{"* ]] || line=null
  echo "{\"side\": \"$1\", \"pair\": $3, \"result\": $line}" | tee -a "$runs"
}

for ((i = 0; i < pairs; i++)); do
  seed=$((seed0 + i))
  if ((i % 2 == 0)); then
    run parent "$tmp/parent" "$seed"; run head "$root" "$seed"
  else
    run head "$root" "$seed"; run parent "$tmp/parent" "$seed"
  fi
done

ab_summary "$runs" "$rev" "$root/BENCHMARK.json" $claim
