#!/bin/bash
# Interleaved A/B of the benchmark (perfbench/run.py, untraced): the
# committed files of <parent-rev> against this checkout's working tree.
#
#   tools/bench_ab.sh <parent-rev> <workload> <pairs> <first-seed> [seconds]
#
# Pair i runs both sides on seed <first-seed>+i, and the side that runs
# first alternates from pair to pair, so a drift in machine speed weighs on
# both sides alike. The parent is exported with `git archive` into a
# temporary directory; each side compiles into its own .bench_build, and
# perfbench/ is only read. Every run's JSON line goes to stdout as it
# finishes; then, per end-to-end metric of BENCHMARK.json, each side's
# median and quartiles and the number of pairs this checkout won.
set -uo pipefail
if [ $# -lt 4 ]; then
  sed -n '2,13p' "$0"
  exit 2
fi
rev=$1 workload=$2 pairs=$3 seed0=$4 secs=${5:-16}
root=$(cd "$(dirname "$0")/.." && pwd)
tmp=$(mktemp -d)
trap 'rm -rf "$tmp"' EXIT
mkdir "$tmp/parent"
git -C "$root" archive "$rev" | tar -x -C "$tmp/parent" || exit 1
runs="$tmp/runs.jsonl"

run() { # <side> <dir> <seed>
  local line
  line=$(cd "$2" && python3 perfbench/run.py --workload "$workload" --seed "$3" \
    --seconds "$secs" --trace 0 2>&1 | tail -n 1)
  [[ $line == "{"* ]] || line=null
  echo "{\"side\": \"$1\", \"seed\": $3, \"result\": $line}" | tee -a "$runs"
}

for ((i = 0; i < pairs; i++)); do
  seed=$((seed0 + i))
  if ((i % 2 == 0)); then
    run parent "$tmp/parent" "$seed"; run head "$root" "$seed"
  else
    run head "$root" "$seed"; run parent "$tmp/parent" "$seed"
  fi
done

python3 - "$runs" "$root/BENCHMARK.json" "$rev" <<'EOF'
import json, statistics, sys

runs = [json.loads(l) for l in open(sys.argv[1])]
bench = json.load(open(sys.argv[2]))
rev = sys.argv[3]
by = {"parent": {}, "head": {}}
for r in runs:
    by[r["side"]][r["seed"]] = r["result"]
seeds = sorted(set(by["parent"]) & set(by["head"]))
for side, res in by.items():
    ok = [s for s in seeds if res[s] and res[s]["correct"]]
    att = sum(res[s]["attempted"] for s in seeds if res[s])
    fail = sum(res[s]["failed"] for s in seeds if res[s])
    print(f"{side}: {len(ok)}/{len(seeds)} runs correct, {fail}/{att} operations failed")


def value(res, name):
    return res["metrics"][name]["value"] if res and name in res.get("metrics", {}) else None


def quartiles(xs):
    if len(xs) < 2:
        return xs[0], xs[0]
    q = statistics.quantiles(xs, n=4, method="inclusive")
    return q[0], q[2]


print(f"{'metric':<12} {'side':<6} {'median':>10} {'q1':>10} {'q3':>10}  pairs won by head")
for m in bench["end_to_end"]:
    name, lower = m["name"], m["better"] == "lower"
    pairs = [(value(by["parent"][s], name), value(by["head"][s], name)) for s in seeds]
    pairs = [(p, h) for p, h in pairs if p is not None and h is not None]
    if not pairs:
        continue
    won = sum((h < p) if lower else (h > p) for p, h in pairs)
    for side, xs in (("parent", [p for p, _ in pairs]), ("head", [h for _, h in pairs])):
        q1, q3 = quartiles(sorted(xs))
        tail = f"  {won}/{len(pairs)}" if side == "head" else f"  ({rev})"
        print(f"{name:<12} {side:<6} {statistics.median(xs):>10.3f} {q1:>10.3f} {q3:>10.3f}{tail}")
EOF
