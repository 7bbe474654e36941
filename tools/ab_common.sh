# Shared by tools/bench_ab.sh and tools/ab.sh; source it.
#
# ab_export <rev>: export the committed files of <rev> with `git archive`
# into "$tmp/parent", under a temporary directory "$tmp" that is removed
# on exit; "$root" is the checkout.
#
# ab_summary <runs.jsonl> <rev> [BENCHMARK.json [claimed-metric]]: one run
# per line, {"side": "parent"|"head", "pair": <id>, "result": null |
# {"correct", "attempted", "failed", "metrics": {<name>: {"value":
# <number>}}}}. Prints each side's correct runs and failed operations, then
# per metric each side's median and quartiles over the pairs where both
# sides have it, and the number of pairs the head won. Metrics come from
# the benchmark's end-to-end list when one is given (with its "better" and
# "bound"), else every metric the runs report, lower being better.
#
# With a benchmark, each metric gets a verdict. The claimed metric reads
# `gain` when the head won at least 9 in 10 pairs and its median is better
# by more than the parent's interquartile range, else `not met`; every
# other metric reads `within bound`, or `worse` when the head's median is
# worse than the parent's by more than the bound (a fraction of the
# parent's median). Either reads `unresolved` when the parent's
# interquartile range is wider than the bound, unless every head run beat
# every parent run.

root=$(cd "$(dirname "${BASH_SOURCE[0]}")/.." && pwd)

ab_export() {
  tmp=$(mktemp -d)
  trap 'rm -rf "$tmp"' EXIT
  mkdir "$tmp/parent"
  git -C "$root" archive "$1" | tar -x -C "$tmp/parent"
}

ab_summary() {
  python3 - "$@" <<'EOF'
import json, statistics, sys

runs = [json.loads(l) for l in open(sys.argv[1])]
rev = sys.argv[2]
by = {"parent": {}, "head": {}}
for r in runs:
    by[r["side"]][r["pair"]] = r["result"]
pairs = sorted(set(by["parent"]) & set(by["head"]))
for side, res in by.items():
    ok = [p for p in pairs if res[p] and res[p]["correct"]]
    att = sum(res[p]["attempted"] for p in pairs if res[p])
    fail = sum(res[p]["failed"] for p in pairs if res[p])
    print(f"{side}: {len(ok)}/{len(pairs)} runs correct, {fail}/{att} operations failed")

if len(sys.argv) > 3:
    metrics = [(m["name"], m["better"] == "lower", m["bound"])
               for m in json.load(open(sys.argv[3]))["end_to_end"]]
else:
    names = {n for res in by.values() for r in res.values() if r for n in r["metrics"]}
    metrics = [(n, True, None) for n in sorted(names)]
claim = sys.argv[4] if len(sys.argv) > 4 else None


def value(res, name):
    m = res.get("metrics", {}).get(name) if res else None
    return m["value"] if m else None


def quartiles(xs):
    if len(xs) < 2:
        return xs[0], xs[0]
    q = statistics.quantiles(xs, n=4, method="inclusive")
    return q[0], q[2]


def better(lower, a, b):
    """Whether head value b beats parent value a."""
    return b < a if lower else b > a


def verdict(name, lower, bound, parent, head, won):
    """The head's verdict on one metric; None without a bound."""
    if bound is None:
        return None
    p_med, h_med = statistics.median(parent), statistics.median(head)
    q1, q3 = quartiles(sorted(parent))
    if q3 - q1 > bound * abs(p_med):
        if all(better(lower, a, b) for a in parent for b in head):
            return "gain" if name == claim else "within bound"
        return "unresolved"
    if name == claim:
        met = 10 * won >= 9 * len(parent) and better(lower, p_med, h_med) and abs(h_med - p_med) > q3 - q1
        return "gain" if met else "not met"
    worse = h_med > p_med * (1 + bound) if lower else h_med < p_med * (1 - bound)
    return "worse" if worse else "within bound"


width = max([12] + [len(n) for n, _, _ in metrics])
print(f"{'metric':<{width}} {'side':<6} {'median':>10} {'q1':>10} {'q3':>10}  pairs won by head, verdict")
for name, lower, bound in metrics:
    both = [(value(by["parent"][p], name), value(by["head"][p], name)) for p in pairs]
    both = [(a, b) for a, b in both if a is not None and b is not None]
    if not both:
        continue
    won = sum(better(lower, a, b) for a, b in both)
    parent, head = [a for a, _ in both], [b for _, b in both]
    v = verdict(name, lower, bound, parent, head, won)
    for side, xs in (("parent", parent), ("head", head)):
        q1, q3 = quartiles(sorted(xs))
        tail = f"  {won}/{len(both)}" + (f", {v}" if v else "") if side == "head" else f"  ({rev})"
        print(f"{name:<{width}} {side:<6} {statistics.median(xs):>10.3f} {q1:>10.3f} {q3:>10.3f}{tail}")
EOF
}
