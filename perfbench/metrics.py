"""Pure functions that turn the JVM's raw measurements into metrics.

Kept free of I/O so test_metrics.py can check each rule on small inputs.
"""
import bisect
import math
import statistics


def percentile(values, p):
    """The p-th percentile by linear interpolation between ranks."""
    xs = sorted(values)
    if not xs:
        raise ValueError("no samples")
    pos = (len(xs) - 1) * p / 100.0
    lo = math.floor(pos)
    hi = min(lo + 1, len(xs) - 1)
    return xs[lo] + (xs[hi] - xs[lo]) * (pos - lo)


def supported(n, p, beyond=10):
    """A percentile is reported only when at least `beyond` samples lie
    above it: n * (1 - p/100) >= beyond."""
    return n * (100.0 - p) / 100.0 >= beyond - 1e-9


def tail(values, p):
    """percentile(values, p), or None when too few samples lie beyond it."""
    return percentile(values, p) if supported(len(values), p) else None


def median(values):
    return statistics.median(values)


# ------------------------------------------------------------ stream latency

def commit_times(progress, name):
    """(end offset, commit time ms) of each data batch of one query, in
    offset order.  A batch commits at its trigger start plus its
    triggerExecution duration."""
    out = []
    for ev in progress:
        if ev["name"] != name or ev.get("end_offset") is None:
            continue
        out.append((int(ev["end_offset"]), ev["end"]))
    out.sort()
    return out


def attribute(ticks, commits):
    """Latency of each offered tick: the commit time of the first batch
    whose end offset covers the tick's offset, minus the tick's scheduled
    send time.  Returns one latency (ms) per tick, None where no batch
    committed it."""
    ends = [e for e, _ in commits]
    out = []
    for t in ticks:
        i = bisect.bisect_left(ends, t["offset"])
        out.append(commits[i][1] - t["sched_ms"] if i < len(commits) else None)
    return out


def backlog(ticks, commits):
    """Peak number of frames sent but not yet committed, looked at each
    time a batch commits."""
    peak = 0
    for end, at in commits:
        peak = max(peak, sum(t["frames"] for t in ticks
                             if t["sched_ms"] + t["late_ms"] <= at and t["offset"] > end))
    return peak


def expand(latencies, weights):
    """One sample per frame: each tick's latency repeated once per frame
    (or per alert) it carried."""
    out = []
    for lat, w in zip(latencies, weights):
        if lat is not None:
            out.extend([lat] * w)
    return out


# ------------------------------------------------------------ batch outputs

def batch_failures(samples, expected, oracle_ok):
    """Timed executions that failed: an error, a digest other than the
    warm pass's, or a query whose warm result disagreed with the oracle."""
    failed = 0
    for s in samples:
        q = s["query"]
        if s.get("error") or s.get("digest") is None:
            failed += 1
        elif expected.get(q) != s["digest"] or not oracle_ok.get(q, False):
            failed += 1
    return failed


def stream_counters_ok(counters, check, ingested, valid):
    """ingested = valid + malformed and valid = unique + duplicate, with
    ingested and valid read from the stream and the rest from the
    generator and the lake."""
    return (ingested == counters["offered"]
            and ingested == valid + counters["malformed"]
            and valid == check["valid"]
            and valid == check["unique"] + counters["duplicates"])


# ------------------------------------------------------------ traced spans

def union_ms(intervals):
    """Total length covered by a set of [start, end] intervals."""
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted(intervals):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


LAYER_OF = {
    "construct": "operators",
    "plan": "plans", "queryPlanning": "plans",
    "write": "exec", "job": "exec", "stage": "exec",
    "addBatch": "sources",
    "micro_batch": "streaming", "latestOffset": "streaming", "getBatch": "streaming",
    "walCommit": "streaming", "commitOffsets": "streaming",
}
BATCH_PHASES = ["latestOffset", "walCommit", "getBatch", "queryPlanning", "addBatch", "commitOffsets"]


def stream_spans(progress):
    """Spans for each micro-batch and its phases, laid out in the order a
    micro-batch runs them, from the progress durations."""
    out = []
    for ev in progress:
        bid = f"mb:{ev['id']}:{ev['batch']}"
        out.append({"id": bid, "name": "micro_batch", "start": ev["start"], "end": ev["end"],
                    "parent": None, "attrs": {"stream": ev["id"]}})
        t = ev["start"]
        for ph in BATCH_PHASES:
            d = ev["durations"].get(ph, 0)
            if d > 0:
                out.append({"id": f"{bid}:{ph}", "name": ph, "start": t, "end": t + d,
                            "parent": bid, "attrs": {"stream": ev["id"]}})
                t += d
    return out


def layer_of(span):
    if span["name"] == "sql":
        return "sources" if span["attrs"].get("lake_write") else "exec"
    return LAYER_OF.get(span["name"])


def attach_parents(spans):
    """Give every span without a parent the innermost span that contains
    it; a stage goes under its job, and a job under its SQL execution."""
    sql = {s["attrs"].get("sql"): s["id"] for s in spans if s["name"] == "sql"}
    stage_job = {}
    for s in spans:
        if s["name"] == "job":
            for st in s["attrs"].get("stages", []):
                stage_job[st] = s["id"]
    # jobs and stages parent only through their ids; among the rest the
    # innermost container wins, and on equal length the benchmark's own
    # span ("b" ids) is the outer one
    def rank(x):
        return (x["end"] - x["start"], 1 if x["id"].startswith("b") else 0)
    containers = sorted((s for s in spans if s["name"] not in ("job", "stage")), key=rank)
    slack = 2.0  # listener times are whole milliseconds
    for s in spans:
        if s.get("parent"):
            continue
        if s["name"] == "stage":
            s["parent"] = stage_job.get(s["attrs"].get("job_stage"))
            continue
        if s["name"] == "job" and s["attrs"].get("sql") in sql:
            s["parent"] = sql[s["attrs"]["sql"]]
            continue
        for c in containers:
            if rank(c) > rank(s) and c["start"] - slack <= s["start"] and s["end"] <= c["end"] + slack:
                s["parent"] = c["id"]
                break
    return spans


def ancestors(spans, span):
    """Names of the spans above `span`, innermost first."""
    by_id = {s["id"]: s for s in spans}
    out, p = [], span.get("parent")
    while p in by_id and len(out) < 64:
        out.append(by_id[p]["name"])
        p = by_id[p].get("parent")
    return out


def self_times(spans):
    """Self time per layer: each span's duration minus the part of it its
    children cover, summed over the spans of the layer."""
    kids = {}
    for s in spans:
        if s.get("parent"):
            kids.setdefault(s["parent"], []).append(s)
    out = {}
    for s in spans:
        layer = layer_of(s)
        if layer is None:
            continue
        cover = union_ms([(max(c["start"], s["start"]), min(c["end"], s["end"]))
                          for c in kids.get(s["id"], []) if c["end"] > s["start"] and c["start"] < s["end"]])
        out[layer] = out.get(layer, 0.0) + max(0.0, (s["end"] - s["start"]) - cover)
    return out


def within(spans, window):
    s0, e0 = window
    return [s for s in spans if s["start"] >= s0 - 2.0 and s["end"] <= e0 + 2.0]
