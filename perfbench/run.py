#!/usr/bin/env python3
"""Benchmark of the graft engine: one command per workload.

    python3 perfbench/run.py --workload batch_mix --seed 1 --seconds 16 --trace 0

Run from the root of a source checkout.  The first run compiles the
engine's sources (src/main/scala) together with the benchmark's JVM program
(perfbench/src) into .bench_build/perfbench; later runs reuse the classes
while the sources are unchanged.  Inputs are generated from --seed.  The
last line of standard output is one JSON object: whether every output was
correct, how many operations were attempted and failed, and the metrics —
the end-to-end metrics with --trace 0, the per-layer metrics of a traced
run with --trace 1.  LAYERS.md says what each metric means on each
workload.
"""
import argparse
import hashlib
import json
import os
import random
import re
import shutil
import signal
import subprocess
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import metrics as M  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
BUILD = os.path.abspath(".bench_build/perfbench")
HEAP = "2g"       # pinned: the same heap on every machine that runs this

# Batch mix: a range join, a pinned fan-out aggregate, a JSON rollup, and
# the engine's lake writes, deletes, version reads and a stream into a lake
# table, each query oracle-checked.  q01_pricing_summary is left out: its
# 2-dp rounded double sums disagree with the oracle on some seeds.
BATCH_QUERIES = [
    "q18_range_join", "q23_stats_agg", "t02_hourly_rollup",
    "t36_stream_to_table", "t39_time_travel", "t50_mor_delete",
]
BATCH_SF = 0.01
BATCH_MIN_PASSES = 4

WORKLOADS = {"batch_mix": "batch", "telemetry_stream": "stream"}

JDK_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def log(msg):
    print(msg, flush=True)


# ------------------------------------------------------------------ build

def spark_jars():
    """The Spark jars, which include the Scala compiler: $SPARK_HOME/jars,
    else the directory the engine's build.sbt compiles against."""
    if os.environ.get("SPARK_HOME"):
        return os.path.join(os.environ["SPARK_HOME"], "jars")
    with open("build.sbt") as f:
        m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', f.read())
    if not m:
        raise SystemExit("set SPARK_HOME: build.sbt names no Spark jar directory")
    return m.group(1)


def sources():
    main = os.path.join("src", "main", "scala")
    if not os.path.isdir(main):
        raise SystemExit(f"no engine sources at {main}: run from the root of a source checkout")
    out = []
    for base in (main, os.path.join(HERE, "src")):
        for d, _, files in os.walk(base):
            out += [os.path.join(d, f) for f in files if f.endswith(".scala")]
    return sorted(out)


def build():
    """Compiles engine + benchmark with the Scala compiler Spark ships; the
    class directory is keyed by a hash of every source file."""
    srcs = sources()
    h = hashlib.sha256()
    for p in srcs:
        h.update(p.encode())
        with open(p, "rb") as f:
            h.update(f.read())
    classes = os.path.join(BUILD, "classes-" + h.hexdigest()[:16])
    if os.path.exists(os.path.join(classes, "_ok")):
        return classes
    os.makedirs(BUILD, exist_ok=True)
    for old in os.listdir(BUILD):
        if old.startswith("classes-"):
            shutil.rmtree(os.path.join(BUILD, old), ignore_errors=True)
    os.makedirs(classes)
    t0 = time.time()
    cp = os.path.join(spark_jars(), "*")
    r = subprocess.run(["java", "-XX:-UsePerfData", "-Xss8m", "-Xmx2g", "-cp", cp, "scala.tools.nsc.Main",
                        "-nowarn", "-d", classes, "-cp", cp] + srcs,
                       stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True, timeout=840)
    if r.returncode != 0:
        shutil.rmtree(classes, ignore_errors=True)
        raise SystemExit("build failed:\n" + r.stdout[-4000:])
    open(os.path.join(classes, "_ok"), "w").close()
    log(f"built {len(srcs)} sources in {time.time() - t0:.1f} s")
    return classes


# ------------------------------------------------------------------ run

def run_jvm(classes, work, args, seconds):
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    # -XX:-UsePerfData: no hsperfdata file outside the checkout
    cmd = ["java", "-XX:-UsePerfData", f"-Xms{HEAP}", f"-Xmx{HEAP}", "-Duser.timezone=UTC",
           f"-Djava.io.tmpdir={tmp}", "-Dspark.ui.enabled=false"]
    for p in JDK_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    cmd += ["-cp", classes + os.pathsep + os.path.join(spark_jars(), "*"), "perfbench.PerfBench"] + args
    with open(os.path.join(work, "jvm.log"), "w") as logf:
        p = subprocess.Popen(cmd, stdout=logf, stderr=subprocess.STDOUT, cwd=work)
        try:
            # set-up, the measured window and the stream's table check
            rc = p.wait(timeout=90 + 4 * seconds)
        except subprocess.TimeoutExpired:
            raise SystemExit("benchmark JVM timed out")
        finally:   # never leave the JVM behind, also on SIGTERM
            if p.poll() is None:
                p.kill()
                p.wait()
    if rc != 0 or not os.path.exists(os.path.join(work, "result.json")):
        with open(os.path.join(work, "jvm.log")) as f:
            tail = f.read()[-3000:]
        raise SystemExit(f"benchmark JVM failed ({rc}):\n{tail}")
    with open(os.path.join(work, "result.json")) as f:
        return json.load(f)


def read_spans(work, progress):
    spans = []
    path = os.path.join(work, "spans.jsonl")
    with open(path) as f:
        for line in f:
            spans.append(json.loads(line))
    spans += M.stream_spans(progress)
    return M.attach_parents(spans)


# ------------------------------------------------------------------ metrics

def layer_metrics(res, spans, windows, progress):
    """Per-layer metrics: each is the median over measured passes of the
    pass's total, except where the layer only runs once per run."""
    def per_pass(fn):
        return M.median([fn(M.within(spans, w), w) for w in windows])

    def total(name, key):
        return lambda ss, w: sum(s["attrs"].get(key, 0) for s in ss if s["name"] == name)

    def dur(name, pred=lambda s: True):
        return lambda ss, w: sum(s["end"] - s["start"] for s in ss if s["name"] == name and pred(s))

    def count(name, pred=lambda s: True):
        return lambda ss, w: sum(1 for s in ss if s["name"] == name and pred(s))

    def events(w):
        return [e for e in progress if w[0] - 2 <= e["start"] and e["end"] <= w[1] + 2]

    def skew(ss, w):
        xs = [s["attrs"]["skew"] for s in ss if s["name"] == "stage" and s["attrs"].get("tasks", 0) > 1]
        return M.median(xs) if xs else 1.0

    out = {}
    passes = len(windows)
    stream = res["mode"] == "stream"
    if stream:
        construct = [s for s in spans if s["name"] == "construct"]
        c = construct[0]
        out["operators.construct_ms"] = c["end"] - c["start"]
        out["operators.construct_jobs"] = sum(
            1 for s in spans if s["name"] == "job" and c["start"] - 2 <= s["start"] <= c["end"] + 2)
        out["plans.plan_ms"] = per_pass(lambda ss, w: sum(e["durations"].get("queryPlanning", 0) for e in events(w)))
        out["plans.exchanges"] = res["exchanges"]
        out["sources.lake_write_ms"] = per_pass(lambda ss, w: sum(e["durations"].get("addBatch", 0) for e in events(w)))
        out["sources.lake_writes"] = per_pass(lambda ss, w: sum(1 for e in events(w) if e["rows"] > 0))
    else:
        out["operators.construct_ms"] = per_pass(dur("construct"))
        out["operators.construct_jobs"] = per_pass(count("job", lambda s: s["attrs"].get("phase") == "construct"))
        out["plans.plan_ms"] = per_pass(total("plan", "plan_ms"))
        # exchanges of the timed executions' plans, not of the queries
        # the operators ran while building them
        out["plans.exchanges"] = per_pass(lambda ss, w: sum(
            s["attrs"].get("exchanges", 0) for s in ss
            if s["name"] == "plan" and "write" in M.ancestors(spans, s)))
        out["sources.lake_write_ms"] = per_pass(dur("sql", lambda s: s["attrs"].get("lake_write")))
        out["sources.lake_writes"] = per_pass(count("sql", lambda s: s["attrs"].get("lake_write")))
    out["exec.exec_ms"] = per_pass(lambda ss, w: M.union_ms(
        [(s["start"], s["end"]) for s in ss if s["name"] == "job"]))
    out["exec.jobs"] = per_pass(count("job"))
    out["exec.stages"] = per_pass(count("stage"))
    for key, name in [("tasks", "exec.tasks"), ("input_bytes", "exec.input_bytes"),
                      ("shuffle_read_bytes", "exec.shuffle_read_bytes"),
                      ("shuffle_write_bytes", "exec.shuffle_write_bytes"),
                      ("spill_bytes", "exec.spill_bytes"), ("run_ms", "exec.task_run_ms"),
                      ("cpu_ms", "exec.task_cpu_ms")]:
        out[name] = per_pass(total("stage", key))
    out["exec.peak_exec_mem_bytes"] = per_pass(lambda ss, w: max(
        [s["attrs"].get("peak_exec_mem_bytes", 0) for s in ss if s["name"] == "stage"] or [0]))
    out["exec.stage_skew"] = per_pass(skew)
    walk = res["lake_walk"]
    lake_passes = passes + 3 if not stream else 1   # the three warm passes write lakes too
    out["sources.lake_files"] = walk["data_files"] / lake_passes
    out["sources.lake_meta_files"] = walk["meta_files"] / lake_passes
    out["sources.lake_bytes"] = walk["data_bytes"] / lake_passes
    for key in ["queryPlanning", "addBatch", "walCommit", "commitOffsets"]:
        out[f"streaming.{key}_ms"] = per_pass(
            lambda ss, w, key=key: sum(e["durations"].get(key, 0) for e in events(w)))
    out["streaming.batch_ms"] = per_pass(lambda ss, w: sum(e["end"] - e["start"] for e in events(w)))
    out["streaming.batches"] = per_pass(lambda ss, w: len(events(w)))
    out["streaming.nodata_batches"] = per_pass(lambda ss, w: sum(1 for e in events(w) if e["rows"] == 0))
    out["streaming.rows_per_batch"] = per_pass(lambda ss, w: (
        sum(e["rows"] for e in events(w)) / max(1, sum(1 for e in events(w) if e["rows"] > 0))))
    out["streaming.state_rows"] = max([e["state_rows"] for e in progress] or [0])
    out["streaming.state_mem_bytes"] = max([e["state_mem_bytes"] for e in progress] or [0])
    out["streaming.dropped_by_watermark"] = sum(e["dropped_by_watermark"] for e in progress)
    out["streaming.backlog_rows"] = M.backlog(res["ticks"], M.commit_times(progress, "lake")) if stream else 0
    out["jvm.gc_ms"] = res["measure_gc_ms"] / passes
    out["jvm.peak_heap_mb"] = res["jvm"]["peak_heap_mb"]
    st = [M.self_times(M.within(spans, w)) for w in windows]
    for layer in ["operators", "plans", "exec", "sources", "streaming"]:
        out[f"{layer}.self_ms"] = M.median([s.get(layer, 0.0) for s in st])
    if stream:   # the stream's queries are built once, before the passes
        out["operators.self_ms"] = M.self_times(M.within(spans, (c["start"], c["end"])))["operators"]
    return out


def pass_windows(spans):
    return [(s["start"], s["end"]) for s in spans if s["name"] == "pass"]


def main(argv=None):
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    a = ap.parse_args(argv)

    classes = build()
    mode = WORKLOADS[a.workload]
    work = os.path.join(BUILD, "runs", f"{a.workload}-{a.seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    try:
        return measure(a, mode, classes, work)
    finally:
        shutil.rmtree(work, ignore_errors=True)


def measure(a, mode, classes, work):
    jvm_args = [mode, work, str(a.seconds), str(a.trace), str(a.seed)]
    if mode == "batch":
        import gen
        data = gen.write(a.seed, BATCH_SF, os.path.join(BUILD, "data", f"seed{a.seed}-sf{BATCH_SF}"))
        order = list(BATCH_QUERIES)
        random.Random(a.seed).shuffle(order)
        jvm_args += [data, str(BATCH_MIN_PASSES), ",".join(order)]
    res = run_jvm(classes, work, jvm_args, a.seconds)
    progress = res["progress"]
    jvm = res["jvm"]
    log(f"cores={jvm['cores']} heap_mb={jvm['heap_max_mb']:.0f} tz={jvm['tz']} "
        f"workload={a.workload} seed={a.seed} trace={a.trace}"
        + (f" sf={BATCH_SF} order={','.join(res['queries'])}" if mode == "batch" else ""))

    notes = []
    if mode == "batch":
        import oracle
        checks = oracle.check(res["data"], work, res["queries"])
        for q, (ok, note) in checks.items():
            if not ok:
                notes.append(f"oracle {q}: {note}")
        for q, err in res["warm_errors"].items():
            notes.append(f"warm {q}: {err}")
        oracle_ok = {q: ok for q, (ok, _) in checks.items()}
        samples = res["samples"]
        attempted = len(samples)
        failed = M.batch_failures(samples, res["expected"], oracle_ok)
        for s in samples:
            if s.get("error"):
                notes.append(f"pass {s['pass']} {s['query']}: {s['error']}")
        op = [s["ms"] for s in samples if s.get("digest") is not None and not s.get("error")]
        per_q = {}
        for s in samples:
            per_q.setdefault(s["query"], []).append(s["ms"])
        log("query_ms " + " ".join(f"{q}={M.median(v):.0f}" for q, v in per_q.items()))
        log(f"session_s={res['session_s']:.2f} warm_ms " +
            " ".join(f"{q}={v:.0f}" for q, v in res["warm_ms"].items()))
        log(f"passes={len(res['passes_s'])} executions={attempted} "
            f"pass_s={' '.join(f'{x:.3f}' for x in res['passes_s'])}")
    else:
        ticks = res["ticks"]
        lake = M.attribute(ticks, M.commit_times(progress, "lake"))
        alerts = M.attribute(ticks, M.commit_times(progress, "alerts"))
        op = M.expand(lake, [t["frames"] for t in ticks])
        lake_ev = [e for e in progress if e["name"] == "lake"]
        ingested = sum(e["observed"].get("ingested", 0) for e in lake_ev)
        valid = sum(e["observed"].get("valid", 0) for e in lake_ev)
        chk = res["check"]
        attempted = len(ticks) + len(res["passes_s"])
        failed = sum(1 for x, y in zip(lake, alerts) if x is None or y is None)
        if not chk["lake_equal"]:
            notes.append("lake table differs from the batch reference")
        if not chk["alerts_equal"]:
            notes.append("alert table differs from the batch reference")
        if not M.stream_counters_ok(res["counters"], chk, ingested, valid):
            notes.append(f"counters do not add up: ingested={ingested} valid={valid} "
                         f"{res['counters']} {chk}")
        if notes:
            failed = attempted
        alert_a = M.expand(alerts, [t["alerts"] for t in ticks])
        late = [t["late_ms"] for t in ticks]
        log(f"rate={res['rate_per_s']}/s ticks={len(ticks)} frames={len(op)} alerts={len(alert_a)} "
            f"lake_p50_ms={M.median(op):.1f} lake_p99_ms={M.tail(op, 99)} "
            f"alert_p50_ms={M.median(alert_a) if alert_a else None} alert_p90_ms={M.tail(alert_a, 90)} "
            f"gen_late_max_ms={max(late):.2f} rows_per_s={res['pass_frames'] / M.median(res['passes_s']):.0f} "
            f"pass_s={' '.join(f'{x:.3f}' for x in res['passes_s'])} check_s={res['check_s']:.1f}")
    for n in notes:
        log("FAILED " + n)
    correct = not notes and failed == 0

    if a.trace == 0:
        values = {
            "setup_s": (res["setup_s"], "s"),
            "pass_s": (M.median(res["passes_s"]), "s"),
            "op_p50_ms": (M.median(op), "ms"),
            "peak_rss_mb": (jvm["peak_rss_mb"], "MB"),
        }
        log(f"op samples={len(op)} p75={M.tail(op, 75)} p90={M.tail(op, 90)} p99={M.tail(op, 99)}")
    else:
        spans = read_spans(work, progress)
        windows = pass_windows(spans)
        layers = layer_metrics(res, spans, windows, progress)
        layers["trace.pass_s"] = M.median(res["passes_s"])
        layers["trace.op_p50_ms"] = M.median(op)
        values = {k: (v, unit_of(k)) for k, v in layers.items()}
    for k, (v, u) in values.items():
        log(f"{k} {v} {u}")
    print(json.dumps({"correct": correct, "attempted": attempted, "failed": failed,
                      "metrics": {k: {"value": v, "unit": u} for k, (v, u) in values.items()}}))
    return 0


def unit_of(metric):
    name = metric.split(".", 1)[1]
    for suffix, unit in [("_ms", "ms"), ("_s", "s"), ("_bytes", "bytes"), ("_mb", "MB"),
                         ("_files", "files"), ("_skew", "ratio"), ("_per_batch", "rows")]:
        if name.endswith(suffix):
            return unit
    return "count"


if __name__ == "__main__":
    sys.exit(main())
