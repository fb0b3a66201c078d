"""The repository benchmark: one closed-loop client driving one Spark
`local[N]` driver. See perfbench/README.md for workloads and metrics.

    python3 perfbench/run.py --workload incremental_loop --seed 1 \
        --seconds 10 --trace 0

Run from the repository root. The first run builds the program and the
input tables under .perfbench/; every run gets its own state, output,
checkpoint, warehouse and spark.local.dir roots, deleted afterwards.
The last stdout line is the JSON result; a human summary goes to stderr.
"""
import argparse
import json
import os
import random
import shutil
import statistics
import subprocess
import sys

import numpy as np
import pyarrow.parquet as pq

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import build  # noqa: E402
import gen_data  # noqa: E402

WORK = ".perfbench"
HERE = os.path.dirname(os.path.abspath(__file__))
# wall-clock cap on the JVM (started after any build); a run must end
# within 180 s
JVM_TIMEOUT_S = 170
CORES = max(1, min(4, os.cpu_count() or 1))
HEAP = "2g"

# Enrich.DefaultLimit: train fits the first 5000 warning/error logs
TRAIN_LIMIT = 5000
WARN_ERROR = {"error", "signup", "purchase"}
BASE_WIDTH = 2000      # ~800 enriched rows per batch at this density
BATCHES = 3

STREAM_OPS = [
    "q60_stream_volume",      # tumbling event-time window, complete mode
    "q61_stream_semantic",    # flatMapGroupsWithState centroid groups
    "q62_session_window",     # session window
    "q64_sliding_window",     # sliding window
    "q101_stream_dedup",      # exact dedup state (llm.Dedup twin)
]

# times every workload has on every run (a GC-free traced pass reads 0,
# so GC time is in the detail file only)
PER_LAYER_TIMES = ["spark.job_s", "spark.driver_gap_s", "spark.planning_s",
                   "spark.task_s"]
PER_LAYER_COUNTS = [
    "spark.jobs", "spark.stages", "spark.tasks", "spark.one_task_stages",
    "spark.failed_tasks", "spark.input_bytes", "spark.shuffle_read_bytes",
    "spark.shuffle_write_bytes", "spark.spill_bytes", "spark.bytes_written",
    "spark.records_written", "streaming.triggers", "streaming.empty_triggers",
    "streaming.state_stores", "streaming.state_rows", "streaming.state_bytes",
    "pipeline.rows_scanned", "pipeline.rows_enriched",
    "pipeline.enriched_ratio", "pipeline.incidents_opened", "pipeline.history_files",
    "ml.DenStream.micro_clusters", "ml.VolumeAnomaly.clusters_evaluated"]
TRIGGER_PHASES = ["triggerExecution", "latestOffset", "getBatch",
                  "queryPlanning", "addBatch", "walCommit", "commitOffsets"]


def layer_unit(name):
    if name.endswith("_s"):
        return "s"
    if "bytes" in name:
        return "B"
    return "ratio" if name.endswith("_ratio") else "count"


def die(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


# ---------------------------------------------------------------- schedule

def incremental_schedule(rng, data_dir):
    ev = pq.read_table(os.path.join(data_dir, "events.parquet"),
                       columns=["event_id", "event_type"])
    ids = ev.column("event_id").to_numpy()
    types = ev.column("event_type").to_numpy(zero_copy_only=False)
    order = np.argsort(ids)
    ids = ids[order]
    useful = np.isin(types[order], list(WARN_ERROR))
    train_end = int(ids[useful][TRAIN_LIMIT - 1])
    # the seed splits a fixed span of BATCHES * BASE_WIDTH ids into
    # BATCHES widths, each from half to twice BASE_WIDTH: batch sizes vary
    # with the seed while the work of a whole pass stays the same
    span = BATCHES * BASE_WIDTH
    while True:
        widths = [rng.randint(BASE_WIDTH // 2, BASE_WIDTH * 2)
                  for _ in range(BATCHES - 1)]
        last = span - sum(widths)
        if BASE_WIDTH // 2 <= last <= BASE_WIDTH * 2:
            widths.append(last)
            break
    batches, expected = [], []
    lo = train_end + 1
    for width in widths:
        hi = lo + width - 1
        if hi > ids[-1]:
            die("batch schedule runs past the end of events")
        in_range = (ids >= lo) & (ids <= hi)
        batches.append([lo, hi])
        expected.append(int((in_range & useful).sum()))
        lo = hi + 1
    return {"batches": batches, "expected_rows": expected,
            "min_passes": 2, "max_passes": 50}


def stream_schedule(rng):
    orders = []
    for _ in range(50):
        o = list(range(len(STREAM_OPS)))
        rng.shuffle(o)
        orders.append(o)
    return {"ops": STREAM_OPS, "orders": orders, "min_passes": 2,
            "max_passes": len(orders)}


WORKLOADS = {"incremental_loop": "pipeline", "stream_family": "streams"}


# ----------------------------------------------------------------- metrics

def quantile(xs, q):
    s = sorted(xs)
    if len(s) == 1:
        return s[0]
    pos = q * (len(s) - 1)
    i = int(pos)
    return s[i] if i + 1 >= len(s) else s[i] + (s[i + 1] - s[i]) * (pos - i)


def tail(xs):
    """The highest percentile with at least ten samples beyond it, never
    below p90 (a run with fewer than 100 samples reports p90 and says how
    many samples lie beyond it)."""
    n = len(xs)
    q = max(0.9, 1.0 - 10.0 / n)
    return quantile(xs, q), q, sum(1 for x in xs if x > quantile(xs, q))


def op_seconds(o):
    return (o["end_ns"] - o["start_ns"]) / 1e9


def end_to_end(workload, res):
    ops = [o for o in res["ops"] if o["ok"]]
    if not ops:
        die("no op succeeded: " + "; ".join(res["failures"][:3]))
    per_pass = {}
    for o in ops:
        per_pass.setdefault(o["pass"], []).append(o)
    totals = [sum(op_seconds(o) for o in p) for p in per_pass.values()]
    timed = [o for o in ops if o["name"] != "train"]
    t = [op_seconds(o) for o in timed]
    tail_v, tail_q, beyond = tail(t)
    m = {"setup_s": (res["setup_s"], "s"),
         "total_s": (statistics.median(totals), "s"),
         "op_p50_s": (statistics.median(t), "s"),
         "op_tail_s": (tail_v, "s"),
         "heap_live_mb": (res["heap_live_mb"], "MB")}
    info = {"pass_totals_s": totals,
            "op_s": {n: [round(op_seconds(o), 3) for o in ops
                         if o["name"] == n]
                     for n in dict.fromkeys(o["name"] for o in ops)},
            "op_tail_percentile": tail_q, "op_tail_beyond": beyond,
            "op_samples": len(t), "passes": res["passes"],
            "measured_s": res["measured_s"]}
    if workload == "incremental_loop":
        trains = [op_seconds(o) for o in ops if o["name"] == "train"]
        batch_s = sum(op_seconds(o) for o in timed)
        rows = sum(max(o["rows"], 0) for o in timed)
        info["train_s"] = statistics.median(trains)
        info["rows_per_s"] = rows / batch_s if batch_s > 0 else 0.0
    return m, info


def union_ms(intervals):
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


def site_label(site):
    """The innermost program frame of a job's call site, as
    module.Object.method; jobs with no program frame are labelled by the
    Spark entry point that ran them."""
    lines = [ln.strip() for ln in site.splitlines() if ln.strip()]
    for ln in lines:
        if ln.startswith("graft."):
            # graft.ops.StreamQueries$.$anonfun$q101StreamDedup$1(...)
            #   -> ops.StreamQueries.q101StreamDedup
            parts = ln.split("(")[0][len("graft."):].split(".")
            method = parts[-1]
            if method.startswith("$anonfun$"):
                method = method[len("$anonfun$"):].split("$")[0]
            label = ".".join([p.rstrip("$") for p in parts[:-1]] + [method])
            # a DataFrameWriter action is a sink write
            return label + (":write" if "DataFrameWriter" in lines[0] else "")
    if any(ln.startswith("perfbench.") for ln in lines):
        # the benchmark's own action on a program result
        return "bench." + lines[0].split("(")[0].split(".")[-1]
    if any("streaming" in ln for ln in lines):
        return "spark.streaming_microbatch"
    return "spark." + (lines[0].split("(")[0].split(".")[-1] if lines else "?")


def per_pass(recs, key):
    """The mean over each op name's traced invocations, summed over op
    names: one pass's worth of `key`."""
    by_name = {}
    for r in recs:
        by_name.setdefault(r["name"], []).append(r[key])
    return sum(statistics.mean(v) for v in by_name.values())


def trace_metrics(workload, res):
    """Per-layer numbers from a traced run. Each op is traced on half its
    invocations; sums are per pass (see per_pass). Also builds the span
    tree: one span per traced op, its triggers and jobs as children, and
    a job inside a trigger as that trigger's child."""
    tr = res["trace"]
    ops = res["ops"]
    jobs, trig, plans = tr["jobs"], tr["triggers"], tr["planning"]
    per_op, spans = [], []

    def span(name, start_ms, end_ms, parent, op):
        spans.append({"id": len(spans), "name": name, "start_ms": start_ms,
                      "end_ms": end_ms, "parent": parent, "op": op})
        return spans[-1]

    for i, o in enumerate(ops):
        if not o["traced"]:
            continue
        s_ms, e_ms = o["start_ns"] / 1e6, o["end_ns"] / 1e6
        wall_ms = e_ms - s_ms
        oj = [j for j in jobs if s_ms - 1 <= j["start_ms"] <= e_ms + 1]
        ot = [t for t in trig if s_ms - 1 <= t["start_ms"] <= e_ms + 1]
        ended = [j for j in oj if j["end_ms"] >= j["start_ms"]]
        # the jobs' own time, and the op's time outside every job; they
        # cover the wall only if every job ended, and inside the op
        job_ms = union_ms([(j["start_ms"], j["end_ms"]) for j in ended])
        inner = [(max(j["start_ms"], s_ms), min(j["end_ms"], e_ms))
                 for j in ended]
        gap_ms = wall_ms - union_ms([iv for iv in inner if iv[1] > iv[0]])
        trig_ms = sum(t["duration_ms"].get("triggerExecution", 0) for t in ot)
        rec = {
            "name": o["name"], "op": i, "wall_s": wall_ms / 1e3,
            "rows": max(o["rows"], 0),
            "spark.job_s": job_ms / 1e3, "spark.driver_gap_s": gap_ms / 1e3,
            "covers_wall": (len(ended) == len(oj)
                            and abs(job_ms + gap_ms - wall_ms) <= 2.0),
            "spark.planning_s": sum(p["ms"] for p in plans
                                    if s_ms - 1 <= p["start_ms"] <= e_ms + 1)
            / 1e3,
            "spark.task_s": sum(j["task_run_ms"] for j in oj) / 1e3,
            "spark.gc_s": o["gc_ms"] / 1e3,
            "spark.jobs": len(oj),
            "streaming.triggers": len(ot),
            "streaming.empty_triggers": sum(1 for t in ot
                                            if t["input_rows"] == 0),
            "streaming.state_stores": max([t["state_stores"] for t in ot],
                                          default=0),
            "streaming.state_rows": max([t["state_rows"] for t in ot],
                                        default=0),
            "streaming.state_bytes": max([t["state_bytes"] for t in ot],
                                         default=0),
            "streaming.state_commit_s": sum(t["state_commit_ms"]
                                            for t in ot) / 1e3,
            "streaming.outside_triggers_s":
                (wall_ms - trig_ms) / 1e3 if ot else 0.0,
        }
        for ph in TRIGGER_PHASES:
            key = "trigger_s" if ph == "triggerExecution" else f"{ph}_s"
            rec["streaming." + key] = sum(
                t["duration_ms"].get(ph, 0) for t in ot) / 1e3
        for k in ["stages", "tasks", "one_task_stages", "failed_tasks",
                  "input_bytes", "records_read", "shuffle_read_bytes",
                  "shuffle_write_bytes", "spill_bytes", "bytes_written",
                  "records_written"]:
            rec["spark." + k] = sum(j[k] for j in oj)
        by_site = {}
        for j in ended:
            by_site.setdefault(site_label(j["site"]), []).append(
                (j["start_ms"], j["end_ms"]))
        rec["layers"] = {k: union_ms(v) / 1e3 for k, v in by_site.items()}
        per_op.append(rec)

        op_span = span("op:" + o["name"], s_ms, e_ms, -1, i)
        trig_spans = [span("streaming.trigger", t["start_ms"],
                           t["start_ms"]
                           + t["duration_ms"].get("triggerExecution", 0),
                           op_span["id"], i) for t in ot]
        for j in ended:
            parent = next((t["id"] for t in trig_spans
                           if t["start_ms"] <= j["start_ms"] <= t["end_ms"]),
                          op_span["id"])
            span("job:" + site_label(j["site"]), j["start_ms"], j["end_ms"],
                 parent, i)

    m = {k: per_pass(per_op, k) for k in PER_LAYER_TIMES + [
        k for k in PER_LAYER_COUNTS if k.startswith(("spark.", "streaming."))]}
    extra = res["extra"]
    if workload == "incremental_loop":
        # measured by the program: the batches' parquet input records and
        # the rows each batch wrote to log_embeddings_incr
        batches = [r for r in per_op if r["name"] != "train"]
        scanned = per_pass(batches, "spark.records_read")
        enriched = per_pass(batches, "rows")
        m["pipeline.rows_scanned"] = scanned
        m["pipeline.rows_enriched"] = enriched
        m["pipeline.enriched_ratio"] = enriched / scanned if scanned else 0.0
        m["pipeline.incidents_opened"] = extra.get("incidents_opened", 0)
        m["pipeline.history_files"] = extra.get("history_files", 0)
        m["ml.DenStream.micro_clusters"] = extra.get("micro_clusters", 0)
        m["ml.VolumeAnomaly.clusters_evaluated"] = extra.get(
            "clusters_evaluated", 0)
    else:
        for k in PER_LAYER_COUNTS:
            if k.startswith(("pipeline.", "ml.")):
                m[k] = 0
    # tracing overhead: per op name, traced minus untraced median wall,
    # summed over op names; at two passes each op has one invocation of
    # each kind, so this is a single difference, not a resolved figure
    names = sorted({o["name"] for o in ops})
    over, n_on, n_off = 0.0, 0, 0
    for n in names:
        on = [op_seconds(o) for o in ops if o["name"] == n and o["traced"]]
        off = [op_seconds(o) for o in ops
               if o["name"] == n and not o["traced"]]
        if on and off:
            over += statistics.median(on) - statistics.median(off)
            n_on += len(on)
            n_off += len(off)
    # detail only: function-level attribution and streaming phase times
    layers = {}
    for r in per_op:
        for k, v in r["layers"].items():
            layers.setdefault(k, {}).setdefault(r["name"], []).append(v)
    detail = {
        "layers_s": {k: sum(statistics.mean(x) for x in v.values())
                     for k, v in sorted(layers.items())},
        "streaming_s": {k: per_pass(per_op, k) for k in per_op[0]
                        if k.startswith("streaming.") and k.endswith("_s")}
        if per_op else {},
        "ops_s": {n: statistics.median([op_seconds(o) for o in ops
                                        if o["name"] == n]) for n in names},
        "coverage_ok": all(r["covers_wall"] for r in per_op),
        "trace_overhead": {"s": over, "traced_invocations": n_on,
                           "untraced_invocations": n_off},
        "spark.gc_s": per_pass(per_op, "spark.gc_s"),
        "per_op": per_op,
        "spans": spans,
        "span_self_s": span_self_times(spans),
    }
    return m, detail


def span_self_times(spans):
    """Self time per span name, summed over the run's traced ops: a span's
    duration minus the part its children cover."""
    children = {}
    for sp in spans:
        children.setdefault(sp["parent"], []).append(sp)
    out = {}
    for sp in spans:
        s, e = sp["start_ms"], sp["end_ms"]
        cov = union_ms([(max(c["start_ms"], s), min(c["end_ms"], e))
                        for c in children.get(sp["id"], [])
                        if min(c["end_ms"], e) > max(c["start_ms"], s)])
        out[sp["name"]] = out.get(sp["name"], 0.0) + (e - s - cov) / 1e3
    return dict(sorted(out.items()))


# -------------------------------------------------------------------- main

def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    a = ap.parse_args()

    if shutil.which("java") is None:
        die("java not found on PATH")
    classes = build.build()
    data_root = os.path.join(WORK, "data")
    gen_data.generate(data_root)
    data_dir = os.path.abspath(os.path.join(data_root, WORKLOADS[a.workload]))

    rng = random.Random(a.seed)
    sched = (incremental_schedule(rng, data_dir)
             if a.workload == "incremental_loop" else stream_schedule(rng))
    with open(os.path.join(HERE, "expected.json")) as f:
        golden = json.load(f).get(a.workload, {})

    run_dir = os.path.abspath(os.path.join(
        WORK, "runs", f"{a.workload}-s{a.seed}-{os.getpid()}"))
    shutil.rmtree(run_dir, ignore_errors=True)
    for d in ["tmp", "spark-local", "warehouse", "work"]:
        os.makedirs(os.path.join(run_dir, d))
    cfg = dict(sched, workload=a.workload, seed=a.seed, seconds=a.seconds,
               trace=bool(a.trace), cores=CORES, data_dir=data_dir,
               run_dir=os.path.join(run_dir, "work"),
               spark_local_dir=os.path.join(run_dir, "spark-local"),
               warehouse_dir=os.path.join(run_dir, "warehouse"),
               fingerprints=golden.get("fingerprints", {}))
    sched_path = os.path.join(run_dir, "schedule.json")
    result_path = os.path.join(run_dir, "result.json")
    with open(sched_path, "w") as f:
        json.dump(cfg, f)
    jars = build.spark_jars()
    opens = ["java.lang", "java.lang.invoke", "java.lang.reflect", "java.io",
             "java.net", "java.nio", "java.util", "java.util.concurrent",
             "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
             "sun.security.action", "sun.util.calendar"]
    cmd = (["java", f"-Xms{HEAP}", f"-Xmx{HEAP}", "-Duser.timezone=UTC",
            "-XX:TieredStopAtLevel=1",
            f"-Djava.io.tmpdir={os.path.join(run_dir, 'tmp')}",
            "-Dlog4j2.configurationFile=" + os.path.join(HERE,
                                                         "log4j2.properties")]
           + [f"--add-opens=java.base/{p}=ALL-UNNAMED" for p in opens]
           + ["-cp", os.pathsep.join([os.path.abspath(classes), jars]),
              "perfbench.Main", sched_path, result_path])
    log_path = os.path.join(run_dir, "jvm.log")
    try:
        with open(log_path, "w") as log:
            proc = subprocess.Popen(cmd, stdout=log, stderr=log)
            try:
                code = proc.wait(timeout=JVM_TIMEOUT_S)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait()
                code = "timeout"
        if code != 0 or not os.path.exists(result_path):
            with open(log_path) as f:
                sys.stderr.write("".join(f.readlines()[-40:]))
            die(f"benchmark JVM failed ({code})")
        with open(result_path) as f:
            res = json.load(f)
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)

    failures = res["failures"]
    prints = res["extra"].get("fingerprints", {})
    # warm-up invocations are attempts too: every stream op, or one
    # train and one batch
    warmups = len(STREAM_OPS) if a.workload == "stream_family" else 2
    attempted = len(res["ops"]) + warmups
    failed = min(len(failures), attempted)
    e2e, info = end_to_end(a.workload, res)
    info["error_rate"] = failed / attempted
    info["seed"] = a.seed
    out = {"correct": failed == 0, "attempted": attempted, "failed": failed}
    if a.trace:
        layer, detail = trace_metrics(a.workload, res)
        out["metrics"] = {k: {"value": v, "unit": layer_unit(k)}
                          for k, v in layer.items()}
        detail.update(info=info, failures=failures, end_to_end={
            k: v[0] for k, v in e2e.items()})
        tdir = os.path.join(WORK, "traces")
        os.makedirs(tdir, exist_ok=True)
        tpath = os.path.join(tdir, f"{a.workload}-s{a.seed}.json")
        with open(tpath, "w") as f:
            json.dump(dict(detail, jobs=res["trace"]["jobs"],
                           triggers=res["trace"]["triggers"]), f, indent=1)
        report = {"layers_s": detail["layers_s"],
                  "streaming_s": detail["streaming_s"],
                  "ops_s": detail["ops_s"],
                  "coverage_ok": detail["coverage_ok"],
                  "trace_overhead": detail["trace_overhead"],
                  "trace_file": tpath}
    else:
        out["metrics"] = {k: {"value": v, "unit": u}
                          for k, (v, u) in e2e.items()}
        report = {}
    print(json.dumps({"workload": a.workload, "info": info,
                      "failures": failures[:20], "fingerprints": prints,
                      **report}, indent=1),
          file=sys.stderr)
    for k, v in out["metrics"].items():
        print(f"{a.workload} {k} = {v['value']:.6g} {v['unit']}")
    print(json.dumps(out))


if __name__ == "__main__":
    main()
