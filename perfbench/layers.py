"""Per-layer metrics of a traced run, computed from its spans.

The harness writes one span per line to `spans.jsonl`: the workload,
its operations (tick, increment, pass, query), and under them Spark
jobs, applications (sessions), micro-batches and store calls. Child
spans are attributed to the operation whose interval holds their
start, because listener events arrive asynchronously. Metrics are
means per timed operation, so they do not depend on how many
operations fit in a run; every metric is reported on every workload
(0 where the layer does no work).
"""
import json
import os
import statistics

OPS_QUERIES = ["q211_kcore", "q53_stream_threshold", "q87_stream_sessionize",
               "q327_stream_beaconing", "q408_stream_crawler_traps"]
GRAPH = OPS_QUERIES[:1]
DRAINS = OPS_QUERIES[1:]
MB = 1024.0 * 1024.0
ENGINE_FILES = {"Runner.scala": "runner", "Sequence.scala": "sequence",
                "Trigger.scala": "trigger"}
PHASES = [("latest_offset", "latestOffset"), ("get_batch", "getBatch"),
          ("query_planning", "queryPlanning"), ("add_batch", "addBatch"),
          ("wal_commit", "walCommit"), ("commit_offsets", "commitOffsets"),
          ("trigger_execution", "triggerExecution")]

# name -> unit, in report order
UNITS = {
    "spark.jobs": "count", "spark.stages": "count", "spark.tasks": "count",
    "spark.job_span_s": "s", "spark.driver_gap_s": "s",
    "spark.executor_run_s": "s", "spark.executor_cpu_s": "s",
    "spark.shuffle_write_mb": "MB", "spark.shuffle_read_mb": "MB",
    "spark.input_mb": "MB", "spark.spill_mb": "MB",
    "engine.runner_jobs": "count", "engine.sequence_jobs": "count",
    "engine.trigger_jobs": "count", "engine.runner_job_s": "s",
    "engine.sequence_job_s": "s", "engine.trigger_job_s": "s",
    "engine.alerts_saved": "count", "engine.sequences_completed": "count",
    "engine.inflight": "count",
    "cli.session_start_s": "s", "cli.session_stop_s": "s",
    "store.open_s": "s", "store.alerted_ids_s": "s", "store.inflight_ids_s": "s",
    "store.alert_docs": "count", "store.inflight_docs": "count",
    "store.alerts_mb": "MB", "store.inflight_mb": "MB",
    "stream.queries": "count", "stream.batches": "count",
    "stream.input_rows": "count",
    **{f"stream.{n}_s": "s" for n, _ in PHASES},
    "stream.state_rows": "count", "stream.state_mb": "MB",
    "stream.state_commit_s": "s",
    **{f"ops.{q}_s": "s" for q in OPS_QUERIES},
    "ops.graph_s": "s", "ops.drain_s": "s", "ops.graph_jobs": "count",
    "ops.drain_batches": "count",
    "trace.overhead_pct": "%", "run.loadavg_before": "load",
    "run.loadavg_after": "load", "run.nproc": "count", "run.steal_pct": "%",
}


def _union(intervals):
    total, end = 0.0, float("-inf")
    for a, b in sorted(intervals):
        if b > end:
            total += b - max(a, end)
            end = b
    return total


def _mean(xs):
    xs = list(xs)
    return sum(xs) / len(xs) if xs else 0.0


def _owner(spans, parents):
    """Maps each span to the innermost parent span holding its start."""
    out = {}
    for s in spans:
        best = None
        for p in parents:
            if p["start_ms"] <= s["start_ms"] <= p["end_ms"]:
                if best is None or p["start_ms"] >= best["start_ms"]:
                    best = p
        if best is not None:
            out.setdefault(best["id"], []).append(s)
    return out


def compute(sandbox, result, la0, la1, nproc, steal_pct, untraced_p50):
    """`untraced_p50` is op_p50_s of the last untraced run of the same
    workload in this checkout (None if there was none)."""
    path = os.path.join(sandbox, "spans.jsonl")
    with open(path) as f:
        spans = [json.loads(line) for line in f if line.strip()]
    by_kind = {}
    for s in spans:
        by_kind.setdefault(s["kind"], []).append(s)
    # the first cron or stream operation is cold; like op_p50_s, the
    # per-operation means leave it out
    timed = result["ops"] if result["workload"] == "ops" else result["ops"][1:]
    op_ids = {o["span"] for o in timed}
    ops = [s for s in spans if s["id"] in op_ids]
    queries = [s for s in by_kind.get("query", []) if s["parent"] in op_ids]
    owners = ops + queries
    jobs = _owner(by_kind.get("job", []), owners)
    batches = _owner(by_kind.get("batch", []), owners)
    apps = _owner(by_kind.get("app", []), ops)
    stores = {}
    for s in by_kind.get("store", []):
        stores.setdefault(s["parent"], []).append(s)

    def below(op):
        """The op span and its query spans."""
        return [op] + [q for q in queries if q["parent"] == op["id"]]

    def op_jobs(op):
        return [j for x in below(op) for j in jobs.get(x["id"], [])]

    def op_batches(op):
        return [b for x in below(op) for b in batches.get(x["id"], [])]

    m = {k: 0.0 for k in UNITS}

    def per_op(fn):
        return _mean(fn(op) for op in ops)

    def jsum(key, scale=1.0):
        return per_op(lambda op: sum(j.get(key, 0) for j in op_jobs(op)) * scale)

    wall = {op["id"]: (op["end_ms"] - op["start_ms"]) / 1000.0 for op in ops}
    span_s = {op["id"]: _union((j["start_ms"], j["end_ms"]) for j in op_jobs(op)) / 1000.0
              for op in ops}
    m["spark.jobs"] = per_op(lambda op: len(op_jobs(op)))
    m["spark.stages"] = jsum("stages")
    m["spark.tasks"] = jsum("tasks")
    m["spark.job_span_s"] = _mean(span_s.values())
    m["spark.driver_gap_s"] = _mean(wall[i] - span_s[i] for i in wall)
    m["spark.executor_run_s"] = jsum("executor_run_ms", 1e-3)
    m["spark.executor_cpu_s"] = jsum("executor_cpu_ns", 1e-9)
    m["spark.shuffle_write_mb"] = jsum("shuffle_write_b", 1 / MB)
    m["spark.shuffle_read_mb"] = jsum("shuffle_read_b", 1 / MB)
    m["spark.input_mb"] = jsum("input_b", 1 / MB)
    m["spark.spill_mb"] = jsum("spill_b", 1 / MB)

    def engine_file(op):
        """Job -> the engine file of its action. Jobs that adaptive
        execution submits from pool threads carry no program frame;
        they belong to the action of their SQL execution, or else to
        the job before them."""
        out, by_exec, prev = {}, {}, None
        for j in sorted(op_jobs(op), key=lambda j: j["start_ms"]):
            f = next((src for src in ENGINE_FILES
                      if any(f"at {src}:" in c for c in j.get("callsites", []))), None)
            f = f or by_exec.get(j.get("execution")) or prev
            if f and j.get("execution"):
                by_exec.setdefault(j["execution"], f)
            out[j["id"]] = prev = f
        return out

    files = {op["id"]: engine_file(op) for op in ops}
    for src, layer in ENGINE_FILES.items():
        def mine(op, src=src):
            return [j for j in op_jobs(op) if files[op["id"]].get(j["id"]) == src]
        m[f"engine.{layer}_jobs"] = per_op(lambda op: len(mine(op)))
        m[f"engine.{layer}_job_s"] = per_op(
            lambda op: sum(j["end_ms"] - j["start_ms"] for j in mine(op)) / 1000.0)
    if result["workload"] == "cron" and result["ops"]:
        first = json.loads(result["ops"][0]["stdout"] or "{}")
        m["engine.alerts_saved"] = first.get("alerts_saved", 0)
        m["engine.sequences_completed"] = first.get("sequences_completed", 0)
        m["engine.inflight"] = first.get("inflight", 0)

    def app_times(op):
        a = apps.get(op["id"], [])
        if not a:
            return 0.0, 0.0
        start = min(x.get("ready_ms", x["start_ms"]) for x in a) - op["start_ms"]
        stop = op["end_ms"] - max(x["end_ms"] for x in a)
        return start / 1000.0, stop / 1000.0
    if result["workload"] != "ops":
        m["cli.session_start_s"] = per_op(lambda op: app_times(op)[0])
        m["cli.session_stop_s"] = per_op(lambda op: app_times(op)[1])

    def store(name, key=None, scale=1.0):
        vals = []
        for op in ops:
            for s in stores.get(op["id"], []):
                if s["name"] == name:
                    vals.append(s[key] * scale if key else
                                (s["end_ms"] - s["start_ms"]) / 1000.0)
        return _mean(vals)
    m["store.open_s"] = store("open")
    m["store.alerted_ids_s"] = store("alerted_ids")
    m["store.inflight_ids_s"] = store("inflight_ids")
    m["store.alert_docs"] = store("size", "alert_docs")
    m["store.inflight_docs"] = store("size", "inflight_docs")
    m["store.alerts_mb"] = store("size", "alerts_b", 1 / MB)
    m["store.inflight_mb"] = store("size", "inflight_b", 1 / MB)

    def bsum(key, scale=1.0):
        return per_op(lambda op: sum(b.get(key, 0) for b in op_batches(op)) * scale)
    m["stream.queries"] = per_op(lambda op: len({b["query"] for b in op_batches(op)}))
    m["stream.batches"] = per_op(lambda op: len(op_batches(op)))
    m["stream.input_rows"] = bsum("input_rows")
    for name, key in PHASES:
        m[f"stream.{name}_s"] = bsum(key + "_ms", 1e-3)

    def final_state(op, key):
        last = {}
        for b in op_batches(op):
            if b["query"] not in last or b["batch"] > last[b["query"]]["batch"]:
                last[b["query"]] = b
        return sum(b.get(key, 0) for b in last.values())
    m["stream.state_rows"] = per_op(lambda op: final_state(op, "state_rows"))
    m["stream.state_mb"] = per_op(lambda op: final_state(op, "state_b") / MB)
    m["stream.state_commit_s"] = bsum("state_commit_ms", 1e-3)

    if result["workload"] == "ops":
        def qwall(names):
            return per_op(lambda op: sum((q["end_ms"] - q["start_ms"]) / 1000.0
                                         for q in queries
                                         if q["parent"] == op["id"] and q["name"] in names))
        for q in OPS_QUERIES:
            m[f"ops.{q}_s"] = qwall([q])
        m["ops.graph_s"] = qwall(GRAPH)
        m["ops.drain_s"] = qwall(DRAINS)
        m["ops.graph_jobs"] = per_op(lambda op: sum(
            len(jobs.get(q["id"], [])) for q in queries
            if q["parent"] == op["id"] and q["name"] in GRAPH))
        m["ops.drain_batches"] = per_op(lambda op: sum(
            len(batches.get(q["id"], [])) for q in queries
            if q["parent"] == op["id"] and q["name"] in DRAINS))

    if untraced_p50 and timed:
        t = statistics.median(o["wall_s"] for o in timed)
        m["trace.overhead_pct"] = (t / untraced_p50 - 1.0) * 100.0
    m["run.loadavg_before"] = la0
    m["run.loadavg_after"] = la1
    m["run.nproc"] = nproc
    m["run.steal_pct"] = steal_pct
    return {k: (float(m[k]), UNITS[k]) for k in UNITS}
