"""Turn one run's raw record (written by perfbench.Main) into the
benchmark's metrics. Pure functions of the record, so tests can feed
them hand-made records (see perfbench/tests)."""
import json
import os
import statistics

HERE = os.path.dirname(os.path.abspath(__file__))

#: Open defects: failures carrying these names are counted in
#: `error_rate` and `defect.*` but are expected, so they do not make a
#: run incorrect or count in the result's `failed`. See README.md.
KNOWN_DEFECTS = ("null_pk_accepted", "left_deep_or_overflow")

FAMILIES = ("q", "kv", "idx", "txt", "dd", "sim", "evt", "st")
SERVE_OPS = ("get", "multi_get", "range", "index_get", "bitmap_eq", "bitmap_range",
             "ft_and", "ft_or", "ft_phrase", "ft_prefix", "ft_topk")
COMMITS = ("sql_delete", "sql_merge", "incremental_merge",
           "bulk_fallback", "txn", "doc_merge", "refused")
MAINT = ("compact_index", "compact", "vacuum")
SETUP_PHASES = ("session", "warmup", "build.table", "build.kv", "build.bitmap",
                "build.fulltext")


# ---- statistics -----------------------------------------------------------

def median(xs):
    return statistics.median(xs) if xs else 0.0


def tail(xs):
    """The tail of a timing: the highest order statistic with at least
    ten samples beyond it, never below the median. Returns (value,
    percentile, n); with fewer than 21 samples the tail is the median."""
    n = len(xs)
    if n == 0:
        return 0.0, 0.0, 0
    s = sorted(xs)
    rank = max(n - 10, (n + 1) // 2)  # 1-based
    if rank == (n + 1) // 2:
        return median(s), 50.0, n
    return s[rank - 1], 100.0 * rank / n, n


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


# ---- spans ------------------------------------------------------------------

LISTENER_SPANS = ("spark.job", "stream.batch")


def reparent(spans):
    """Listener threads hang Spark jobs and stream batches under the op;
    move each under the innermost code span of the same op that contains
    its start, so it counts against the module call that issued it."""
    code = [s for s in spans if s["name"] not in LISTENER_SPANS]
    by_op = {}
    for s in code:
        by_op.setdefault(s["op"], []).append(s)
    out = []
    for s in spans:
        if s["name"] in LISTENER_SPANS:
            inner = [c for c in by_op.get(s["op"], [])
                     if c["start"] <= s["start"] <= c["end"]]
            if inner:
                best = min(inner, key=lambda c: c["end"] - c["start"])
                s = dict(s, parent=best["id"])
        out.append(s)
    return out


def self_times(spans):
    """Self time of every span: its duration minus the time its children
    cover (children clipped to the parent). Returns {span id: ms}."""
    kids = {}
    for s in spans:
        kids.setdefault(s["parent"], []).append(s)
    out = {}
    for s in spans:
        cover = [(max(c["start"], s["start"]), min(c["end"], s["end"]))
                 for c in kids.get(s["id"], [])]
        cover = [(a, b) for a, b in cover if b > a]
        out[s["id"]] = (s["end"] - s["start"]) - union_ms(cover)
    return out


# ---- byte accounting ----------------------------------------------------------

def write_amp(raw):
    """Bytes that appeared under the warehouse during the loop ÷ logical
    bytes of the user rows the writes submitted."""
    st = raw.get("stats", {})
    user = st.get("user_bytes", 0)
    return st.get("warehouse_bytes_written", 0) / user if user else 0.0


def space_amp(raw):
    """Warehouse bytes at the end ÷ the live rows written once as parquet."""
    st = raw.get("stats", {})
    live = st.get("live_parquet_bytes", 0)
    return st.get("warehouse_bytes", 0) / live if live else 0.0


# ---- the metrics ----------------------------------------------------------------

def ops_per_s(raw):
    """Ops completed ÷ the time they take with every op name at its
    fastest in the run. Every run times the same names the same number
    of times (a fixed panel of keys over at least two passes, a fixed
    block of writes, reads and maintenance), so this is the loop's
    throughput at its unstalled speed, as graft.Bench sums per-key
    minimums: a pass that a busy host or a late JIT compile slowed moves
    it only if it slowed every run of a name, and the harness's checks
    between ops do not count."""
    by_name = {}
    for o in raw["ops"]:
        by_name.setdefault((o["kind"], o["name"]), []).append(o["ms"])
    busy_ms = sum(len(xs) * min(xs) for xs in by_name.values())
    return 1e3 * len(raw["ops"]) / busy_ms if busy_ms > 0 else 0.0


def setup_s(raw):
    return sum(raw["setup"].values())


def bad_ops(raw):
    return [o for o in raw["ops"] if o["status"] != "ok"]


def unexpected(raw):
    """Failures that are not one of the open defects."""
    return [o for o in bad_ops(raw)
            if not (o["status"] == "defect" and o["detail"].split(":")[0] in KNOWN_DEFECTS)]


def correct(raw):
    return not unexpected(raw) and raw.get("stats", {}).get("final_scan_ok", True)


def failures(raw):
    """Lines describing every failed op, for stderr."""
    return [f"op {o['id']} {o['kind']} {o['name']}: {o['status']} {o['detail']}"
            for o in bad_ops(raw)]


def _envelope(raw, metrics):
    return {"correct": correct(raw), "attempted": len(raw["ops"]),
            "failed": len(unexpected(raw)), "metrics": metrics}


def untraced(raw):
    """End-to-end metrics, as BENCHMARK.json lists them."""
    m = {
        "setup_s": (setup_s(raw), "s"),
        "ops_per_s": (ops_per_s(raw), "op/s"),
    }
    return _envelope(raw, {k: {"value": v, "unit": u} for k, (v, u) in m.items()})


def _per_op(ops, field):
    return sum(o.get("trace", {}).get(field, 0) for o in ops) / len(ops) if ops else 0.0


def traced(raw, untraced_ops_per_s):
    """Per-layer metrics of a traced run. Every metric BENCHMARK.json
    lists is present; one that the workload does not exercise reads 0."""
    ops = raw["ops"]
    spans = reparent(raw.get("spans", []))
    selfs = self_times(spans)
    m = {}

    su = raw["setup"]
    for p in SETUP_PHASES:
        m[f"setup.{p}_s"] = su.get(p, 0.0)

    def kind(k):
        return [o for o in ops if o["kind"] == k]

    for k, name in (("query", "query"), ("read", "read"), ("write", "write")):
        xs = [o["ms"] for o in kind(k)]
        t, pct, n = tail(xs)
        m[f"{name}_p50_ms"] = median(xs)
        m[f"{name}_tail_ms"] = t
        m[f"{name}_tail_pct"] = pct
        m[f"{name}_n"] = n
    m["error_rate"] = len(bad_ops(raw)) / len(ops) if ops else 0.0
    for d in KNOWN_DEFECTS:
        m[f"defect.{d}"] = sum(1 for o in ops if o["status"] == "defect"
                               and o["detail"].startswith(d))
    m["write_amp"] = write_amp(raw)
    m["space_amp"] = space_amp(raw)

    # Spark scheduler and Catalyst, per op of the workload's main kind
    main = kind("query") or kind("write")
    jobs_by_op = {}
    for s in spans:
        if s["name"] == "spark.job":
            jobs_by_op.setdefault(s["op"], []).append((s["start"], s["end"]))
    m["spark.jobs_per_op"] = _per_op(main, "jobs")
    m["spark.stages_per_op"] = _per_op(main, "stages")
    m["spark.tasks_per_op"] = _per_op(main, "tasks")
    m["spark.job_wall_ms"] = (sum(union_ms(jobs_by_op.get(o["id"], [])) for o in main) / len(main)
                              if main else 0.0)
    m["spark.task_run_s"] = _per_op(main, "task_run_ms") / 1e3
    m["spark.task_cpu_s"] = _per_op(main, "task_cpu_ns") / 1e9
    m["spark.task_gc_s"] = _per_op(main, "task_gc_ms") / 1e3
    m["spark.sched_delay_ms"] = _per_op(main, "sched_delay_ms")
    for f, name in (("input_bytes", "input"), ("shuffle_read_bytes", "shuffle_read"),
                    ("shuffle_write_bytes", "shuffle_write"), ("spill_bytes", "spill")):
        m[f"spark.{name}_mb"] = _per_op(main, f) / 1048576
    m["driver.self_ms"] = median([o["ms"] - union_ms(jobs_by_op.get(o["id"], [])) for o in main])
    m["catalyst.actions_per_op"] = _per_op(main, "actions")
    for p in ("analysis", "optimization", "planning"):
        m[f"catalyst.{p}_ms"] = _per_op(main, f"{p}_ms")
    for name in ("call", "action", "commit", "serve", "maint"):
        xs = [selfs[s["id"]] for s in spans if s["name"] == name]
        m[f"self.{name}_ms"] = median(xs)
    m["self.op_ms"] = median([selfs[s["id"]] for s in spans if s["name"].startswith("op.")])

    # analytics families
    for f in FAMILIES:
        m[f"analytics.family.{f}.p50_ms"] = median(
            [o["ms"] for o in kind("query") if o["family"] == f])

    # streaming: the st_stream_* keys, micro-batches attributed by runId
    q = [o for o in kind("query") if o["name"].startswith("st_stream_")]
    bq = [(o, b) for o in q for b in o.get("trace", {}).get("batches", [])]
    trig = [b.get("triggerExecution", 0) for _, b in bq]
    t, _, _ = tail(trig)
    m["stream.batches_per_op"] = len(bq) / len(q) if q else 0.0
    m["stream.batch_p50_ms"] = median(trig)
    m["stream.batch_tail_ms"] = t

    def bsum(*keys):
        return sum(b.get(k, 0) for _, b in bq for k in keys) / len(q) if q else 0.0
    m["stream.planning_ms"] = bsum("queryPlanning")
    m["stream.add_batch_ms"] = bsum("addBatch")
    m["stream.log_commit_ms"] = bsum("walCommit", "commitOffsets")
    m["stream.source_ms"] = bsum("latestOffset", "getBatch")
    m["stream.outside_batches_ms"] = median(
        [o["ms"] - sum(b.get("triggerExecution", 0) for b in o.get("trace", {}).get("batches", []))
         for o in q])

    # driver serving path and the connector
    reads = kind("read")
    for name in SERVE_OPS:
        xs = [o["ms"] for o in reads if o["name"] == name]
        t, _, _ = tail(xs)
        m[f"serve.{name}.p50_ms"] = median(xs)
        m[f"serve.{name}.tail_ms"] = t
    m["serve.rows_per_op"] = (sum(o.get("rows", 0) for o in reads) / len(reads)) if reads else 0.0
    direct = [o for o in reads if o["family"] == "serve"]
    m["serve.spark_jobs_per_read"] = _per_op(direct, "jobs")
    calls = [o for o in reads if o["family"] == "call"]
    m["connector.spark_jobs_per_call"] = _per_op(calls, "jobs")
    ms_get = [o["ms"] for o in calls if o["name"] == "ms_get"]
    get = [o["ms"] for o in reads if o["name"] == "get"]
    m["connector.call_overhead_ms"] = median(ms_get) - median(get) if ms_get and get else 0.0

    # commit path and maintenance
    writes = kind("write")
    for c in COMMITS:
        m[f"commit.{c}.p50_ms"] = median([o["ms"] for o in writes if o["name"].startswith(c)])
    m["commit.spark_jobs_per_commit"] = _per_op(writes, "jobs")
    m["commit.files_written_per_commit"] = (sum(o.get("files_written", 0) for o in writes) / len(writes)
                                            if writes else 0.0)
    m["commit.bytes_written_per_commit"] = (sum(o.get("bytes_written", 0) for o in writes) / len(writes)
                                            if writes else 0.0)
    st = raw.get("stats", {})
    m["commit.files_live"] = st.get("warehouse_files", 0)
    m["commit.snapshots_live"] = st.get("snapshots_live", 0)
    maint = kind("maint")
    m["maint.bytes_rewritten"] = sum(o.get("bytes_written", 0) for o in maint)
    for name in MAINT:
        m[f"maint.{name}_ms"] = median([o["ms"] for o in maint if o["name"] == name])
    m["maint.read_stall_ms"] = read_stall(ops)
    m["ingest.read_drift"] = read_drift(ops)

    # JVM and the tracer itself
    jvm = raw["jvm"]
    m["jvm.heap_mb"] = jvm["heap_mb"]
    m["jvm.gc_ms"] = jvm["gc_ms"]
    m["jvm.gc_count"] = jvm["gc_count"]
    m["jvm.heap_after_setup_mb"] = jvm["heap_after_setup_mb"]
    m["trace.overhead"] = (ops_per_s(raw) / untraced_ops_per_s - 1) if untraced_ops_per_s else 0.0
    m["trace.undrained_ops"] = sum(1 for o in ops if o.get("undrained"))
    return _envelope(raw, {k: {"value": v, "unit": UNITS.get(k, unit_of(k))} for k, v in m.items()})


def read_stall(ops, window=3):
    """Read p50 over the reads right after each maintenance op minus the
    read p50 over the reads right before it."""
    after, before = [], []
    for i, o in enumerate(ops):
        if o["kind"] != "maint":
            continue
        after += [x["ms"] for x in ops[i + 1:] if x["kind"] == "read"][:window]
        before += [x["ms"] for x in ops[:i] if x["kind"] == "read"][-window:]
    return median(after) - median(before) if after and before else 0.0


def read_drift(ops):
    """Read p50 over the last tenth of the loop ÷ the first tenth."""
    reads = [o["ms"] for o in ops if o["kind"] == "read"]
    k = max(1, len(reads) // 10)
    if len(reads) < 2:
        return 0.0
    first = median(reads[:k])
    return median(reads[-k:]) / first if first else 0.0


UNITS = {"error_rate": "ratio", "write_amp": "ratio", "space_amp": "ratio",
         "trace.overhead": "ratio", "ingest.read_drift": "ratio", "jvm.gc_count": "count",
         "commit.files_live": "count", "commit.snapshots_live": "count",
         "trace.undrained_ops": "count",
         "serve.rows_per_op": "rows"}


def unit_of(name):
    if name == "maint.bytes_rewritten" or name.endswith("bytes_written_per_commit"):
        return "bytes"
    if name.endswith("_ms"):
        return "ms"
    if name.endswith("_s"):
        return "s"
    if name.endswith("_mb"):
        return "MB"
    if name.endswith("_pct"):
        return "%"
    if name.endswith("_n") or "_per_" in name or name.startswith("defect."):
        return "count"
    return "ratio"


def benchmark_spec():
    with open(os.path.join(os.path.dirname(HERE), "BENCHMARK.json")) as f:
        return json.load(f)
