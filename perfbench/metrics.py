"""Reduction of a run record (written by the JVM side) to the benchmark's
metrics. Pure functions, so the rules are testable without Spark."""
import datetime as _dt
import json
import math
import os
import statistics

CPUS = 4
JIFFY_S = 0.01


def percentile(values, p):
    """Nearest-rank percentile: the smallest sample with at least ``p``% of
    the samples at or below it. Always a measured value; with 45 samples
    p75 is the 34th, leaving 11 above it."""
    if not values:
        raise ValueError("percentile of no samples")
    xs = sorted(values)
    rank = max(1, math.ceil(p / 100.0 * len(xs)))
    return xs[rank - 1]


def _median(xs):
    return float(statistics.median(xs)) if xs else 0.0


def _epoch_ms(iso):
    return _dt.datetime.fromisoformat(iso.replace("Z", "+00:00")).timestamp() * 1000.0


def validity(rec, seed):
    b, a = rec["validity_before"], rec["validity_after"]
    return {"seed": seed, "steal_s": (a["steal_jiffies"] - b["steal_jiffies"]) * JIFFY_S,
            "load1_before": b["load1"], "load1_after": a["load1"]}


# ------------------------------------------------------------------ batch

def query_times(ops):
    """Query -> its fastest untraced op. A steal or neighbour burst seldom
    hits the same query in two passes run a pass apart, so the faster of
    them is the query's time on a quiet machine."""
    best = {}
    for o in ops:
        if not o.get("traced"):
            best[o["query"]] = min(o["ms"], best.get(o["query"], math.inf))
    return best


def batch_end_to_end(rec, launch_epoch_ms):
    """End-to-end metrics of a batch mix, over each query's time. Every
    query of the closed loop is also an event: it is due when the client
    submits it and done when its result is counted, so the event latencies
    are the query latencies and the loop drains its queue at
    ``queries_per_s``."""
    ms = list(query_times(rec["ops"]).values())
    failed = sum(1 for o in rec["ops"] if not o["ok"]) + sum(1 for c in rec["checks"] if not c["ok"])
    attempted = len(rec["ops"]) + len(rec["checks"])
    qps = len(ms) / (sum(ms) / 1000.0)
    return {
        "setup_s": (rec["first_op_epoch_ms"] - launch_epoch_ms) / 1000.0,
        "query_p50_ms": percentile(ms, 50),
        "query_p75_ms": percentile(ms, 75),
        "queries_per_s": qps,
        "event_latency_p50_ms": percentile(ms, 50),
        "event_latency_p99_ms": percentile(ms, 99),
        "drain_events_per_s": qps,
        "peak_rss_mb": rec["peak_rss_mb"],
    }, attempted, failed


def _children(spans):
    kids = {}
    for s in spans:
        kids.setdefault(s["parent"], []).append(s)
    return kids


def self_times(spans):
    """Span id -> duration minus the durations of its children, in ms."""
    kids = _children(spans)
    return {s["id"]: (s["end_ns"] - s["start_ns"]
                      - sum(c["end_ns"] - c["start_ns"] for c in kids.get(s["id"], []))) / 1e6
            for s in spans}


COUNTERS = ["construct_jobs", "schema_jobs", "exec_jobs", "stages", "exchanges",
            "reused_exchanges", "plan_nodes", "shuffle_write_bytes"]


def batch_counters(rec):
    """Per traced op: the deterministic counters plus times and task totals."""
    tags = rec.get("jobs_by_tag", {})
    spans = rec.get("spans", [])
    dur = {}
    for s in spans:
        if s["parent"] >= 0:
            dur[(s["op"], s["name"])] = (s["end_ns"] - s["start_ns"]) / 1e6
    rows = []
    for o in rec["ops"]:
        if not o.get("traced"):
            continue
        op = o["op"]
        c = tags.get(f"{op}/construct", {})
        p = tags.get(f"{op}/plan", {})
        e = tags.get(f"{op}/exec", {})

        def tot(k):
            return c.get(k, 0) + p.get(k, 0) + e.get(k, 0)
        rows.append({
            "query": o["query"], "pass": o["pass"], "op": op, "ok": o["ok"],
            "construct_jobs": c.get("jobs", 0), "schema_jobs": c.get("schema_jobs", 0),
            "exec_jobs": p.get("jobs", 0) + e.get("jobs", 0), "stages": tot("stages"),
            "exchanges": o.get("exchanges", 0), "reused_exchanges": o.get("reused_exchanges", 0),
            "plan_nodes": o.get("plan_nodes", 0), "bnlj_nodes": o.get("bnlj_nodes", 0),
            "shuffle_write_bytes": tot("shuffle_write_bytes"),
            "shuffle_read_bytes": tot("shuffle_read_bytes"), "scan_bytes": tot("scan_bytes"),
            "spill_bytes": tot("spill_bytes"), "gc_ms": tot("gc_ms"), "tasks": tot("tasks"),
            "task_run_ms": tot("task_run_ms"), "task_cpu_ns": tot("task_cpu_ns"),
            "task_failures": tot("task_failures"),
            "op_ms": o["ms"], "construct_ms": dur.get((op, "construct"), 0.0),
            "plan_ms": dur.get((op, "plan"), 0.0), "exec_ms": dur.get((op, "exec"), 0.0),
            "analysis_ms": o.get("analysis_ms", 0), "optimizer_ms": o.get("optimization_ms", 0),
            "planning_ms": o.get("planning_ms", 0),
        })
    return rows


def counter_mismatches(rows, previous=None):
    """Deterministic counters that differ between passes of this run, or
    from ``previous`` (the counters of an earlier run with the same seed).
    Returns ``[(query, counter, values)]``."""
    seen = {}
    for r in rows + (previous or []):
        for k in COUNTERS:
            seen.setdefault((r["query"], k), set()).add(r[k])
    return [(q, k, sorted(v)) for (q, k), v in sorted(seen.items()) if len(v) > 1]


def batch_per_layer(rec, rows, mismatches):
    traced_passes = sorted({r["pass"] for r in rows})
    n = max(1, len(traced_passes))

    def per_pass(k):
        return sum(r[k] for r in rows) / n
    op_ms = per_pass("op_ms")
    untraced = {}
    for o in rec["ops"]:
        if not o.get("traced"):
            untraced.setdefault(o["query"], []).append(o["ms"])
    traced = {}
    for r in rows:
        traced.setdefault(r["query"], []).append(r["op_ms"])
    common = sorted(set(untraced) & set(traced))
    ratio = (sum(_median(traced[q]) for q in common)
             / max(1e-9, sum(_median(untraced[q]) for q in common))) if common else 1.0
    selfs = self_times(rec.get("spans", []))
    op_spans = [s for s in rec.get("spans", []) if s["parent"] < 0]
    op_self = sum(selfs[s["id"]] for s in op_spans)
    out = {k: per_pass(k) for k in (
        "construct_ms", "construct_jobs", "schema_jobs", "scan_bytes", "analysis_ms",
        "optimizer_ms", "planning_ms", "plan_nodes", "exchanges", "reused_exchanges",
        "bnlj_nodes", "exec_ms", "exec_jobs", "stages", "tasks", "shuffle_write_bytes",
        "shuffle_read_bytes", "spill_bytes", "gc_ms", "task_failures")}
    out.update({
        "plan_ms": per_pass("plan_ms"),
        "op_ms": op_ms,
        "op_self_ms": op_self / n,
        "task_run_s": per_pass("task_run_ms") / 1000.0,
        "task_cpu_s": per_pass("task_cpu_ns") / 1e9,
        "core_busy_frac": per_pass("task_run_ms") / max(1e-9, CPUS * op_ms),
        "counter_mismatches": len(mismatches),
        "trace_overhead_frac": ratio - 1.0,
    })
    return out


# ------------------------------------------------------------------ stream

def sink_batches(sink_dir):
    """Output file name -> micro-batch id, from the file sink's metadata log.
    A compacted log entry repeats earlier batches' files, so each file is
    assigned to the lowest batch that lists it."""
    log = os.path.join(sink_dir, "_spark_metadata")
    owner = {}
    entries = []
    for name in os.listdir(log):
        if name.startswith("."):
            continue
        entries.append((int(name.split(".")[0]), name))
    for batch, name in sorted(entries):
        with open(os.path.join(log, name)) as f:
            for line in f.read().splitlines()[1:]:
                if line.strip():
                    path = json.loads(line)["path"]
                    owner.setdefault(os.path.basename(path), batch)
    return owner


def progress_by_query(rec):
    out = {}
    for p in rec["progress"]:
        d = json.loads(p)
        out.setdefault(d["id"], []).append(d)
    for v in out.values():
        v.sort(key=lambda d: d["batchId"])
    return out


def trigger_window(p):
    start = _epoch_ms(p["timestamp"])
    return start, start + p["durationMs"].get("triggerExecution", 0)


def stream_latencies(rec, keys_by_batch, due_by_key, lo_s, hi_s):
    """Latency in ms of every output row whose event was due in
    ``[lo_s, hi_s)`` seconds after the generator started: from the due time
    to the end of the trigger that committed the row."""
    prog = {p["batchId"]: p for p in progress_by_query(rec)[rec["topology_id"]]}
    t0 = rec["t0_epoch_ms"]
    lat = []
    for batch, keys in keys_by_batch.items():
        if batch not in prog:
            continue
        end = trigger_window(prog[batch])[1]
        for k in keys:
            due = due_by_key.get(k)
            if due is not None and lo_s <= due < hi_s:
                lat.append(end - (t0 + due * 1000.0))
    return lat


def window_metrics(rec, keys_by_batch, due_by_key, lo_s, hi_s):
    """The stream's latency metrics over the timed window: event latency
    and the topology's micro-batches (its "queries") that started in it."""
    lat = stream_latencies(rec, keys_by_batch, due_by_key, lo_s, hi_s)
    batch_ms = [p["durationMs"]["triggerExecution"] for p in timed_batches(rec, lo_s, hi_s)]
    return {
        "metrics": {
            "query_p50_ms": percentile(batch_ms, 50) if batch_ms else 0.0,
            "query_p75_ms": percentile(batch_ms, 75) if batch_ms else 0.0,
            "queries_per_s": len(batch_ms) / max(1e-9, sum(batch_ms) / 1000.0),
            "event_latency_p50_ms": percentile(lat, 50) if lat else 0.0,
            "event_latency_p99_ms": percentile(lat, 99) if lat else 0.0,
        },
        "samples": {"latency": len(lat), "batches": len(batch_ms)},
    }


def timed_batches(rec, lo_s, hi_s, qid=None):
    """Micro-batches of one query (the topology's by default) that started
    in ``[lo_s, hi_s)`` seconds after the generator started."""
    t0 = rec["t0_epoch_ms"]
    return [p for p in progress_by_query(rec).get(qid or rec["topology_id"], [])
            if lo_s * 1000 <= trigger_window(p)[0] - t0 < hi_s * 1000]


def source_files(ckpt):
    """Per source index, the files each of its log batches took, read from
    the file source logs under the query's checkpoint. A compacted log
    repeats earlier entries, so each file is kept once."""
    out = {}
    root = os.path.join(ckpt, "sources")
    for src in os.listdir(root):
        seen = {}
        for name in os.listdir(os.path.join(root, src)):
            if name.startswith("."):
                continue
            with open(os.path.join(root, src, name)) as f:
                for line in f.read().splitlines()[1:]:
                    if line.strip():
                        e = json.loads(line)
                        seen.setdefault(os.path.basename(e["path"]), e["batchId"])
        files = {}
        for fname, b in seen.items():
            files.setdefault(b, []).append(fname)
        out[int(src)] = files
    return out


def _log_offset(o):
    if o is None:
        return -1
    if isinstance(o, str):
        o = json.loads(o)
    return int(o["logOffset"])


def batch_files(rec, ckpt):
    """Topology micro-batch id -> the input files it consumed: the
    source-log batches between its start and end offsets."""
    files = source_files(ckpt)
    out = {}
    for p in progress_by_query(rec)[rec["topology_id"]]:
        out[p["batchId"]] = [f for i, src in enumerate(p["sources"])
                             for b in range(_log_offset(src.get("startOffset")) + 1,
                                            _log_offset(src.get("endOffset")) + 1)
                             for f in files.get(i, {}).get(b, [])]
    return out


def drain_rate(rec, events, backlog_offset_s):
    """Events per second of the median micro-batch among the topology's
    batches that started once the backlog had landed (a batch's events over
    its trigger time); the median keeps a batch slowed by a steal burst out."""
    land = rec["t0_epoch_ms"] + backlog_offset_s * 1000.0
    rates = [events[p["batchId"]] / max(1e-9, p["durationMs"]["triggerExecution"] / 1000.0)
             for p in progress_by_query(rec)[rec["topology_id"]]
             if events.get(p["batchId"], 0) > 0 and trigger_window(p)[0] >= land]
    return _median(rates), len(rates)


def stream_per_layer(rec, files, events, lo_s, hi_s):
    """Per-batch phase medians over the timed window, state figures from
    the dedup query, backlog and generator lateness."""
    byq = progress_by_query(rec)
    t0 = rec["t0_epoch_ms"]
    topo = timed_batches(rec, lo_s, hi_s)
    dedup_all = byq.get(rec["dedup_id"], [])
    dedup = timed_batches(rec, lo_s, hi_s, rec["dedup_id"])

    def med(key, ps=topo):
        return _median([p["durationMs"].get(key, 0) for p in ps])
    # files landed by a timed batch's start minus files consumed before it
    backlog, consumed = [], 0
    for p in byq[rec["topology_id"]]:
        start_us = (trigger_window(p)[0] - t0) * 1000.0
        if lo_s * 1e6 <= start_us < hi_s * 1e6:
            backlog.append(sum(1 for m in rec["moves_us"] if m <= start_us) - consumed)
        consumed += len(files.get(p["batchId"], []))
    states = [s for p in dedup for s in p.get("stateOperators", [])]
    last_state = (dedup_all[-1].get("stateOperators") or [{}])[0] if dedup_all else {}
    return {
        "batches": float(len(topo)),
        "batch_ms": med("triggerExecution"),
        "add_batch_ms": med("addBatch"),
        "latest_offset_ms": med("latestOffset"),
        "query_planning_ms": med("queryPlanning"),
        "wal_commit_ms": med("walCommit"),
        "commit_offsets_ms": med("commitOffsets"),
        "rows_per_batch": _median([events.get(p["batchId"], 0) for p in topo]),
        "dedup_batch_ms": med("triggerExecution", dedup),
        "state_rows": float(last_state.get("numRowsTotal", 0)),
        "state_memory_bytes": float(last_state.get("memoryUsedBytes", 0)),
        "state_commit_ms": _median([s.get("commitTimeMs", 0) for s in states]),
        "backlog_files_max": float(max(backlog, default=0)),
        "topology_compile_ms": _median(rec["compile_ms"]),
        "generator_lag_ms_max": generator_lag_ms_max(rec),
        "trace_overhead_frac": 0.0,
    }


def generator_lag_ms_max(rec):
    """Worst lateness of the generator's file moves against their due time."""
    return max(((m - d) / 1000.0 for m, d in zip(rec["moves_us"], rec["schedule_due_us"])),
               default=0.0)


def stream_spans(rec):
    """One span per micro-batch of each query, with one child per
    ``durationMs`` phase laid end to end from the trigger's start."""
    spans = []
    t0 = rec["t0_epoch_ms"]
    phases = ["latestOffset", "queryPlanning", "getBatch", "addBatch", "walCommit", "commitOffsets"]
    for qid, ps in progress_by_query(rec).items():
        name = "topology" if qid == rec["topology_id"] else "dedup"
        for p in ps:
            start, end = trigger_window(p)
            root = len(spans)
            spans.append({"id": root, "name": f"{name}/batch", "op": p["batchId"], "parent": -1,
                          "start_ns": int((start - t0) * 1e6), "end_ns": int((end - t0) * 1e6)})
            cur = start
            for ph in phases:
                d = p["durationMs"].get(ph)
                if d is None:
                    continue
                spans.append({"id": len(spans), "name": ph, "op": p["batchId"], "parent": root,
                              "start_ns": int((cur - t0) * 1e6), "end_ns": int((cur + d - t0) * 1e6)})
                cur += d
    return spans
