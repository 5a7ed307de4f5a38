#!/usr/bin/env python3
"""graft benchmark: one workload, one seed, one JSON line.

    python3 perfbench/run.py --workload tpch --seed 1 --seconds 10 --trace 0

Run from the root of a graft checkout. The first run compiles graft's
sources and the benchmark's JVM side with the Scala compiler that ships
with Spark, generates the sf0.1 tables and the oracle digests; later runs
reuse them from ``.bench_build/perfbench``. See ``perfbench/README.md``.
"""
import argparse
import glob
import hashlib
import json
import os
import re
import shutil
import signal
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

import datagen  # noqa: E402
import metrics  # noqa: E402

BUILD = os.path.join(ROOT, ".bench_build", "perfbench")
GOLDEN = os.path.join(HERE, "oracle_digests.tsv")
SF = 0.1
DATA_SEED = 42
CPUS = 4
JVM_TIMEOUT_S = 150

MIXES = {
    "short_queries": """q_ab_test q_asof_tolerance q_benford q_chi2_independence
        q_churn_cohort q_connector_count q_connector_source q_countmin q_dedup_exact
        q_distinct_users q_donation_rescale q_dp_counts q_embed_dim_stats q_filter_project
        q_hash_reservoir q_histogram q_k_anonymity q_kmv_distinct q_l_diversity
        q_label_centroids q_lang_entropy q_length_buckets q_length_trim q_mann_whitney
        q_merge_union q_mode_event q_multimodal_bytes q_multimodal_frames q_multimodal_meta
        q_norm_profile q_part_brands q_partition_plan q_quality_calibrated
        q_quality_residuals q_quality_score q_randomized_response q_redact_pii
        q_repl_walkthrough q_sentence_stats q_skew_report q_stratified_sample
        q_subword_count q_systematic_sample q_time_split q_token_count q_top_quality_docs
        q_topk_orders q_topology_dot q_topology_validate q_upsample_epochs
        q_weighted_sample""".split(),
    "tpch": ["q1_agg", "q_join_agg"] + [f"q_sql_q{i}" for i in range(3, 23)],
    "corpus_pipeline": """q_curate_corpus_v2 q_curate_corpus q_dedup_resolve_best
        q_leakfree_split q_kcenter_coreset q_minhash_lsh q_ivf_probe_sweep
        q_decontaminate_spans q_bloom_decontaminate q_embed_near_dup_lsh q_remove_spans
        q_semantic_dedup q_paragraph_dedup q_perplexity q_dsir_sample""".split(),
}

# stream workload: offered load, file cadence, warm-up and backlog
STREAM = {"rate": 1000, "files_per_s": 5, "primer_files": 40, "warm_s": 2,
          "backlog_events": 16000, "backlog_file_events": 200, "max_files": 8}

def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def fail(msg):
    log(f"FAILED: {msg}")
    sys.exit(1)


# ------------------------------------------------------------------ build

def spark_jars():
    home = os.environ.get("SPARK_HOME")
    if home and os.path.isdir(os.path.join(home, "jars")):
        return os.path.join(home, "jars")
    # otherwise the directory the project's own build reads its jars from
    try:
        with open(os.path.join(ROOT, "build.sbt")) as f:
            m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', f.read())
        if m and os.path.isdir(m.group(1)):
            return m.group(1)
    except OSError:
        pass
    fail("no Spark jars: set SPARK_HOME")


def java_opens():
    """The --add-opens flags build.sbt passes to forked JVMs."""
    pkgs = ["java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
            "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
            "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar"]
    return [a for p in pkgs for a in ("--add-opens", f"java.base/{p}=ALL-UNNAMED")]


def _stamp(paths, extra=""):
    """Hash of the files' names and contents, independent of where the
    checkout lives."""
    h = hashlib.sha256(extra.encode())
    for p in sorted(paths):
        h.update(os.path.basename(p).encode())
        with open(p, "rb") as f:
            h.update(f.read())
    return h.hexdigest()[:16]


def _scalac(jars, classpath, sources, out):
    comp = [os.path.join(jars, f"scala-{k}-2.13.17.jar") for k in ("compiler", "library", "reflect")]
    if not all(os.path.exists(c) for c in comp):
        comp = sorted(glob.glob(os.path.join(jars, "scala-compiler-*.jar"))
                      + glob.glob(os.path.join(jars, "scala-library-*.jar"))
                      + glob.glob(os.path.join(jars, "scala-reflect-*.jar")))
    shutil.rmtree(out, ignore_errors=True)
    os.makedirs(out)
    argfile = out + ".sources"
    with open(argfile, "w") as f:
        f.write("\n".join(sources) + "\n")
    tmp = os.path.join(BUILD, "tmp")
    os.makedirs(tmp, exist_ok=True)
    cmd = ["java", "-Xss8m", "-Xmx2g", "-XX:-UsePerfData", f"-Djava.io.tmpdir={tmp}",
           "-cp", ":".join(comp), "scala.tools.nsc.Main",
           "-usejavacp:false", "-nowarn", "-classpath", classpath, "-d", out, "@" + argfile]
    r = subprocess.run(cmd, capture_output=True, text=True)
    if r.returncode != 0:
        fail(f"scalac failed for {out}:\n{r.stdout[-4000:]}{r.stderr[-4000:]}")


def build():
    """Compile graft's main sources, then the benchmark's JVM side, each
    only when its sources changed. Returns the runtime classpath."""
    graft_src = os.path.join(ROOT, "src", "main", "scala")
    srcs = sorted(glob.glob(os.path.join(graft_src, "**", "*.scala"), recursive=True))
    if not srcs:
        fail(f"no graft sources under {graft_src}: run from the root of a graft checkout")
    jars = spark_jars()
    jar_cp = ":".join(sorted(glob.glob(os.path.join(jars, "*.jar"))))
    graft_out = os.path.join(BUILD, "classes", "graft")
    bench_out = os.path.join(BUILD, "classes", "bench")
    stamp_file = os.path.join(BUILD, "classes", "stamp.json")
    bench_srcs = sorted(glob.glob(os.path.join(HERE, "scala", "*.scala")))
    want = {"graft": _stamp(srcs, jars), "bench": ""}
    want["bench"] = _stamp(bench_srcs, want["graft"])
    have = {}
    if os.path.exists(stamp_file):
        with open(stamp_file) as f:
            have = json.load(f)
    if have.get("graft") != want["graft"]:
        t = time.time()
        _scalac(jars, jar_cp, srcs, graft_out)
        have = {"graft": want["graft"]}
        log(f"compiled graft in {time.time() - t:.1f} s")
    if have.get("bench") != want["bench"]:
        t = time.time()
        _scalac(jars, jar_cp + ":" + graft_out, bench_srcs, bench_out)
        log(f"compiled benchmark in {time.time() - t:.1f} s")
    os.makedirs(os.path.dirname(stamp_file), exist_ok=True)
    with open(stamp_file, "w") as f:
        json.dump(want, f)
    return ":".join([bench_out, graft_out, jar_cp]), want["graft"]


# ------------------------------------------------------------------ inputs

def tables():
    """The sf0.1 tables, regenerated when the generator changes. Returns
    their directory and a hash of their contents, which is what the oracle
    digests depend on."""
    d = os.path.join(BUILD, "data", f"sf{SF}-seed{DATA_SEED}")
    stamp = _stamp([os.path.join(HERE, "datagen.py")])
    marker = os.path.join(d, "stamp")
    if not (os.path.exists(marker) and open(marker).read() == stamp):
        t = time.time()
        shutil.rmtree(d, ignore_errors=True)
        datagen.write_tables(d, SF, DATA_SEED)
        with open(marker, "w") as f:
            f.write(stamp)
        log(f"generated sf{SF} tables in {time.time() - t:.1f} s")
    return d, _stamp([os.path.join(d, f"{t}.parquet") for t in datagen.TABLES])


def oracle_sql(cp, graft_stamp):
    """``SparkEntry.oracleSql`` of every query of the batch mixes."""
    path = os.path.join(BUILD, f"oracle-sql-{graft_stamp}.json")
    if not os.path.exists(path):
        work = os.path.join(BUILD, "work", "oracles")
        os.makedirs(work, exist_ok=True)
        names = sorted(set(q for m in MIXES.values() for q in m))
        jvm(cp, {"mode": "oracles", "out": path + ".tmp", "names": ",".join(names)}, work)
        os.replace(path + ".tmp", path)
    with open(path) as f:
        return json.load(f)["oracle_sql"]


def oracle_key(sql, data_stamp):
    """What a query's oracle digest depends on: its SQL, the tables and the
    digest rule."""
    h = hashlib.sha256(sql.encode())
    h.update(data_stamp.encode())
    with open(os.path.join(HERE, "digest.py"), "rb") as f:
        h.update(f.read())
    return h.hexdigest()[:16]


def expected_digests(cp, graft_stamp, data_dir, data_stamp):
    """DuckDB oracle digests of every batch query, as a TSV the JVM reads.

    Some oracles take minutes in DuckDB at sf0.1, so their digests are
    committed in ``oracle_digests.tsv``, each with the key it was computed
    under. A digest whose key no longer matches (the oracle SQL, the table
    generator or the digest rule changed) is recomputed here and cached in
    the build directory; ``--refresh-oracles`` rewrites the committed file.
    """
    import digest
    sql = oracle_sql(cp, graft_stamp)
    golden = {}
    if os.path.exists(GOLDEN):
        with open(GOLDEN) as f:
            for line in f.read().splitlines():
                if line and not line.startswith("#"):
                    n, key, rows, h, cols = line.split("\t")
                    golden[n] = (key, rows, h, cols)
    cache = os.path.join(BUILD, "oracle-digests")
    os.makedirs(cache, exist_ok=True)
    con = None
    out = {}
    for n in sorted(set(q for m in MIXES.values() for q in m)):
        if n not in sql:
            continue  # no oracle: the query's check fails
        key = oracle_key(sql[n], data_stamp)
        local = os.path.join(cache, f"{n}-{key}")
        if n in golden and golden[n][0] == key:
            out[n] = golden[n]
        elif os.path.exists(local):
            with open(local) as f:
                out[n] = tuple(f.read().split("\t"))
        else:
            if con is None:
                import duckdb
                con = duckdb.connect()
                con.execute("SET autoinstall_known_extensions=false")
                con.execute(f"SET temp_directory='{os.path.join(BUILD, 'tmp')}'")
                con.execute("SET TimeZone='UTC'")
                for tname in datagen.TABLES:
                    con.execute(f"CREATE VIEW {tname} AS SELECT * FROM '{data_dir}/{tname}.parquet'")
            t = time.time()
            res = con.sql(sql[n])
            d = digest.digest(res.columns, res.fetchall())
            out[n] = (key, str(d["rows"]), d["hash"], ",".join(d["columns"]))
            with open(local, "w") as f:
                f.write("\t".join(out[n]))
            log(f"oracle digest of {n} computed in {time.time() - t:.1f} s")
    path = os.path.join(BUILD, "expected.tsv")
    with open(path, "w") as f:
        for n, (_, rows, h, cols) in sorted(out.items()):
            f.write(f"{n}\t{rows}\t{h}\t{cols}\n")
    return path, out


def refresh_oracles():
    """Recompute every stale oracle digest and rewrite ``oracle_digests.tsv``."""
    cp, graft_stamp = build()
    data, data_stamp = tables()
    _, out = expected_digests(cp, graft_stamp, data, data_stamp)
    import duckdb
    with open(GOLDEN, "w") as f:
        f.write(f"# DuckDB {duckdb.__version__} oracle digests at sf{SF}, table seed {DATA_SEED}: "
                "name, key, rows, hash, columns. Written by run.py --refresh-oracles.\n")
        for n, row in sorted(out.items()):
            f.write(n + "\t" + "\t".join(row) + "\n")
    log(f"wrote {len(out)} digests to {GOLDEN}")


# ------------------------------------------------------------------ JVM

def jvm(cp, cfg, work):
    """Run the JVM side to completion; returns its run record."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    cmd = (["java", "-Xmx4g", "-Xmn1g", "-XX:+UseG1GC", "-XX:-UsePerfData", f"-Djava.io.tmpdir={tmp}",
            "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC"]
           + java_opens() + ["-cp", cp, "perfbench.Main"]
           + [f"{k}={v}" for k, v in cfg.items()])
    with open(os.path.join(work, "jvm.log"), "w") as errf:
        env = dict(os.environ, SPARK_LOCAL_DIRS=os.path.join(work, "spark-local"))
        p = subprocess.Popen(cmd, stdout=errf, stderr=errf, cwd=work, env=env,
                             start_new_session=True)
        try:
            p.wait(timeout=JVM_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            os.killpg(p.pid, signal.SIGKILL)
            p.wait()
            fail(f"JVM exceeded {JVM_TIMEOUT_S} s; log in {errf.name}")
    if p.returncode != 0 or not os.path.exists(cfg["out"]):
        with open(os.path.join(work, "jvm.log")) as f:
            tail = f.read()[-3000:]
        fail(f"JVM exited with {p.returncode}:\n{tail}")
    with open(cfg["out"]) as f:
        return json.load(f)


def fresh_work(name):
    work = os.path.join(BUILD, "work", name)
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    return work


# ------------------------------------------------------------------ workloads

def run_batch(args, cp, graft_stamp):
    data, data_stamp = tables()
    expected, _ = expected_digests(cp, graft_stamp, data, data_stamp)
    work = fresh_work(args.workload)
    cfg = {"mode": "batch", "out": os.path.join(work, "record.json"), "work": work,
           "data": data, "queries": ",".join(MIXES[args.workload]), "expected": expected,
           "seed": args.seed, "seconds": args.seconds, "trace": args.trace, "cpus": CPUS}
    launch = time.time() * 1000.0
    rec = jvm(cp, cfg, work)
    e2e, attempted, failed = metrics.batch_end_to_end(rec, launch)
    rec["samples"] = {"queries": len(metrics.query_times(rec["ops"])), "ops": len(rec["ops"]),
                      "passes": rec["passes"]}
    for c in rec["checks"]:
        if not c["ok"]:
            log(f"output check failed: {c['query']}: {c.get('error') or 'digest differs'}")
    layers = None
    if args.trace:
        rows = metrics.batch_counters(rec)
        prev = os.path.join(BUILD, "out", f"{args.workload}-seed{args.seed}-counters.json")
        previous = json.load(open(prev))["per_op"] if os.path.exists(prev) else None
        mism = metrics.counter_mismatches(rows, previous)
        for q, k, v in mism:
            log(f"counter not repeatable: {q} {k} {v}")
        layers = metrics.batch_per_layer(rec, rows, mism)
        write_out(args, rec["spans"], {"per_op": rows, "mismatches": mism})
    return e2e, layers, attempted, failed, rec


def run_stream(args, cp):
    work = fresh_work(args.workload)
    s = STREAM
    # one timed window of twice --seconds after the warm-up
    lo, hi = s["warm_s"], s["warm_s"] + 2 * args.seconds
    files = datagen.stream_plan(args.seed, s["rate"], s["files_per_s"], s["primer_files"],
                                s["warm_s"], 2 * args.seconds, s["backlog_events"],
                                s["backlog_file_events"])
    plan = os.path.join(work, "plan")
    names = datagen.write_stream_plan(plan, files)
    due_by_key = {e["key"]: due for _, due, evs in files for e in evs}
    events_by_file = {n: len(evs) for n, (_, _, evs) in zip(names, files)}
    cfg = {"mode": "stream", "out": os.path.join(work, "record.json"), "work": work,
           "plan": plan, "warm": s["warm_s"], "max_files": s["max_files"], "cpus": CPUS}
    launch = time.time() * 1000.0
    rec = jvm(cp, cfg, work)
    for f in rec["query_failures"]:
        log(f"stream query failed: {f}")
    # output rows by micro-batch, from the sink's metadata log; input events
    # by micro-batch, from the file source's log in the checkpoint
    import pyarrow.parquet as pq
    sink = os.path.join(work, "out", "large-transaction-made")
    keys_by_batch = {}
    for fname, batch in metrics.sink_batches(sink).items():
        keys = pq.read_table(os.path.join(sink, fname), columns=["key"]).column("key").to_pylist()
        keys_by_batch.setdefault(batch, []).extend(keys)
    files_by_batch = metrics.batch_files(rec, os.path.join(work, "ckpt", "topology"))
    events = {b: sum(events_by_file[f] for f in fs) for b, fs in files_by_batch.items()}
    drain, drain_batches = metrics.drain_rate(rec, events, hi)
    timed = metrics.window_metrics(rec, keys_by_batch, due_by_key, lo, hi)
    attempted = max(1, rec["expected_rows"])
    failed = rec["missing_rows"] + rec["extra_rows"]
    consumed = sum(events.values())
    if consumed != len(due_by_key):
        log(f"the topology consumed {consumed} of {len(due_by_key)} events")
    if rec["query_failures"] or not timed["samples"]["latency"] or consumed != len(due_by_key):
        failed = max(failed, 1)
    e2e = dict(timed["metrics"], setup_s=(rec["first_op_epoch_ms"] - launch) / 1000.0,
               drain_events_per_s=drain, peak_rss_mb=rec["peak_rss_mb"])
    rec["samples"] = dict(timed["samples"], drain_batches=drain_batches)
    log(f"samples {rec['samples']}, {rec['missing_rows']} missing / {rec['extra_rows']} extra rows")
    layers = None
    if args.trace:
        layers = metrics.stream_per_layer(rec, files_by_batch, events, lo, hi)
        write_out(args, metrics.stream_spans(rec), {"progress": rec["progress"]})
    return e2e, layers, attempted, failed, rec


def write_out(args, spans, counters):
    out = os.path.join(BUILD, "out")
    os.makedirs(out, exist_ok=True)
    stem = os.path.join(out, f"{args.workload}-seed{args.seed}")
    selfs = metrics.self_times(spans)
    for sp in spans:
        sp["self_ms"] = selfs[sp["id"]]
    with open(stem + "-spans.json", "w") as f:
        json.dump(spans, f)
    with open(stem + "-counters.json", "w") as f:
        json.dump(counters, f)
    log(f"wrote {stem}-spans.json and {stem}-counters.json")


def benchmark_json():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


def main(argv=None):
    if argv is None and sys.argv[1:] == ["--refresh-oracles"]:
        return refresh_oracles()
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True,
                    choices=sorted(MIXES) + ["stream_topology"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    args = ap.parse_args(argv)
    bench = benchmark_json()
    cp, graft_stamp = build()
    if args.workload == "stream_topology":
        e2e, layers, attempted, failed, rec = run_stream(args, cp)
    else:
        e2e, layers, attempted, failed, rec = run_batch(args, cp, graft_stamp)
    validity = metrics.validity(rec, args.seed)
    if "moves_us" in rec:
        validity["generator_lag_ms_max"] = metrics.generator_lag_ms_max(rec)
    log("validity " + json.dumps(validity))
    out = result(bench, args.trace, e2e, layers, attempted, failed, validity)
    # the run-validity record: enough to explain an unsteady run later
    os.makedirs(os.path.join(BUILD, "out"), exist_ok=True)
    stem = os.path.join(BUILD, "out", f"{args.workload}-seed{args.seed}-trace{args.trace}")
    with open(stem + "-run.json", "w") as f:
        json.dump({"validity": validity, "samples": rec["samples"], "end_to_end": e2e,
                   "per_layer": layers, "attempted": attempted, "failed": failed}, f)
    print(json.dumps(out))


def result(bench, trace, e2e, layers, attempted, failed, validity):
    """The result line: every end-to-end metric, or with ``trace`` every
    per-layer metric, a layer the workload does not run reading 0."""
    units = {m["name"]: m["unit"] for m in bench["end_to_end"] + bench["per_layer"]}
    if trace:
        names = [m["name"] for m in bench["per_layer"]]
        values = dict(layers, steal_s=validity["steal_s"], error_rate=failed / attempted)
    else:
        names = [m["name"] for m in bench["end_to_end"]]
        values = e2e
        missing = [n for n in names if n not in values]
        if missing:
            raise KeyError(f"end-to-end metrics not measured: {missing}")
    return {"correct": failed == 0, "attempted": int(attempted), "failed": int(failed),
            "metrics": {k: {"value": float(values.get(k, 0.0)), "unit": units[k]} for k in names}}


if __name__ == "__main__":
    main()
