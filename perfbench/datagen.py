"""Deterministic generators for the benchmark's inputs.

Two kinds of input are made here, both pure functions of their seed:

* ``write_tables`` writes the ten parquet tables the named queries read
  (``region nation customer supplier part orders lineitem events documents
  embeddings``), with the schemas and value distributions of the sf test
  tables: uniform keys, TPC-H-like value ranges, a 30-word vocabulary for
  ``documents`` (5% of which repeat an earlier document plus `` dup``) and
  unit-norm 64-dimensional ``embeddings``.
* ``stream_plan`` lays out the stream workload's events: the reference's
  ``purchase-made`` and ``humble-donation-made`` messages with an event-time
  ``ts``, cut into small files, each with the offset (seconds after the
  generator starts) at which it is due to land.
"""
import json
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]

VOCAB = ("a the data spark stream table query join filter group agg window "
         "sort hash scan vector row column key value batch merge order line "
         "part customer fast slow big small").split()
ADJ = "red blue hot cold old new large small".split()
NOUN = "bolt ring rod plate gear widget gizmo anvil".split()

_EPOCH = np.datetime64("1970-01-01", "D")
STREAM_EPOCH_US = 1_704_067_200_000_000  # 2024-01-01T00:00:00Z


def _days(start, end, n, rng):
    lo = (np.datetime64(start, "D") - _EPOCH).astype(np.int64)
    hi = (np.datetime64(end, "D") - _EPOCH).astype(np.int64)
    d = rng.integers(lo, hi + 1, n)
    return pa.array(d * 86_400_000_000, pa.timestamp("us"))


def _money(lo, hi, n, rng):
    return np.round(rng.uniform(lo, hi, n), 2)


def _choice(options, n, rng, p=None):
    return pa.array(np.asarray(options, dtype=object)[rng.choice(len(options), n, p=p)])


def make_tables(sf, seed):
    """Return ``{name: pyarrow.Table}`` for scale factor ``sf``."""
    rng = np.random.default_rng(seed)
    n_cust, n_supp = int(150_000 * sf), int(10_000 * sf)
    n_part, n_ord, n_li = int(200_000 * sf), int(1_500_000 * sf), int(6_000_000 * sf)
    n_ev, n_doc, n_emb = int(1_000_000 * sf), int(50_000 * sf), int(20_000 * sf)
    t = {}
    t["region"] = pa.table({
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]})
    t["nation"] = pa.table({
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32())})
    t["customer"] = pa.table({
        "c_custkey": pa.array(np.arange(n_cust), pa.int64()),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": pa.array(rng.integers(0, 25, n_cust), pa.int32()),
        "c_acctbal": _money(-999.99, 9999.99, n_cust, rng),
        "c_mktsegment": _choice(["AUTOMOBILE", "BUILDING", "FURNITURE",
                                 "HOUSEHOLD", "MACHINERY"], n_cust, rng)})
    t["supplier"] = pa.table({
        "s_suppkey": pa.array(np.arange(n_supp), pa.int64()),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": pa.array(rng.integers(0, 25, n_supp), pa.int32()),
        "s_acctbal": _money(-999.99, 9999.99, n_supp, rng)})
    pk = np.arange(n_part)
    t["part"] = pa.table({
        "p_partkey": pa.array(pk, pa.int64()),
        "p_name": pa.array([f"{ADJ[a]} {NOUN[b]}" for a, b in
                            zip(rng.integers(0, 8, n_part), rng.integers(0, 8, n_part))]),
        "p_brand": pa.array([f"Brand#{b}" for b in rng.integers(1, 26, n_part)]),
        "p_type": _choice(["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL",
                           "STANDARD"], n_part, rng),
        "p_size": pa.array(rng.integers(1, 51, n_part), pa.int32()),
        "p_retailprice": np.round(900 + (pk % 1000) / 10, 1)})
    t["orders"] = pa.table({
        "o_orderkey": pa.array(np.arange(n_ord), pa.int64()),
        "o_custkey": pa.array(rng.integers(0, n_cust, n_ord), pa.int64()),
        "o_orderstatus": _choice(["F", "O", "P"], n_ord, rng),
        "o_totalprice": _money(1000, 500_000, n_ord, rng),
        "o_orderdate": _days("1995-01-01", "2001-08-01", n_ord, rng),
        "o_orderpriority": _choice(["1-URGENT", "2-HIGH", "3-MEDIUM",
                                    "4-NOT SPECIFIED", "5-LOW"], n_ord, rng)})
    t["lineitem"] = pa.table({
        "l_orderkey": pa.array(rng.integers(0, n_ord, n_li), pa.int64()),
        "l_partkey": pa.array(rng.integers(0, n_part, n_li), pa.int64()),
        "l_suppkey": pa.array(rng.integers(0, n_supp, n_li), pa.int64()),
        "l_linenumber": pa.array(rng.integers(1, 8, n_li), pa.int32()),
        "l_quantity": rng.integers(1, 51, n_li).astype(np.float64),
        "l_extendedprice": _money(900, 105_000, n_li, rng),
        "l_discount": rng.integers(0, 11, n_li) / 100,
        "l_tax": rng.integers(0, 9, n_li) / 100,
        "l_returnflag": _choice(["A", "N", "R"], n_li, rng),
        "l_linestatus": _choice(["F", "O"], n_li, rng),
        "l_shipdate": _days("1995-01-02", "2001-11-04", n_li, rng)})
    t0 = int((np.datetime64("2024-01-01", "D") - _EPOCH).astype(np.int64)) * 86_400_000_000
    ts = np.sort(rng.integers(0, 30 * 86_400_000_000, n_ev)) + t0
    t["events"] = pa.table({
        "event_id": pa.array(np.arange(n_ev), pa.int64()),
        "ts": pa.array(ts, pa.timestamp("us")),
        "user_id": pa.array(rng.integers(0, max(1, n_ev // 66), n_ev), pa.int64()),
        "event_type": _choice(["click", "error", "purchase", "signup", "view"], n_ev, rng),
        "value": np.round(rng.exponential(50.0, n_ev), 2),
        "props": pa.array([f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)])})
    texts = []
    for i in range(n_doc):
        if i > 0 and rng.random() < 0.05:
            texts.append(texts[int(rng.integers(0, i))] + " dup")
        else:
            words = rng.integers(0, len(VOCAB), int(rng.integers(10, 101)))
            texts.append(" ".join(VOCAB[w] for w in words))
    t["documents"] = pa.table({
        "doc_id": pa.array(np.arange(n_doc), pa.int64()),
        "text": pa.array(texts),
        "lang": _choice(["en", "de", "es", "fr", "zh"], n_doc, rng,
                        p=[0.4, 0.15, 0.15, 0.15, 0.15]),
        "source": pa.array([f"src{i % 20}" for i in range(n_doc)]),
        "n_chars": pa.array([len(x) for x in texts], pa.int64())})
    emb = rng.standard_normal((n_emb, 64)).astype(np.float32)
    emb /= np.linalg.norm(emb, axis=1, keepdims=True)
    t["embeddings"] = pa.table({
        "vec_id": pa.array(np.arange(n_emb), pa.int64()),
        "embedding": pa.array(list(emb), pa.list_(pa.float32())),
        "label": pa.array(rng.integers(0, 10, n_emb), pa.int32())})
    return t


def write_tables(out_dir, sf, seed):
    os.makedirs(out_dir, exist_ok=True)
    for name, table in make_tables(sf, seed).items():
        pq.write_table(table, os.path.join(out_dir, f"{name}.parquet"))


def stream_plan(seed, rate, files_per_s, primer_files, warm_s, offered_s,
                backlog_events, backlog_file_events):
    """Events for the stream workload, grouped into files.

    Returns the files, each ``(topic, due_offset_s, events)``.
    ``primer_files`` files per topic are due at 0, to be processed before
    the clock starts. The offered phase lasts ``warm_s +
    offered_s`` seconds at ``rate`` events per second split over both
    topics, ``files_per_s`` files per topic per second; the backlog of
    ``backlog_events`` lands at once when it ends, in files of
    ``backlog_file_events``. Keys are unique across both topics and every event's ``ts`` is
    ``STREAM_EPOCH_US`` plus its due offset in microseconds, so a key
    identifies both the event and the moment it was due. (Event time sits
    well after 1970: a stateful query's first watermark is the epoch, and
    rows at or before a watermark count as late.)
    """
    rng = np.random.default_rng(seed)
    files, key = [], 1
    per_file = max(1, int(round(rate / 2 / files_per_s)))

    def events(topic, n, due_s):
        nonlocal key
        out = []
        for _ in range(n):
            us = STREAM_EPOCH_US + int(due_s * 1_000_000)
            if topic == "purchase-made":
                # amount >= 100 passes the topology's purchase filter
                out.append({"key": key, "id": key,
                            "amount": int(rng.integers(1, 201)),
                            "user_id": int(rng.integers(0, 5000)),
                            "quantity": int(rng.integers(1, 11)), "ts": us})
            else:
                # donation_amount_cents >= 10000 passes the donation filter
                out.append({"key": key,
                            "donation_amount_cents": int(rng.integers(100, 20001)),
                            "user_id": int(rng.integers(0, 5000)),
                            "donation_date": f"2019-01-{int(rng.integers(1, 29)):02d}",
                            "ts": us})
            key += 1
        return out

    for _ in range(primer_files):
        for topic in ("purchase-made", "humble-donation-made"):
            files.append((topic, 0.0, events(topic, per_file, 0.0)))
    end = warm_s + offered_s
    n_slots = int(round(end * files_per_s))
    for i in range(n_slots):
        due = (i + 1) / files_per_s
        for topic in ("purchase-made", "humble-donation-made"):
            files.append((topic, due, events(topic, per_file, due)))
    n_backlog = max(2, backlog_events // backlog_file_events)
    for j in range(n_backlog):
        topic = ("purchase-made", "humble-donation-made")[j % 2]
        files.append((topic, end, events(topic, backlog_file_events, end)))
    return files


def write_stream_plan(out_dir, files):
    """Stage the files as JSON lines plus a ``schedule.tsv`` the JVM's
    generator thread replays: one ``topic<TAB>due_us<TAB>file`` line each.
    Returns the file names, in plan order."""
    os.makedirs(out_dir, exist_ok=True)
    lines, names = [], []
    for i, (topic, due, evs) in enumerate(files):
        name = f"{i:06d}.json"
        names.append(name)
        with open(os.path.join(out_dir, name), "w") as f:
            for e in evs:
                f.write(json.dumps(e, separators=(",", ":")) + "\n")
        lines.append(f"{topic}\t{int(due * 1_000_000)}\t{name}")
    with open(os.path.join(out_dir, "schedule.tsv"), "w") as f:
        f.write("\n".join(lines) + "\n")
    return names
