"""Seeded input generators for the benchmark, kept apart from the system
under test.

- :func:`audit_backlog` writes the ``audit_windows_drain`` backlog: audit
  CSV files plus a ``kafka_standin`` topic (the program's broker stand-in)
  whose records are correlated with the audit records so the window join
  has matches.
- :func:`openloop_main` is the ``clickstream_open_loop`` writer. It runs as
  its own single-threaded process (``python3 perfbench/gen.py openloop ...``),
  writes browser-event files on a fixed schedule that never slows down for
  the consumer, stamps each event with its due time, publishes every file
  atomically (hidden temp name, then rename) and reports how late it ran.
- :func:`panel_tables` writes the parquet tables the frozen batch panel
  reads, with the column names, types and value domains of the batch
  tables the registry queries were written against (FIXTURES.md, part B).

Every generator takes a seed; the same seed gives the same inputs (the
open-loop writer's timestamps are its due times, so they also depend on
the start instant it is given).
"""

from __future__ import annotations

import argparse
import json
import os
import random
import sys
import time

ENTITIES = ["Customer", "SalesRep"]
OPERATIONS = ["Create", "Modify", "Query", "Delete"]
ACTIONS = ["Login", "ViewVideo", "ViewLink", "ViewReview", "Logout"]
FLUSH_USER = "__flush__"
BASE_TS_MS = 1_700_000_000_000
GAP_MS = 4  # mean event-time gap between audit records
RATE_PER_S = 40.0  # open-loop arrival rate
TICK_S = 0.2  # open-loop writer publishes one file per tick


def quoted(fields) -> str:
    return ",".join(f'"{v}"' for v in fields)


def _write_atomic(path: str, text: str) -> None:
    d, name = os.path.split(path)
    tmp = os.path.join(d, f".{name}.tmp")  # hidden: the file source skips it
    with open(tmp, "w", encoding="utf-8") as f:
        f.write(text)
    os.replace(tmp, path)


def _pin_mtimes(paths: list[str]) -> None:
    """The file source orders files by modification time; pin one second
    apart, in generation order, so every micro-batch sees event time move
    forward and the watermark drops nothing."""
    t0 = time.time() - 2 * len(paths) - 60
    for i, p in enumerate(paths):
        os.utime(p, (t0 + i, t0 + i))


# ---------------------------------------------------------------------------
# audit_windows_drain
# ---------------------------------------------------------------------------

def audit_backlog(root: str, seed: int, n_records: int, n_users: int,
                  n_files: int) -> dict:
    """Write ``root/audit/*.csv`` (``n_files`` files) and the ``root/topic``
    stand-in topic (as many files).

    Audit records arrive in event-time order, ``GAP_MS`` apart on average,
    each from one of ``n_users`` users. For about half of them the topic
    carries a record of the same user up to 3 s later, so many pairs share
    a 5 s window. Both streams end with a flush sentinel far in the future
    that moves the watermark past every real window and session; the two
    sentinels sit in different 5 s windows so they never join.

    Returns the generated records for the reference computation:
    ``audit`` as (user, ts_ms) and ``topic`` as (user, ts_ms).
    """
    from flink_realtime_data_eng_spark import kafka_standin

    rng = random.Random(seed)
    users = [f"u{i:05d}" for i in range(n_users)]
    audit, topic = [], []
    ts = BASE_TS_MS
    lines = []
    for i in range(n_records):
        ts += rng.randint(0, 2 * GAP_MS)
        user = rng.choice(users)
        audit.append((user, ts))
        lines.append(quoted([i, user, rng.choice(ENTITIES),
                              rng.choice(OPERATIONS), ts,
                              rng.randint(1, 10), rng.randint(1, 4)]))
        if rng.random() < 0.5:
            topic.append((user, ts + rng.randint(0, 3000)))
    last = ts
    flush = quoted([n_records, FLUSH_USER, "Customer", "Query",
                     last + 60_000, 1, 1])

    audit_dir = os.path.join(root, "audit")
    os.makedirs(audit_dir)
    per_file = -(-len(lines) // n_files)
    chunks = [lines[k:k + per_file] for k in range(0, len(lines), per_file)]
    chunks[-1] = chunks[-1] + [flush]  # the sentinel rides in the last file
    paths = []
    for k, chunk in enumerate(chunks):
        p = os.path.join(audit_dir, f"audit_{k:05d}.csv")
        _write_atomic(p, "\n".join(chunk) + "\n")
        paths.append(p)
    _pin_mtimes(paths)

    topic.sort(key=lambda r: r[1])
    topic_lines = [(u, ",".join(map(str, [j, u, rng.choice(ENTITIES),
                                          rng.choice(OPERATIONS), t,
                                          rng.randint(1, 10),
                                          rng.randint(1, 4)])))
                   for j, (u, t) in enumerate(topic)]
    topic_flush = (FLUSH_USER, ",".join(map(str, [
        len(topic), FLUSH_USER, "Customer", "Query", last + 75_000, 1, 1])))
    topic_dir = os.path.join(root, "topic")
    per_file = -(-len(topic_lines) // len(chunks))  # as many files as audit
    for k in range(0, len(topic_lines), per_file):
        batch = topic_lines[k:k + per_file]
        if k + per_file >= len(topic_lines):
            batch = batch + [topic_flush]
        kafka_standin.produce(topic_dir, "audit", batch)
    data_dir = os.path.join(topic_dir, "data")
    _pin_mtimes(sorted(os.path.join(data_dir, f)
                       for f in os.listdir(data_dir)))
    return {"audit": audit, "topic": topic, "lines": lines,
            "audit_dir": audit_dir, "topic_dir": topic_dir}


# ---------------------------------------------------------------------------
# clickstream_open_loop
# ---------------------------------------------------------------------------

def openloop_events(seed: int, total_s: float, n_keys: int,
                    start: float) -> list[tuple[int, str, str, int]]:
    """(id, user, action, due_ms) for every event due in
    ``[start, start + total_s)``; event ``i`` is due at
    ``start + i / RATE_PER_S``."""
    rng = random.Random(seed)
    keys = [f"k{i:04d}" for i in range(n_keys)]
    n = int(round(RATE_PER_S * total_s))
    return [(i, rng.choice(keys), rng.choice(ACTIONS),
             int(round((start + i / RATE_PER_S) * 1000))) for i in range(n)]


def openloop_main(argv: list[str]) -> int:
    ap = argparse.ArgumentParser(prog="gen.py openloop")
    ap.add_argument("--out", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--total-s", type=float, required=True)
    ap.add_argument("--keys", type=int, required=True)
    ap.add_argument("--start", type=float, required=True)
    a = ap.parse_args(argv)

    events = openloop_events(a.seed, a.total_s, a.keys, a.start)
    late_ms, j, tick = [], 0, 0
    while j < len(events):
        tick += 1
        due = a.start + tick * TICK_S  # end of this tick, fixed schedule
        wait = due - time.time()
        if wait > 0:
            time.sleep(wait)
        hi = int(due * 1000)
        k = j
        while k < len(events) and events[k][3] <= hi:
            k += 1
        if k > j:
            _write_atomic(os.path.join(a.out, f"ev_{tick:06d}.csv"),
                          "\n".join(quoted(e) for e in events[j:k]) + "\n")
            late_ms.append((time.time() - due) * 1000.0)
            j = k
    flush_ts = events[-1][3] + 30_000 if events else int(a.start * 1000)
    _write_atomic(os.path.join(a.out, f"ev_{tick + 1:06d}.csv"),
                  quoted([len(events), FLUSH_USER, "Logout", flush_ts]) + "\n")
    late_ms.sort()
    p99 = late_ms[min(len(late_ms) - 1, int(0.99 * len(late_ms)))] \
        if late_ms else 0.0
    print(json.dumps({"events": len(events), "files": len(late_ms) + 1,
                      "late_p99_ms": p99,
                      "late_max_ms": late_ms[-1] if late_ms else 0.0}),
          flush=True)
    return 0


# ---------------------------------------------------------------------------
# batch_query_panel
# ---------------------------------------------------------------------------

PANEL_ROWS = {"customer": 750, "supplier": 50, "part": 1000,
              "orders": 7500, "lineitem": 30000, "events": 5000,
              "documents": 250, "embeddings": 250}

_WORDS = ("a the data table join window stream batch key value row column "
          "scan sort hash merge group agg filter query order line part "
          "customer spark fast slow big small vector").split()


def panel_tables(out_dir: str, seed: int, scale: float) -> None:
    """Write the ten panel tables as one parquet file each, with
    ``PANEL_ROWS`` times ``scale`` rows."""
    import numpy as np
    import pyarrow as pa
    import pyarrow.parquet as pq

    rng = np.random.default_rng(seed)
    n = {k: max(1, int(v * scale)) for k, v in PANEL_ROWS.items()}
    os.makedirs(out_dir, exist_ok=True)

    def put(name, cols):
        pq.write_table(pa.table(cols), os.path.join(out_dir, f"{name}.parquet"))

    def money(lo, hi, size):
        return np.round(rng.uniform(lo, hi, size), 2)

    def days(lo, hi, size):
        d0 = np.datetime64(lo, "D")
        span = (np.datetime64(hi, "D") - d0).astype(int)
        return pa.array((d0 + rng.integers(0, span + 1, size))
                        .astype("datetime64[ms]"), pa.timestamp("ms"))

    def pick(vocab, size):
        return pa.array(np.array(vocab, dtype=object)[
            rng.integers(0, len(vocab), size)].tolist(), pa.string())

    def ids(size):
        return pa.array(np.arange(size, dtype=np.int64))

    put("region", {"r_regionkey": pa.array(range(5), pa.int32()),
                   "r_name": pa.array(["AFRICA", "AMERICA", "ASIA", "EUROPE",
                                       "MIDDLE EAST"])})
    put("nation", {"n_nationkey": pa.array(range(25), pa.int32()),
                   "n_name": pa.array([f"NATION_{i}" for i in range(25)]),
                   "n_regionkey": pa.array([i % 5 for i in range(25)],
                                           pa.int32())})
    c = n["customer"]
    put("customer", {
        "c_custkey": ids(c),
        "c_name": pa.array([f"Customer#{i:09d}" for i in range(c)]),
        "c_nationkey": pa.array(rng.integers(0, 25, c), pa.int32()),
        "c_acctbal": money(-999.99, 9999.99, c),
        "c_mktsegment": pick(["AUTOMOBILE", "BUILDING", "FURNITURE",
                              "HOUSEHOLD", "MACHINERY"], c)})
    s = n["supplier"]
    put("supplier", {
        "s_suppkey": ids(s),
        "s_name": pa.array([f"Supplier#{i:09d}" for i in range(s)]),
        "s_nationkey": pa.array(rng.integers(0, 25, s), pa.int32()),
        "s_acctbal": money(-999.99, 9999.99, s)})
    p = n["part"]
    adj = ["blue", "red", "small", "large", "old", "new", "hot", "cold"]
    noun = ["bolt", "gear", "ring", "rod", "plate", "widget", "anvil", "gizmo"]
    put("part", {
        "p_partkey": ids(p),
        "p_name": pa.array([f"{adj[a]} {noun[b]}" for a, b in zip(
            rng.integers(0, len(adj), p), rng.integers(0, len(noun), p))]),
        "p_brand": pick([f"Brand#{i}" for i in range(1, 26)], p),
        "p_type": pick(["ECONOMY", "STANDARD", "LARGE", "SMALL", "MEDIUM",
                        "PROMO"], p),
        "p_size": pa.array(rng.integers(1, 51, p), pa.int32()),
        "p_retailprice": np.round(900 + (np.arange(p) % 1000) / 10, 2)})
    o = n["orders"]
    put("orders", {
        "o_orderkey": ids(o),
        "o_custkey": pa.array(rng.integers(0, c, o), pa.int64()),
        "o_orderstatus": pick(["F", "O", "P"], o),
        "o_totalprice": money(1000, 500000, o),
        "o_orderdate": days("1995-01-01", "2001-08-01", o),
        "o_orderpriority": pick(["1-URGENT", "2-HIGH", "3-MEDIUM",
                                 "4-NOT SPECIFIED", "5-LOW"], o)})
    li = n["lineitem"]
    okeys = np.sort(rng.integers(0, o, li))
    first = np.r_[True, okeys[1:] != okeys[:-1]]
    starts = np.maximum.accumulate(np.where(first, np.arange(li), 0))
    put("lineitem", {
        "l_orderkey": pa.array(okeys, pa.int64()),
        "l_partkey": pa.array(rng.integers(0, p, li), pa.int64()),
        "l_suppkey": pa.array(rng.integers(0, s, li), pa.int64()),
        "l_linenumber": pa.array(np.arange(li) - starts + 1, pa.int32()),
        "l_quantity": rng.integers(1, 51, li).astype(np.float64),
        "l_extendedprice": money(900, 105000, li),
        "l_discount": rng.integers(0, 11, li) / 100.0,
        "l_tax": rng.integers(0, 9, li) / 100.0,
        "l_returnflag": pick(["A", "N", "R"], li),
        "l_linestatus": pick(["F", "O"], li),
        "l_shipdate": days("1995-01-02", "2001-11-04", li)})
    e = n["events"]
    t0 = np.datetime64("2024-01-01T00:00:00", "us")
    ts = t0 + np.sort(rng.integers(0, 30 * 86_400 * 1_000_000, e))
    put("events", {
        "event_id": ids(e),
        "ts": pa.array(ts, pa.timestamp("us")),
        "user_id": pa.array(rng.integers(0, 150, e), pa.int64()),
        "event_type": pick(["click", "view", "purchase", "signup", "error"], e),
        "value": money(0.01, 500, e),
        "props": pa.array([f'{{"k": {k}}}' for k in rng.integers(0, 100, e)])})
    d = n["documents"]
    texts = []
    for i in range(d):
        if i >= 10 and rng.random() < 0.15:  # near-duplicate of an earlier doc
            w = texts[int(rng.integers(0, i))].split()
            for _ in range(max(1, len(w) // 20)):
                w[int(rng.integers(0, len(w)))] = _WORDS[
                    int(rng.integers(0, len(_WORDS)))]
        else:
            w = [_WORDS[j] for j in rng.integers(0, len(_WORDS),
                                                 int(rng.integers(8, 90)))]
        texts.append(" ".join(w))
    put("documents", {
        "doc_id": ids(d), "text": pa.array(texts),
        "lang": pick(["en", "en", "en", "de", "es", "fr", "zh"], d),
        "source": pick([f"src{i}" for i in range(20)], d),
        "n_chars": pa.array([len(t) for t in texts], pa.int64())})
    m = n["embeddings"]
    centers = rng.normal(0, 1, (10, 64))
    labels = rng.integers(0, 10, m)
    vecs = centers[labels] + rng.normal(0, 0.7, (m, 64))
    vecs /= np.linalg.norm(vecs, axis=1, keepdims=True)
    put("embeddings", {
        "vec_id": ids(m),
        "embedding": pa.array(vecs.astype(np.float32).tolist(),
                              pa.list_(pa.float32())),
        "label": pa.array(labels, pa.int32())})


if __name__ == "__main__":
    if len(sys.argv) > 1 and sys.argv[1] == "openloop":
        sys.exit(openloop_main(sys.argv[2:]))
    sys.exit("usage: gen.py openloop --out DIR --seed N --total-s S "
             "--keys K --start EPOCH_S")
