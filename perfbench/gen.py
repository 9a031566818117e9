"""Input generator for the graft benchmark.

Three kinds of input:

* Base tables (``write_tables``): the TPC-H-ish star schema, the
  ``events`` stream table, the ``documents`` corpus and the
  ``embeddings`` table that graft's entries read.  They come from a
  fixed table seed, independent of the run seed, so every entry's
  expected row count and content hash can be recorded once
  (``expected.json``) and checked on every run.  The documents are
  bags of words over a 30-word vocabulary with 5% planted
  ``<original> dup`` re-posts; the small vocabulary makes most
  documents share their MinHash bands, which is the near-dup
  mega-cluster the dedup operators must survive.
* Operation order (``op_orders``): a seeded shuffle of the mix per
  measured round.
* Landing batches (``IngestPlan``): JSON files in graft's
  ``Ingest.rawSchema`` envelope for the streaming ingest leg.  They
  come from the run seed and carry a bounded user pool, planted
  re-deliveries and fully malformed lines; the plan keeps its own
  tally of per-user totals, re-deliveries and malformed lines so the
  benchmark can check the gold table against it.

Usage: ``python3 perfbench/gen.py <out_dir>`` writes the base tables.
"""

import json
import os
import random
import sys

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

TABLE_SEED = 42
SIZES = {
    "customer": 1500, "supplier": 100, "part": 2000, "orders": 15000,
    "lineitem": 60000, "events": 10000, "users": 150, "documents": 1000,
    "embeddings": 500,
}
VOCAB = ("a the data table row column key value part line order customer "
         "scan join filter group agg sort hash merge window stream batch "
         "query spark vector big small fast slow").split()
LANGS = ["en", "de", "es", "fr", "zh"]
LANG_P = [0.41, 0.15, 0.15, 0.145, 0.145]

US_PER_DAY = 86_400_000_000


def _days(start_y, start_m, start_d):
    return int(np.datetime64(f"{start_y:04d}-{start_m:02d}-{start_d:02d}", "D")
               .astype("int64"))


def _ts(days):
    return pa.array(np.asarray(days, dtype="int64") * US_PER_DAY,
                    type=pa.timestamp("us"))


def _money(rng, lo, hi, n):
    return np.round(rng.uniform(lo, hi, n), 2)


def tables():
    """Build every base table; returns {name: pyarrow.Table}."""
    rng = np.random.Generator(np.random.PCG64(TABLE_SEED))
    n = SIZES
    out = {}
    out["region"] = pa.table({
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]})
    out["nation"] = pa.table({
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32())})
    segs = np.array(["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD",
                     "MACHINERY"])
    c = n["customer"]
    out["customer"] = pa.table({
        "c_custkey": pa.array(np.arange(c), pa.int64()),
        "c_name": [f"Customer#{i:09d}" for i in range(c)],
        "c_nationkey": pa.array(rng.integers(0, 25, c), pa.int32()),
        "c_acctbal": _money(rng, -999.99, 9999.99, c),
        "c_mktsegment": segs[rng.integers(0, 5, c)]})
    s = n["supplier"]
    out["supplier"] = pa.table({
        "s_suppkey": pa.array(np.arange(s), pa.int64()),
        "s_name": [f"Supplier#{i:09d}" for i in range(s)],
        "s_nationkey": pa.array(rng.integers(0, 25, s), pa.int32()),
        "s_acctbal": _money(rng, -999.99, 9999.99, s)})
    adj = np.array(["blue", "red", "small", "large", "old", "new", "hot", "cold"])
    noun = np.array(["bolt", "gear", "ring", "rod", "plate", "anvil", "widget",
                     "gizmo"])
    types = np.array(["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"])
    p = n["part"]
    out["part"] = pa.table({
        "p_partkey": pa.array(np.arange(p), pa.int64()),
        "p_name": np.char.add(np.char.add(adj[rng.integers(0, 8, p)], " "),
                              noun[rng.integers(0, 8, p)]),
        "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, p)],
        "p_type": types[rng.integers(0, 6, p)],
        "p_size": pa.array(rng.integers(1, 51, p), pa.int32()),
        "p_retailprice": np.round(900.0 + (np.arange(p) % 1000) / 10.0, 2)})
    o = n["orders"]
    d0, d1 = _days(1995, 1, 1), _days(2001, 8, 1)
    prio = np.array(["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"])
    out["orders"] = pa.table({
        "o_orderkey": pa.array(np.arange(o), pa.int64()),
        "o_custkey": pa.array(rng.integers(0, c, o), pa.int64()),
        "o_orderstatus": np.array(["F", "O", "P"])[rng.integers(0, 3, o)],
        "o_totalprice": _money(rng, 1000.0, 500000.0, o),
        "o_orderdate": _ts(rng.integers(d0, d1 + 1, o)),
        "o_orderpriority": prio[rng.integers(0, 5, o)]})
    li = n["lineitem"]
    out["lineitem"] = pa.table({
        "l_orderkey": pa.array(rng.integers(0, o, li), pa.int64()),
        "l_partkey": pa.array(rng.integers(0, p, li), pa.int64()),
        "l_suppkey": pa.array(rng.integers(0, s, li), pa.int64()),
        "l_linenumber": pa.array(rng.integers(1, 8, li), pa.int32()),
        "l_quantity": rng.integers(1, 51, li).astype("float64"),
        "l_extendedprice": _money(rng, 900.0, 105000.0, li),
        "l_discount": rng.integers(0, 11, li) / 100.0,
        "l_tax": rng.integers(0, 9, li) / 100.0,
        "l_returnflag": np.array(["A", "N", "R"])[rng.integers(0, 3, li)],
        "l_linestatus": np.array(["F", "O"])[rng.integers(0, 2, li)],
        "l_shipdate": _ts(rng.integers(d0 + 1, _days(2001, 11, 4) + 1, li))})
    e = n["events"]
    t0 = int(np.datetime64("2024-01-01", "us").astype("int64"))
    ts = np.sort(rng.integers(t0, t0 + 30 * US_PER_DAY, e))
    out["events"] = pa.table({
        "event_id": pa.array(np.arange(e), pa.int64()),
        "ts": pa.array(ts, pa.timestamp("us")),
        "user_id": pa.array(rng.integers(0, n["users"], e), pa.int64()),
        "event_type": np.array(["click", "error", "purchase", "signup", "view"])
        [rng.integers(0, 5, e)],
        "value": np.maximum(0.01, np.round(rng.exponential(50.0, e), 2)),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, e)]})
    out["documents"] = _documents(rng, n["documents"])
    m = n["embeddings"]
    vec = rng.standard_normal((m, 64)).astype("float32")
    vec /= np.linalg.norm(vec, axis=1, keepdims=True)
    out["embeddings"] = pa.table({
        "vec_id": pa.array(np.arange(m), pa.int64()),
        "embedding": pa.array(list(vec), pa.list_(pa.float32())),
        "label": pa.array(rng.integers(0, 10, m), pa.int32())})
    return out


def _documents(rng, n):
    texts = []
    for i in range(n):
        if i > 20 and rng.random() < 0.05:
            texts.append(texts[int(rng.integers(0, i))] + " dup")
        else:
            words = rng.integers(0, len(VOCAB), int(rng.integers(8, 100)))
            texts.append(" ".join(VOCAB[w] for w in words))
    return pa.table({
        "doc_id": pa.array(np.arange(n), pa.int64()),
        "text": texts,
        "lang": np.array(LANGS)[rng.choice(len(LANGS), n, p=LANG_P)],
        "source": [f"src{i % 20}" for i in range(n)],
        "n_chars": pa.array([len(t) for t in texts], pa.int64())})


def op_orders(seed, n_ops, rounds):
    """The order of a mix's operations in each measured round: a seeded
    shuffle of range(n_ops) per round."""
    out = []
    for r in range(rounds):
        order = list(range(n_ops))
        random.Random(seed * 1_000_003 + r).shuffle(order)
        out.append(order)
    return out


def write_tables(out_dir):
    os.makedirs(out_dir, exist_ok=True)
    for name, t in tables().items():
        pq.write_table(t, os.path.join(out_dir, f"{name}.parquet"))


class IngestPlan:
    """Seeded landing batches for the streaming ingest leg.

    Batch ``i`` covers its own event-time hour, after every earlier
    batch's, so no valid event is ever late for graft's one-hour dedup
    watermark.  Each batch re-delivers a few of its own and of the
    previous batch's events (same id, same payload) and carries fully
    malformed lines; ``tally`` holds the per-user totals of the distinct
    valid events landed so far.
    """

    T0_US = int(np.datetime64("2024-02-01", "us").astype("int64"))
    HOUR_US = 3_600_000_000

    def __init__(self, seed, events_per_batch=2000, files_per_batch=4,
                 users=200, redeliver_frac=0.02, malformed_frac=0.01):
        self.rng = random.Random(seed)
        self.events_per_batch = events_per_batch
        self.files_per_batch = files_per_batch
        self.users = users
        self.redeliver_frac = redeliver_frac
        self.malformed_frac = malformed_frac
        self.batches = 0
        self.next_id = 0
        self.prev = []
        self.tally = {}

    def next_batch(self):
        """Returns (files, stats): files is a list of file contents
        (str), stats counts this batch's lines by kind."""
        rng = self.rng
        base = self.T0_US + self.batches * self.HOUR_US
        fresh = []
        for _ in range(self.events_per_batch):
            ev = {"id": self.next_id,
                  "ts_micros": base + rng.randrange(self.HOUR_US),
                  "user": {"uid": rng.randrange(self.users),
                           "segment": rng.choice(["free", "pro", "team"])},
                  "kind": rng.choice(["click", "view", "purchase"]),
                  "amount": rng.randrange(1, 100000) / 100.0,
                  "tags": rng.sample(["a", "b", "c", "d"], rng.randrange(3))}
            self.next_id += 1
            fresh.append(ev)
            uid = ev["user"]["uid"]
            tot, cnt = self.tally.get(uid, (0.0, 0))
            self.tally[uid] = (tot + ev["amount"], cnt + 1)
        n_re = int(self.events_per_batch * self.redeliver_frac)
        pool = fresh + self.prev
        redelivered = [pool[rng.randrange(len(pool))] for _ in range(n_re)]
        lines = [json.dumps(ev, separators=(",", ":"))
                 for ev in fresh + redelivered]
        n_bad = int(self.events_per_batch * self.malformed_frac)
        lines += ['{"id":%d,"ts_micros":"%s' % (rng.randrange(10**6),
                                                 "x" * rng.randrange(1, 9))
                  for _ in range(n_bad)]
        rng.shuffle(lines)
        k = self.files_per_batch
        files = ["\n".join(lines[j::k]) + "\n" for j in range(k)]
        self.prev = fresh
        self.batches += 1
        return files, {"valid": len(fresh), "redelivered": n_re,
                       "malformed": n_bad}


if __name__ == "__main__":
    write_tables(sys.argv[1])
