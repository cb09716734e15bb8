"""Seeded input generators for the benchmark.

Everything here is a pure function of the seed: the same seed gives
byte-identical tables, change logs and call plans. Nothing imports Spark or
the engine, so the generators (and the checks built on them) run without a
JVM.

Keys are skewed throughout: 80% of CDC updates/deletes, point reads and DML
hit 2% of the keys (the hot keys), and order customers, supplier keys and
event users are Zipf-like. These proportions, the CDC op mix and the serve
call mix are assumptions of this benchmark, not measured traffic: the
reference publishes none. README.md gives the reason for each.
"""

from __future__ import annotations

import datetime as dt
import json
import os
import random

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# ---------------------------------------------------------------- warehouse

# row counts per scale, after the TPC-H-shaped fixtures the operators are
# tested on (documents: 1,000 at sf0.01 so the served search corpus is not
# tiny, 100 at sf0.001, which only warms up); lake_serve uses sf0.01,
# operator_batch sf0.1 and warms up on sf0.001
SIZES = {
    "sf0.001": {"customers": 150, "orders": 1_500, "parts": 200, "suppliers": 10,
                "events": 1_000, "event_users": 15, "documents": 100},
    "sf0.01": {"customers": 1_500, "orders": 15_000, "parts": 2_000, "suppliers": 100,
               "events": 10_000, "event_users": 150, "documents": 1_000},
    "sf0.1": {"customers": 15_000, "orders": 150_000, "parts": 20_000, "suppliers": 1_000,
              "events": 100_000, "event_users": 1_500, "documents": 5_000},
}
N_CUSTOMERS = SIZES["sf0.01"]["customers"]
N_ORDERS = SIZES["sf0.01"]["orders"]
HOT_SHARE = 0.02  # share of keys that are hot
HOT_HITS = 0.8  # share of keyed accesses that go to the hot keys

SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["click", "view", "purchase", "signup", "error"]
LANGS = ["en", "de", "fr", "es", "zh"]
VOCAB = (
    "key agg row scan slow fast table value part hash merge batch spark line "
    "sort window order data column join small customer query big filter group "
    "stream vector index commit snapshot delta bucket bloom shuffle cache"
).split()

_EPOCH = dt.datetime(1970, 1, 1)


def _days(d: dt.datetime) -> int:
    return (d - _EPOCH).days


def _zipf_keys(rng: np.random.Generator, n_keys: int, size: int) -> np.ndarray:
    """Zipf-like keys (a=1.3) folded into [0, n_keys)."""
    return (rng.zipf(1.3, size) - 1) % n_keys


def warehouse_tables(seed: int, scale: str = "sf0.01") -> dict[str, pa.Table]:
    """TPC-H-shaped customer/orders/lineitem plus events and documents,
    with the row counts of ``SIZES[scale]``."""
    size = SIZES[scale]
    rng = np.random.default_rng([seed, 1])
    c = size["customers"]
    customer = pa.table({
        "c_custkey": pa.array(np.arange(c), pa.int64()),
        "c_name": [f"Customer#{i:09d}" for i in range(c)],
        "c_nationkey": pa.array(rng.integers(0, 25, c), pa.int32()),
        "c_acctbal": np.round(rng.uniform(-999.99, 9999.99, c), 2),
        "c_mktsegment": [SEGMENTS[i] for i in rng.integers(0, 5, c)],
    })

    o = size["orders"]
    start = _days(dt.datetime(1995, 1, 1))
    odate = start + rng.integers(0, 1_300, o)
    orders = pa.table({
        "o_orderkey": pa.array(np.arange(o), pa.int64()),
        "o_custkey": pa.array(_zipf_keys(rng, c, o), pa.int64()),
        "o_orderstatus": [("F", "O", "P")[i] for i in rng.integers(0, 3, o)],
        "o_totalprice": np.round(rng.uniform(1_000.0, 500_000.0, o), 2),
        "o_orderdate": pa.array(odate.astype("datetime64[D]").astype("datetime64[us]")),
        "o_orderpriority": [PRIORITIES[i] for i in rng.integers(0, 5, o)],
    })

    lines_per = rng.integers(1, 8, o)
    l_order = np.repeat(np.arange(o), lines_per)
    n = len(l_order)
    l_linenumber = np.concatenate([np.arange(1, k + 1) for k in lines_per])
    qty = rng.integers(1, 51, n).astype(float)
    ship = odate[l_order] + rng.integers(1, 122, n)
    lineitem = pa.table({
        "l_orderkey": pa.array(l_order, pa.int64()),
        "l_partkey": pa.array(rng.integers(0, size["parts"], n), pa.int64()),
        "l_suppkey": pa.array(_zipf_keys(rng, size["suppliers"], n), pa.int64()),
        "l_linenumber": pa.array(l_linenumber, pa.int32()),
        "l_quantity": qty,
        "l_extendedprice": np.round(qty * rng.uniform(900.0, 2_100.0, n), 2),
        "l_discount": rng.integers(0, 11, n) / 100.0,
        "l_tax": rng.integers(0, 9, n) / 100.0,
        "l_returnflag": [("A", "N", "R")[i] for i in rng.integers(0, 3, n)],
        "l_linestatus": [("F", "O")[i] for i in rng.integers(0, 2, n)],
        "l_shipdate": pa.array(ship.astype("datetime64[D]").astype("datetime64[us]")),
    })

    e = size["events"]
    ev_start = np.datetime64("2024-01-01T00:00:00", "us")
    ts = ev_start + np.sort(rng.integers(0, 30 * 86_400 * 1_000_000, e)).astype("timedelta64[us]")
    events = pa.table({
        "event_id": pa.array(np.arange(e), pa.int64()),
        "ts": pa.array(ts),
        "user_id": pa.array(_zipf_keys(rng, size["event_users"], e), pa.int64()),
        "event_type": [EVENT_TYPES[i] for i in rng.integers(0, 5, e)],
        "value": np.round(rng.uniform(0.0, 100.0, e), 2),
        "props": [json.dumps({"k": int(k)}) for k in rng.integers(0, 100, e)],
    })

    n_docs = size["documents"]
    docs: list[str] = []
    for i in range(n_docs):
        r = rng.random()
        if i > 10 and r < 0.03:  # exact duplicate
            docs.append(docs[int(rng.integers(0, i))])
        elif i > 10 and r < 0.18:  # near duplicate: two words replaced
            words = docs[int(rng.integers(0, i))].split(" ")
            for j in rng.integers(0, len(words), 2):
                words[j] = VOCAB[int(rng.integers(0, len(VOCAB)))]
            docs.append(" ".join(words))
        else:
            k = int(rng.integers(15, 80))
            docs.append(" ".join(VOCAB[j] for j in rng.integers(0, len(VOCAB), k)))
    documents = pa.table({
        "doc_id": pa.array(np.arange(n_docs), pa.int64()),
        "text": docs,
        "lang": [LANGS[i] for i in rng.integers(0, 5, n_docs)],
        "source": [f"src{i}" for i in rng.integers(0, 20, n_docs)],
        "n_chars": pa.array([len(d) for d in docs], pa.int64()),
    })
    return {
        "customer": customer,
        "orders": orders,
        "lineitem": lineitem,
        "events": events,
        "documents": documents,
    }


def write_tables(tables: dict[str, pa.Table], out_dir: str) -> None:
    """One ``<name>.parquet`` file per table (the operators' fixture layout)."""
    os.makedirs(out_dir, exist_ok=True)
    for name, tbl in tables.items():
        pq.write_table(tbl, os.path.join(out_dir, f"{name}.parquet"))


# ---------------------------------------------------------------- CDC log

CDC_ROW_DDL = "id bigint, name string, email string, city string, updated_at bigint"
CDC_COLUMNS = ["id", "name", "email", "city", "updated_at"]
CDC_SEED_KEYS = 50_000
# 7 batches cross the delta-compaction threshold (2) twice and keep a run
# within its time budget
CDC_BATCHES = 7
# an earlier measured run of this CDC path streamed 212,620 changes in 24
# micro-batches, 8,859 per batch
CDC_BATCH_ROWS = 8_860
# op mix of the change log: inserts / updates / deletes (see README.md)
CDC_INSERT_SHARE = 0.20
CDC_DELETE_SHARE = 0.12
CITIES = ["Pune", "Mumbai", "Delhi", "Chennai", "Kolkata", "Jaipur", "Surat", "Indore"]


def _cdc_row(rng: random.Random, key: int, stamp: int) -> tuple:
    city = CITIES[rng.randrange(len(CITIES))]
    tag = rng.randrange(1_000_000)
    return (key, f"user{key}_{tag}", f"u{key}.{tag}@example.org", city, stamp)


class CdcLog:
    """A seeded Debezium change log over a customers-shaped table.

    ``seed_rows`` is the table before the stream; ``batches[i]`` is the list
    of ``(op, row)`` changes of micro-batch ``i`` in log order. ``updated_at``
    is the global log position, so order keys are unique per key and the
    last writer inside a batch is well defined. Counts of inserts and
    deletes are kept as the generator applies them."""

    def __init__(self, seed: int, n_batches: int = CDC_BATCHES,
                 batch_rows: int = CDC_BATCH_ROWS, seed_keys: int = CDC_SEED_KEYS):
        rng = random.Random(seed * 7919 + 17)
        self.seed_rows = [_cdc_row(rng, k, 0) for k in range(seed_keys)]
        live = list(range(seed_keys))
        pos = {k: k for k in live}  # key -> index in `live` (O(1) removal)
        n_hot = max(1, int(seed_keys * HOT_SHARE))
        next_key = seed_keys
        stamp = 0
        self.inserts = self.deletes = 0
        self.batches: list[list[tuple[str, tuple]]] = []

        def pick() -> int:
            if rng.random() < HOT_HITS:
                k = rng.randrange(n_hot)
                if k in pos:
                    return k
            return live[rng.randrange(len(live))]

        for _ in range(n_batches):
            batch = []
            for _ in range(batch_rows):
                stamp += 1
                r = rng.random()
                if r < CDC_INSERT_SHARE or len(live) < 2:
                    key, op = next_key, "c"
                    next_key += 1
                    pos[key] = len(live)
                    live.append(key)
                    self.inserts += 1
                elif r < 1.0 - CDC_DELETE_SHARE:
                    key, op = pick(), "u"
                else:
                    key, op = pick(), "d"
                    i = pos.pop(key)
                    last = live.pop()
                    if last != key:
                        live[i] = last
                        pos[last] = i
                    self.deletes += 1
                batch.append((op, _cdc_row(rng, key, stamp)))
            self.batches.append(batch)
        self.n_changes = n_batches * batch_rows

    def envelope_lines(self, batch: int) -> list[str]:
        """Debezium envelopes of one batch: wrapped (``payload``) and flat
        shapes alternate by log position; deletes carry the row in
        ``before`` with ``after`` null."""
        out = []
        for op, row in self.batches[batch]:
            rec = dict(zip(CDC_COLUMNS, row))
            env = {"before": rec if op == "d" else None,
                   "after": None if op == "d" else rec, "op": op}
            out.append(json.dumps({"payload": env} if row[4] % 2 else env))
        return out

    def write_seed(self, path: str) -> None:
        """The table before the stream, as one parquet file."""
        cols = list(zip(*self.seed_rows))
        pq.write_table(pa.table({
            name: pa.array(col, pa.int64() if name in ("id", "updated_at") else pa.string())
            for name, col in zip(CDC_COLUMNS, cols)
        }), path)

    def write_files(self, src_dir: str) -> int:
        """One file per micro-batch with strictly increasing mtimes (the
        file source orders new files by mtime). Returns the bytes written."""
        os.makedirs(src_dir, exist_ok=True)
        total = 0
        base = 1_600_000_000
        for i in range(len(self.batches)):
            path = os.path.join(src_dir, f"batch-{i:05d}.json")
            data = ("\n".join(self.envelope_lines(i)) + "\n").encode()
            with open(path, "wb") as fh:
                fh.write(data)
            os.utime(path, (base + i, base + i))
            total += len(data)
        return total


# ---------------------------------------------------------------- serve plan

# one round of LakeEngine calls as (call, argument). The composition is an
# assumed admin-API mix (README.md): point reads outnumber the rest, and
# every other call kind runs at least once a round so each is timed every
# run. Only the order is shuffled per round; keys, dates and words come
# from the seed
SERVE_ROUND = (
    [("read", None)] * 8
    + [("sql", "q1"), ("sql", "q3"), ("sql", "q6")]
    + [("insert", None), ("update", None), ("delete", None)]
    + [("time_travel", None), ("diff", 3), ("changes", 2)]
    + [("search", 1), ("search", 2)]
)


def serve_round(seed: int, round_no: int) -> list[tuple[str, object]]:
    ops = list(SERVE_ROUND)
    random.Random(seed * 104_729 + round_no).shuffle(ops)
    return ops


def key_picker(seed: int, n_keys: int):
    """Seeded key stream for point reads and DML over ``[0, n_keys)``, plus
    the generator that drives the rest of the call plan."""
    rng = random.Random(seed * 31 + 5)
    n_hot = max(1, int(n_keys * HOT_SHARE))

    def pick() -> int:
        if rng.random() < HOT_HITS:
            return rng.randrange(n_hot)
        return rng.randrange(n_keys)

    return pick, rng
