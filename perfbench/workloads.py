"""Seeded workload inputs and the reference results they must produce.

The workload seed drives everything a run varies: the query order of
each pass, and the keys, sizes and update/insert mix of every ingest
batch. graft only ever sees the generated inputs. The same seed always
yields the same input sequence (checked by `test_harness.py`).
"""
import decimal
import os
import random

import numpy as np
import pyarrow as pa
import pyarrow.compute  # noqa: F401  (pa.compute)
import pyarrow.parquet as pq

# Gate subsets. A cold first execution costs 0.5-7 s per gate on four
# cores and every run pays it once per gate, so a run cannot afford all
# TPC-H/SSB/ClickBench gates: a few gates that span the plan shapes
# (scan-filter-agg, multi-way joins, group-by, top-N) each run often.
BI_QUERIES = [
    "q3_shipping_priority", "q6_forecast_revenue", "ssb_q3_2",
    "cb_group_count", "cb_top_users",
]

# untimed passes after the checked one, for the JIT: query latency still
# falls by a fifth over the first few passes, and timing them made runs
# spread by how far each had warmed up
WARM_PASSES = 5
PASSES = 64            # timed passes planned; a run stops when its time is up

INGEST_COLUMNS = ["o_orderkey", "o_custkey", "o_totalprice", "o_orderpriority"]
INGEST_BASE_ROWS = 60000   # orders with the lowest keys seed the table
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
# one of each per round, always in this order: the table's maintenance
# cycle (compaction after a few small files, a delete fold past a share
# of deleted rows) then meets every seed at the same batch kinds
ROUND = ["merge_mor", "delete_mor", "append"]
ROUNDS = 20            # batch rounds planned; a run stops when its time is up
WARM_ROUNDS = 3        # untimed rounds; after two, the next batches were still slower
SIZES = {"merge_mor": (400, 1200), "delete_mor": (200, 600), "append": (400, 1200)}
UPDATE_SHARE = (0.5, 0.9)   # share of a merge batch that replaces live keys


def query_plan(names, seed, passes=PASSES):
    """Query orders for the run: the checked first pass, the untimed
    warm-up passes and the timed passes, each an independent seeded
    permutation."""
    rng = random.Random(seed)
    orders = [rng.sample(names, len(names)) for _ in range(1 + WARM_PASSES + passes)]
    return {"check_order": orders[0],
            "warm_order": sum(orders[1:1 + WARM_PASSES], []),
            "timed_order": sum(orders[1 + WARM_PASSES:], [])}


def ingest_batches(seed, base_keys, rounds=ROUNDS):
    """The batch sequence for one seed, as plain data.

    Each round holds one merge, one delete and one append, in ROUND
    order; the seed draws every batch's size and keys and each merge's
    share of updates. Merges replace live keys and insert fresh ones;
    deletes pick live keys; appends insert fresh keys only, so the table
    stays keyed.
    """
    rng = np.random.default_rng(seed)
    live = np.sort(np.asarray(base_keys, dtype=np.int64))
    next_key = int(live.max()) + 1
    out = []
    for _ in range(rounds):
        for op in ROUND:
            lo, hi = SIZES[op]
            n = int(rng.integers(lo, hi + 1))
            if op == "delete_mor":
                keys = np.sort(rng.choice(live, n, replace=False))
                live = np.setdiff1d(live, keys, assume_unique=True)
                out.append({"op": op, "keys": keys})
                continue
            n_old = int(n * rng.uniform(*UPDATE_SHARE)) if op == "merge_mor" else 0
            old = rng.choice(live, n_old, replace=False)
            new = np.arange(next_key, next_key + n - n_old, dtype=np.int64)
            next_key += n - n_old
            keys = np.concatenate([old, new])
            live = np.union1d(live, new)
            out.append({"op": op, "keys": keys, "rows": {
                "o_orderkey": keys,
                "o_custkey": rng.integers(0, 15000, n),
                "o_totalprice": np.round(rng.uniform(1000, 500000, n), 2),
                "o_orderpriority": np.array(PRIORITIES, dtype=object)[
                    rng.integers(0, len(PRIORITIES), n)],
            }})
    return out


def write_base(orders, d):
    """The table's initial rows, cut from the fixture's orders."""
    base = os.path.join(d, "base.parquet")
    t = pq.read_table(orders, columns=INGEST_COLUMNS)
    pq.write_table(t.filter(pa.compute.less(t["o_orderkey"], INGEST_BASE_ROWS)), base)
    return base


def write_ingest_inputs(batches, base, d):
    """Materialize the batch files; returns the plan part."""
    planned = []
    for i, b in enumerate(batches):
        if b["op"] == "delete_mor":
            planned.append({"op": b["op"], "rows": len(b["keys"]),
                            "keys": [int(k) for k in b["keys"]]})
            continue
        path = os.path.join(d, f"batch_{i:03d}.parquet")
        pq.write_table(pa.table({
            "o_orderkey": pa.array(b["rows"]["o_orderkey"], pa.int64()),
            "o_custkey": pa.array(b["rows"]["o_custkey"], pa.int64()),
            "o_totalprice": pa.array(b["rows"]["o_totalprice"], pa.float64()),
            "o_orderpriority": pa.array(b["rows"]["o_orderpriority"], pa.string()),
        }), path)
        planned.append({"op": b["op"], "rows": len(b["keys"]), "path": path})
    return {"base": base, "batches": planned, "warm_batches": WARM_ROUNDS * len(ROUND)}


def cents(price):
    """A DOUBLE price with two decimals as exact integer cents."""
    return int(round(price * 100))


class ReferenceTable:
    """Fold of the generated batches: the table graft must end up with."""

    def __init__(self, base):
        t = pq.read_table(base, columns=INGEST_COLUMNS).to_pydict()
        self.rows = {k: (c, p, o) for k, c, p, o in zip(
            t["o_orderkey"], t["o_custkey"], t["o_totalprice"], t["o_orderpriority"])}

    def apply(self, batch):
        if batch["op"] == "delete_mor":
            for k in batch["keys"]:
                self.rows.pop(int(k), None)
            return
        r = batch["rows"]
        for k, c, p, o in zip(r["o_orderkey"], r["o_custkey"], r["o_totalprice"],
                              r["o_orderpriority"]):
            self.rows[int(k)] = (int(c), float(p), str(o))

    def aggregate(self):
        """Per group g = key % 5: [n, sum, min, max] of the price."""
        acc = {}
        for k, (_, p, _) in self.rows.items():
            c = cents(p)
            a = acc.setdefault(k % 5, [0, 0, c, c])
            a[0] += 1
            a[1] += c
            a[2] = min(a[2], c)
            a[3] = max(a[3], c)
        return acc


def as_decimal(c):
    return decimal.Decimal(c).scaleb(-2)
