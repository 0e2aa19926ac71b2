"""Deterministic fixture data for the benchmark, built inside the checkout.

`sf01` is a synthetic TPC-H-style star schema with the shape graft's
gates expect (lowercase columns, DOUBLE money, naive TIMESTAMP dates,
`events` for the ClickBench flight) at scale 0.1: 600k lineitem rows.

The fixture directory carries a manifest with the row count and bytes
of every table. A fixture is rebuilt only when its files no longer
match the manifest (or the generator version changed); building it is
never part of a timed region or of `setup_s`.
"""
import json
import os
import shutil

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

VERSION = 2          # bump when the generated data changes
FIXTURE_SEED = 42    # the fixture is the same for every workload seed

TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events"]


def fingerprint(d):
    """Row count and bytes of every table file under `d`."""
    out = {}
    for t in TABLES:
        p = os.path.join(d, f"{t}.parquet")
        if not os.path.exists(p):
            return None
        out[t] = {"rows": pq.ParquetFile(p).metadata.num_rows,
                  "bytes": os.path.getsize(p)}
    return out


def _fresh(d, key):
    try:
        with open(os.path.join(d, "MANIFEST.json")) as f:
            m = json.load(f)
    except (OSError, ValueError):
        return False
    return m.get("key") == key and m.get("tables") == fingerprint(d)


def _ts(days, start, n, rng, micros=False):
    """`n` naive timestamps in the `days` from `start`: whole days, or
    any microsecond."""
    base = np.datetime64(start, "us")
    if micros:
        return base + rng.integers(0, days * 86_400_000_000, n).astype("timedelta64[us]")
    return base + rng.integers(0, days, n).astype("timedelta64[D]").astype("timedelta64[us]")


def _write(d, name, cols):
    pq.write_table(pa.table(cols), os.path.join(d, f"{name}.parquet"))


def generate_sf01(d):
    """Write the scale-0.1 star schema into directory `d`."""
    rng = np.random.default_rng(FIXTURE_SEED)
    i32 = lambda a: pa.array(a, pa.int32())
    i64 = lambda a: pa.array(a, pa.int64())
    pick = lambda vals, n: np.array(vals, dtype=object)[rng.integers(0, len(vals), n)]
    money = lambda lo, hi, n: np.round(rng.uniform(lo, hi, n), 2)

    _write(d, "region", {"r_regionkey": i32(range(5)),
                         "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]})
    _write(d, "nation", {"n_nationkey": i32(range(25)),
                         "n_name": [f"NATION_{i}" for i in range(25)],
                         "n_regionkey": i32([i % 5 for i in range(25)])})
    n = 15000
    _write(d, "customer", {
        "c_custkey": i64(np.arange(n)),
        "c_name": [f"Customer#{i:09d}" for i in range(n)],
        "c_nationkey": i32(rng.integers(0, 25, n)),
        "c_acctbal": money(-999.99, 9999.99, n),
        "c_mktsegment": pick(["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD",
                              "MACHINERY"], n)})
    n = 1000
    _write(d, "supplier", {
        "s_suppkey": i64(np.arange(n)),
        "s_name": [f"Supplier#{i:09d}" for i in range(n)],
        "s_nationkey": i32(rng.integers(0, 25, n)),
        "s_acctbal": money(-999.99, 9999.99, n)})
    n = 20000
    adj = ["blue", "cold", "hot", "large", "new", "old", "red", "small"]
    noun = ["anvil", "bolt", "gear", "plate", "ring", "rod", "widget", "nut"]
    _write(d, "part", {
        "p_partkey": i64(np.arange(n)),
        "p_name": [f"{a} {b}" for a, b in zip(pick(adj, n), pick(noun, n))],
        "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, n)],
        "p_type": pick(["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"], n),
        "p_size": i32(rng.integers(1, 51, n)),
        "p_retailprice": np.round(900 + (np.arange(n) % 1000) / 10, 1)})
    n = 150000
    _write(d, "orders", {
        "o_orderkey": i64(np.arange(n)),
        "o_custkey": i64(rng.integers(0, 15000, n)),
        "o_orderstatus": pick(["F", "O", "P"], n),
        "o_totalprice": money(1000, 500000, n),
        "o_orderdate": _ts(2404, "1995-01-01", n, rng),
        "o_orderpriority": pick(["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED",
                                 "5-LOW"], n)})
    n = 600000
    partkey = rng.integers(0, 20000, n)
    qty = rng.integers(1, 51, n).astype(np.float64)
    _write(d, "lineitem", {
        "l_orderkey": i64(rng.integers(0, 150000, n)),
        "l_partkey": i64(partkey),
        "l_suppkey": i64(rng.integers(0, 1000, n)),
        "l_linenumber": i32(rng.integers(1, 8, n)),
        "l_quantity": qty,
        "l_extendedprice": np.round(qty * (900 + (partkey % 1000) / 10) *
                                    rng.uniform(1.0, 2.1, n), 2),
        "l_discount": rng.integers(0, 11, n) / 100,
        "l_tax": rng.integers(0, 9, n) / 100,
        "l_returnflag": pick(["A", "N", "R"], n),
        "l_linestatus": pick(["F", "O"], n),
        "l_shipdate": _ts(2498, "1995-01-02", n, rng)})
    n = 100000
    _write(d, "events", {
        "event_id": i64(np.arange(n)),
        "ts": np.sort(_ts(30, "2024-01-01", n, rng, micros=True)),
        "user_id": i64(rng.integers(0, 1500, n)),
        "event_type": pick(["click", "error", "purchase", "signup", "view"], n),
        "value": np.round(rng.exponential(50, n), 2),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n)]})


def ensure(root):
    """Build (or reuse) the scale-0.1 fixture under `root`; returns its
    directory."""
    sf01 = os.path.join(root, "sf0.1")
    key = f"sf0.1/v{VERSION}/seed{FIXTURE_SEED}"
    if not _fresh(sf01, key):
        _build(sf01, key, generate_sf01)
    return sf01


def _build(d, key, generate):
    """Generate into a temporary directory, record its fingerprint, then
    move it into place, so a cut-short build is never taken as fresh."""
    tmp = d + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    generate(tmp)
    with open(os.path.join(tmp, "MANIFEST.json"), "w") as f:
        json.dump({"key": key, "tables": fingerprint(tmp)}, f, indent=1)
    shutil.rmtree(d, ignore_errors=True)
    os.rename(tmp, d)
