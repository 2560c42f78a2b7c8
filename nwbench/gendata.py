"""Deterministic TPC-H-shaped source tables for the benchmark.

Writes region, nation, customer, orders and lineitem as one parquet file
each, with the column names and physical types of the library's `Tables`
(int64 keys, naive microsecond timestamps). Row counts follow the TPC-H scale factor: sf0.1 gives 150,000
orders and 600,000 lineitems. The generator seed is fixed, so every run of
the benchmark sees the same tables; the workload seed only drives the
operation stream.
"""
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

DATA_SEED = 42
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]


def _days(start, n_days, rng, size):
    base = np.datetime64(start, "D")
    return (base + rng.integers(0, n_days, size)).astype("datetime64[us]")


def _write(out_dir, name, cols):
    pq.write_table(pa.table(cols), os.path.join(out_dir, f"{name}.parquet"))


def generate(out_dir, sf):
    rng = np.random.default_rng(DATA_SEED)
    n_cust, n_supp = int(150_000 * sf), int(10_000 * sf)
    n_part, n_ord, n_li = int(200_000 * sf), int(1_500_000 * sf), int(6_000_000 * sf)
    os.makedirs(out_dir, exist_ok=True)
    i32 = lambda a: pa.array(a, pa.int32())
    i64 = lambda a: pa.array(a, pa.int64())
    f64 = lambda a: pa.array(np.round(a, 2), pa.float64())
    pick = lambda values, n: pa.array(np.array(values, dtype=object)[rng.integers(0, len(values), n)])

    _write(out_dir, "region", {
        "r_regionkey": i32(np.arange(5)),
        "r_name": pa.array(["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"])})
    _write(out_dir, "nation", {
        "n_nationkey": i32(np.arange(25)),
        "n_name": pa.array([f"NATION_{i}" for i in range(25)]),
        "n_regionkey": i32(np.arange(25) % 5)})
    ck = np.arange(n_cust)
    _write(out_dir, "customer", {
        "c_custkey": i64(ck),
        "c_name": pa.array([f"Customer#{i:09d}" for i in ck]),
        "c_nationkey": i32(rng.integers(0, 25, n_cust)),
        "c_acctbal": f64(rng.uniform(-999.99, 9999.99, n_cust)),
        "c_mktsegment": pick(SEGMENTS, n_cust)})
    _write(out_dir, "orders", {
        "o_orderkey": i64(np.arange(n_ord)),
        "o_custkey": i64(rng.integers(0, n_cust, n_ord)),
        "o_orderstatus": pick(["F", "O", "P"], n_ord),
        "o_totalprice": f64(rng.uniform(1000, 500_000, n_ord)),
        "o_orderdate": pa.array(_days("1995-01-01", 2404, rng, n_ord), pa.timestamp("us")),
        "o_orderpriority": pick(PRIORITIES, n_ord)})
    qty = rng.integers(1, 51, n_li).astype(np.float64)
    _write(out_dir, "lineitem", {
        "l_orderkey": i64(rng.integers(0, n_ord, n_li)),
        "l_partkey": i64(rng.integers(0, n_part, n_li)),
        "l_suppkey": i64(rng.integers(0, max(n_supp, 1), n_li)),
        "l_linenumber": i32(rng.integers(1, 8, n_li)),
        "l_quantity": pa.array(qty, pa.float64()),
        "l_extendedprice": f64(qty * rng.uniform(900, 2100, n_li)),
        "l_discount": f64(rng.integers(0, 11, n_li) / 100),
        "l_tax": f64(rng.integers(0, 9, n_li) / 100),
        "l_returnflag": pick(["A", "N", "R"], n_li),
        "l_linestatus": pick(["F", "O"], n_li),
        "l_shipdate": pa.array(_days("1995-01-02", 2498, rng, n_li), pa.timestamp("us"))})


def ensure(root, sf):
    """Generate the tables for `sf` under `root` once; return their directory."""
    out_dir = os.path.join(root, f"sf{sf}")
    done = os.path.join(out_dir, "_DONE")
    if not os.path.exists(done):
        tmp = out_dir + ".tmp"
        if os.path.isdir(tmp):
            for f in os.listdir(tmp):
                os.remove(os.path.join(tmp, f))
        generate(tmp, sf)
        if os.path.isdir(out_dir):
            for f in os.listdir(out_dir):
                os.remove(os.path.join(out_dir, f))
            os.rmdir(out_dir)
        os.rename(tmp, out_dir)
        open(done, "w").close()
    return out_dir
