"""Seeded corpus for the benchmark.

`base_tables` regenerates the engine's TPC-H-like test tables (see
TESTDATA.md and FIXTURES.md part B) value for value: the same seed-42
draws, in the same order, give the same rows, so the benchmark needs no
data outside its checkout. The run's seed then relabels keys and names
without changing the structure the queries' cost depends on (see
`permute`), so per-op cost depends on the code, not on the seed.

Only the tables the benchmarked queries read are written.
"""
import datetime
import hashlib
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

BASE_SEED = 42
# rows per table at scale factor 1
ROWS = {"customer": 150_000, "supplier": 10_000, "part": 200_000,
        "orders": 1_500_000, "lineitem": 6_000_000}
TABLES = tuple(ROWS)
# categorical values in draw-index order
SEGMENT = ["BUILDING", "AUTOMOBILE", "MACHINERY", "HOUSEHOLD", "FURNITURE"]
ADJ = ["red", "blue", "small", "large", "hot", "cold", "old", "new"]
NOUN = ["anvil", "widget", "gizmo", "bolt", "gear", "plate", "rod", "ring"]
P_TYPE = ["STANDARD", "SMALL", "MEDIUM", "LARGE", "ECONOMY", "PROMO"]
O_STATUS = ["O", "F", "P"]
PRIORITY = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
RETURNFLAG = ["R", "A", "N"]
LINESTATUS = ["O", "F"]
DAY0 = (datetime.date(1995, 1, 1) - datetime.date(1970, 1, 1)).days


def _ts(days):
    """Midnight timestamps in microseconds, as the test tables store them."""
    return pa.array(days.astype(np.int64) * 86_400_000_000, pa.timestamp("us"))


def _money(rng, lo, hi, n):
    return np.round(rng.uniform(lo, hi, n), 2)


def _pick(rng, values, n):
    return np.asarray(values, dtype=object)[rng.integers(0, len(values), n)]


def sizes(sf):
    return tuple(int(ROWS[t] * sf) for t in TABLES)


def base_tables(sf):
    """The test tables at scale factor sf, keys in natural order."""
    N_CUST, N_SUPP, N_PART, N_ORD, N_LINE = sizes(sf)
    rng = np.random.default_rng(BASE_SEED)
    t = {}
    ck = np.arange(N_CUST, dtype=np.int64)
    t["customer"] = {
        "c_custkey": ck,
        "c_name": [f"Customer#{k:09d}" for k in ck],
        "c_nationkey": rng.integers(0, 25, N_CUST).astype(np.int32),
        "c_acctbal": _money(rng, -999.99, 9999.99, N_CUST),
        "c_mktsegment": _pick(rng, SEGMENT, N_CUST)}
    sk = np.arange(N_SUPP, dtype=np.int64)
    t["supplier"] = {
        "s_suppkey": sk,
        "s_name": [f"Supplier#{k:09d}" for k in sk],
        "s_nationkey": rng.integers(0, 25, N_SUPP).astype(np.int32),
        "s_acctbal": _money(rng, -999.99, 9999.99, N_SUPP)}
    pk = np.arange(N_PART, dtype=np.int64)
    adj, noun = _pick(rng, ADJ, N_PART), _pick(rng, NOUN, N_PART)
    t["part"] = {
        "p_partkey": pk,
        "p_name": adj + " " + noun,
        "p_brand": _pick(rng, [f"Brand#{i}" for i in range(1, 26)], N_PART),
        "p_type": _pick(rng, P_TYPE, N_PART),
        "p_size": rng.integers(1, 51, N_PART).astype(np.int32),
        "p_retailprice": np.round(900.0 + (pk % 1000) / 10.0, 2)}
    t["orders"] = {
        "o_orderkey": np.arange(N_ORD, dtype=np.int64),
        "o_custkey": rng.integers(0, N_CUST, N_ORD).astype(np.int64),
        "o_orderstatus": _pick(rng, O_STATUS, N_ORD),
        "o_totalprice": _money(rng, 1000.0, 500000.0, N_ORD),
        "o_orderdate": DAY0 + rng.integers(0, 2405, N_ORD),
        "o_orderpriority": _pick(rng, PRIORITY, N_ORD)}
    t["lineitem"] = {
        "l_orderkey": rng.integers(0, N_ORD, N_LINE).astype(np.int64),
        "l_partkey": rng.integers(0, N_PART, N_LINE).astype(np.int64),
        "l_suppkey": rng.integers(0, N_SUPP, N_LINE).astype(np.int64),
        "l_linenumber": rng.integers(1, 8, N_LINE).astype(np.int32),
        "l_quantity": rng.integers(1, 51, N_LINE).astype(np.float64),
        "l_extendedprice": _money(rng, 900.0, 105000.0, N_LINE),
        "l_discount": _money(rng, 0.0, 0.1, N_LINE),
        "l_tax": _money(rng, 0.0, 0.08, N_LINE),
        "l_returnflag": _pick(rng, RETURNFLAG, N_LINE),
        "l_linestatus": _pick(rng, LINESTATUS, N_LINE),
        "l_shipdate": DAY0 + rng.integers(1, 2500, N_LINE)}
    return t


def permute(t, seed, sf):
    """Seeded relabeling that keeps every structure the workloads' cost
    depends on. Order and supplier keys are permuted, on both sides of
    every foreign key. Customer keys are permuted within the set
    la_build_pipeline reconciles from (keys 0-5) and within the rest. Part
    keys stay, because the engine elects the smallest key of each part-name
    group; the part names are permuted among themselves instead, which
    keeps every group. Joins, reach, group sizes and fixpoint rounds are
    therefore the same for every seed, while output values differ."""
    n_cust, n_supp, _, n_ord, _ = sizes(sf)
    rng = np.random.default_rng(seed)
    seeds = 6
    fams = {"c": np.concatenate([rng.permutation(seeds),
                                 seeds + rng.permutation(n_cust - seeds)]),
            "o": rng.permutation(n_ord), "s": rng.permutation(n_supp)}
    cols = {("customer", "c_custkey"): "c", ("orders", "o_custkey"): "c",
            ("orders", "o_orderkey"): "o", ("lineitem", "l_orderkey"): "o",
            ("supplier", "s_suppkey"): "s", ("lineitem", "l_suppkey"): "s"}
    for (tab, c), fam in cols.items():
        t[tab][c] = fams[fam][t[tab][c]].astype(np.int64)
    names = sorted(set(t["part"]["p_name"]))
    rename = dict(zip(names, rng.permutation(names)))
    t["part"]["p_name"] = np.asarray([rename[n] for n in t["part"]["p_name"]],
                                     dtype=object)
    return t


def _arrow(cols):
    arrays = {}
    for c, v in cols.items():
        if c in ("o_orderdate", "l_shipdate"):
            arrays[c] = _ts(v)
        elif isinstance(v, np.ndarray) and v.dtype != object:
            arrays[c] = pa.array(v)
        else:
            arrays[c] = pa.array(list(v), pa.string())
    return pa.table(arrays)


def write(out_dir, seed, sf):
    """Write the seeded corpus at scale factor sf to out_dir; return its
    content id."""
    os.makedirs(out_dir, exist_ok=True)
    t = permute(base_tables(sf), seed, sf)
    h = hashlib.sha256()
    for name in TABLES:
        path = os.path.join(out_dir, f"{name}.parquet")
        pq.write_table(_arrow(t[name]), path, compression="snappy")
        with open(path, "rb") as f:
            h.update(name.encode() + f.read())
    return h.hexdigest()[:12]
