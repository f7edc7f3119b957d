"""Input generator for the benchmark.

Writes the TPC-H-like star schema that graft's registered queries read,
one single-file parquet per table, with the same column names, physical
types and value domains as the repository's test tables (TESTDATA.md).
The values come from fixed numpy streams, so a given `scale` always gives
the same tables; `scale` follows TPC-H sizing (lineitem = 6,000,000 x
scale).
"""
import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
ADJ = ["blue", "cold", "hot", "large", "new", "old", "red", "small"]
NOUN = ["anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget"]
PTYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem"]
SEED = 20240101

EPOCH_1995 = np.datetime64("1995-01-01", "us")
DAY_US = 86_400_000_000


def _pick(rng, values, n):
    return pa.array(np.asarray(values, dtype=object)[rng.integers(0, len(values), n)],
                    pa.string())


def _money(rng, lo, hi, n):
    return np.round(rng.uniform(lo, hi, n), 2)


def _days(rng, start, span, n):
    return pa.array(start + rng.integers(0, span, n) * DAY_US, pa.timestamp("us"))


def _keys(n):
    return pa.array(np.arange(n, dtype=np.int64))


def _ids(fmt, n):
    return pa.array([fmt % i for i in range(n)], pa.string())


def build(name, rng, scale):
    n_cust = max(100, int(150_000 * scale))
    n_supp = max(10, int(10_000 * scale))
    n_part = max(100, int(200_000 * scale))
    n_ord = max(100, int(1_500_000 * scale))
    n_line = max(100, int(6_000_000 * scale))
    if name == "region":
        return pa.table({"r_regionkey": pa.array(range(5), pa.int32()),
                         "r_name": pa.array(REGIONS, pa.string())})
    if name == "nation":
        return pa.table({"n_nationkey": pa.array(range(25), pa.int32()),
                         "n_name": pa.array([f"NATION_{i}" for i in range(25)]),
                         "n_regionkey": pa.array([i % 5 for i in range(25)],
                                                 pa.int32())})
    if name == "customer":
        return pa.table({
            "c_custkey": _keys(n_cust),
            "c_name": _ids("Customer#%09d", n_cust),
            "c_nationkey": pa.array(rng.integers(0, 25, n_cust), pa.int32()),
            "c_acctbal": _money(rng, -999.99, 9999.99, n_cust),
            "c_mktsegment": _pick(rng, SEGMENTS, n_cust)})
    if name == "supplier":
        return pa.table({
            "s_suppkey": _keys(n_supp),
            "s_name": _ids("Supplier#%09d", n_supp),
            "s_nationkey": pa.array(rng.integers(0, 25, n_supp), pa.int32()),
            "s_acctbal": _money(rng, -999.99, 9999.99, n_supp)})
    if name == "part":
        names = [f"{a} {b}" for a in ADJ for b in NOUN]
        return pa.table({
            "p_partkey": _keys(n_part),
            "p_name": _pick(rng, names, n_part),
            "p_brand": _pick(rng, [f"Brand#{i}" for i in range(1, 26)], n_part),
            "p_type": _pick(rng, PTYPES, n_part),
            "p_size": pa.array(rng.integers(1, 51, n_part), pa.int32()),
            "p_retailprice": 900.0 + rng.integers(0, 1000, n_part) / 10.0})
    if name == "orders":
        return pa.table({
            "o_orderkey": _keys(n_ord),
            "o_custkey": pa.array(rng.integers(0, n_cust, n_ord), pa.int64()),
            "o_orderstatus": _pick(rng, ["F", "O", "P"], n_ord),
            "o_totalprice": _money(rng, 1000.0, 500000.0, n_ord),
            "o_orderdate": _days(rng, EPOCH_1995, 2405, n_ord),
            "o_orderpriority": _pick(rng, PRIORITIES, n_ord)})
    if name == "lineitem":
        return pa.table({
            "l_orderkey": pa.array(rng.integers(0, n_ord, n_line), pa.int64()),
            "l_partkey": pa.array(rng.integers(0, n_part, n_line), pa.int64()),
            "l_suppkey": pa.array(rng.integers(0, n_supp, n_line), pa.int64()),
            "l_linenumber": pa.array(rng.integers(1, 8, n_line), pa.int32()),
            "l_quantity": rng.integers(1, 51, n_line).astype(np.float64),
            "l_extendedprice": _money(rng, 900.0, 105000.0, n_line),
            "l_discount": rng.integers(0, 11, n_line) / 100.0,
            "l_tax": rng.integers(0, 9, n_line) / 100.0,
            "l_returnflag": _pick(rng, ["A", "N", "R"], n_line),
            "l_linestatus": _pick(rng, ["F", "O"], n_line),
            "l_shipdate": _days(rng, EPOCH_1995 + DAY_US, 2499, n_line)})
    raise ValueError(name)


def generate(out_dir, scale):
    """Write every table under out_dir; returns
    {table: {"rows": n, "bytes": parquet file size}}."""
    out_dir.mkdir(parents=True, exist_ok=True)
    stats = {}
    for i, name in enumerate(TABLES):
        # one stream per table, so adding a table never shifts another's values
        rng = np.random.default_rng([SEED, i])
        tbl = build(name, rng, scale)
        path = out_dir / f"{name}.parquet"
        pq.write_table(tbl, path, compression="snappy")
        stats[name] = {"rows": tbl.num_rows, "bytes": path.stat().st_size}
    return stats
