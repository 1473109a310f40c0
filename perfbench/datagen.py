"""Seeded input tables for the benchmark, in the schemas of the repository's
testdata (TESTDATA.md): a TPC-H-ish star schema (region, nation,
customer, supplier, part, orders, lineitem) and an ``events`` stream.
One parquet file per table, as in the testdata; ``python3 -m perfbench.datagen``
writes them.

The same ``(sf, seed)`` always gives byte-identical values; only the
tables a workload names are written.
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.csv as pacsv
import pyarrow.parquet as pq

SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
STATUS = ["O", "F", "P"]
RFLAG = ["N", "A", "R"]
ETYPES = ["view", "click", "purchase", "signup", "error"]
COLORS = ["red", "green", "blue", "plum", "ivory", "small", "large", "shiny"]
NOUNS = ["widget", "bolt", "ring", "gear", "cog", "pin", "cap", "rod"]
PTYPES = ["ECONOMY", "SMALL", "STANDARD", "LARGE", "PROMO"]
REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]


def _ts_us(days: np.ndarray, epoch: str) -> pa.Array:
    base = np.datetime64(epoch, "us")
    return pa.array(base + (days * 86_400_000_000).astype("int64"), type=pa.timestamp("us"))


def _pick(rng: np.random.Generator, values: list[str], n: int) -> pa.Array:
    return pa.array(np.asarray(values, dtype=object)[rng.integers(0, len(values), n)], pa.string())


def _fmt(prefix: str, ids: np.ndarray) -> pa.Array:
    return pa.array([f"{prefix}{i:09d}" for i in ids.tolist()], pa.string())


def make_tables(sf: float, seed: int, names: set[str]) -> dict[str, pa.Table]:
    """Build the named tables at scale factor ``sf``. Every table draws
    from its own child generator, so which tables are requested never
    changes the values of the others."""
    seeds = np.random.SeedSequence(seed).spawn(6)
    n_cust = max(150, int(150_000 * sf))
    n_supp = max(10, int(10_000 * sf))
    n_part = max(200, int(200_000 * sf))
    n_ord = 10 * n_cust
    n_li = 4 * n_ord
    out: dict[str, pa.Table] = {}
    if "region" in names:
        out["region"] = pa.table(
            {"r_regionkey": pa.array(range(5), pa.int32()), "r_name": REGIONS}
        )
    if "nation" in names:
        out["nation"] = pa.table(
            {
                "n_nationkey": pa.array(range(25), pa.int32()),
                "n_name": [f"NATION_{i}" for i in range(25)],
                "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
            }
        )
    if "supplier" in names:
        rng = np.random.default_rng(seeds[0])
        out["supplier"] = pa.table(
            {
                "s_suppkey": pa.array(np.arange(n_supp), pa.int64()),
                "s_name": _fmt("Supplier#", np.arange(n_supp)),
                "s_nationkey": pa.array(rng.integers(0, 25, n_supp), pa.int32()),
                "s_acctbal": np.round(rng.uniform(-1000, 10_000, n_supp), 2),
            }
        )
    if "part" in names:
        rng = np.random.default_rng(seeds[1])
        colors = np.asarray(COLORS, dtype=object)[rng.integers(0, len(COLORS), n_part)]
        nouns = np.asarray(NOUNS, dtype=object)[rng.integers(0, len(NOUNS), n_part)]
        out["part"] = pa.table(
            {
                "p_partkey": pa.array(np.arange(n_part), pa.int64()),
                "p_name": pa.array(colors + " " + nouns, pa.string()),
                "p_brand": pa.array([f"Brand#{i}" for i in rng.integers(0, 25, n_part).tolist()]),
                "p_type": _pick(rng, PTYPES, n_part),
                "p_size": pa.array(rng.integers(1, 51, n_part), pa.int32()),
                "p_retailprice": np.round(rng.uniform(100, 2000, n_part), 2),
            }
        )
    if "customer" in names:
        rng = np.random.default_rng(seeds[2])
        out["customer"] = pa.table(
            {
                "c_custkey": pa.array(np.arange(n_cust), pa.int64()),
                "c_name": _fmt("Customer#", np.arange(n_cust)),
                "c_nationkey": pa.array(rng.integers(0, 25, n_cust), pa.int32()),
                "c_acctbal": np.round(rng.uniform(-1000, 10_000, n_cust), 2),
                "c_mktsegment": _pick(rng, SEGMENTS, n_cust),
            }
        )
    if names & {"orders", "lineitem"}:
        rng = np.random.default_rng(seeds[3])
        odays = np.floor(rng.uniform(0, 6.5 * 365, n_ord))
        if "orders" in names:
            out["orders"] = pa.table(
                {
                    "o_orderkey": pa.array(np.arange(n_ord), pa.int64()),
                    "o_custkey": pa.array(rng.integers(0, n_cust, n_ord), pa.int64()),
                    "o_orderstatus": _pick(rng, STATUS, n_ord),
                    "o_totalprice": np.round(rng.uniform(1000, 400_000, n_ord), 2),
                    "o_orderdate": _ts_us(odays, "1995-01-01"),
                    "o_orderpriority": _pick(rng, PRIORITIES, n_ord),
                }
            )
        if "lineitem" in names:
            rng = np.random.default_rng(seeds[4])
            li_ord = np.sort(rng.integers(0, n_ord, n_li))
            linenum = np.arange(n_li) - np.searchsorted(li_ord, li_ord, side="left") + 1
            out["lineitem"] = pa.table(
                {
                    "l_orderkey": pa.array(li_ord, pa.int64()),
                    "l_partkey": pa.array(rng.integers(0, n_part, n_li), pa.int64()),
                    "l_suppkey": pa.array(rng.integers(0, n_supp, n_li), pa.int64()),
                    "l_linenumber": pa.array(linenum, pa.int32()),
                    "l_quantity": np.floor(rng.uniform(1, 51, n_li)),
                    "l_extendedprice": np.round(rng.uniform(900, 105_000, n_li), 2),
                    "l_discount": np.round(rng.uniform(0, 0.10, n_li), 2),
                    "l_tax": np.round(rng.uniform(0, 0.08, n_li), 2),
                    "l_returnflag": _pick(rng, RFLAG, n_li),
                    "l_linestatus": _pick(rng, STATUS[:2], n_li),
                    "l_shipdate": _ts_us(odays[li_ord] + rng.integers(1, 95, n_li), "1995-01-01"),
                }
            )
    if "events" in names:
        rng = np.random.default_rng(seeds[5])
        n_ev = max(1000, int(1_000_000 * sf))
        out["events"] = pa.table(
            {
                "event_id": pa.array(np.arange(n_ev), pa.int64()),
                "ts": _ts_us(np.sort(rng.uniform(0, 30, n_ev)), "2024-01-01"),
                "user_id": pa.array(rng.integers(0, max(15, int(15_000 * sf)), n_ev), pa.int64()),
                "event_type": _pick(rng, ETYPES, n_ev),
                "value": np.round(rng.uniform(0.01, 500, n_ev), 2),
                "props": pa.array([f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev).tolist()]),
            }
        )
    return out


def write_tables(dst: str, tables: dict[str, pa.Table], csv: tuple[str, ...] = ()) -> None:
    """One parquet file per table; the tables named in ``csv`` are also
    written as ``<name>.csv`` with a header row."""
    os.makedirs(dst, exist_ok=True)
    for name, table in tables.items():
        pq.write_table(table, os.path.join(dst, f"{name}.parquet"))
        if name in csv:
            pacsv.write_csv(table, os.path.join(dst, f"{name}.csv"))


def main(argv=None) -> None:
    import argparse

    p = argparse.ArgumentParser(description="Write the seeded input tables.")
    p.add_argument("--sf", type=float, required=True)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--dst", required=True)
    p.add_argument("--tables", nargs="+", required=True)
    p.add_argument("--csv", nargs="*", default=[])
    args = p.parse_args(argv)
    write_tables(args.dst, make_tables(args.sf, args.seed, set(args.tables)), csv=tuple(args.csv))


if __name__ == "__main__":
    main()
