"""Seeded TPC-H-shaped input generator for the lifecycle benchmark.

`generate(out_dir, sf, seed)` writes the seven TPC-H tables (region, nation,
supplier, part, customer, orders, lineitem) as one parquet file each under
`out_dir/parquet/` plus the same rows as one monolithic pg_dump-style COPY
file `out_dir/dump.sql`.  Row counts follow the TPC-H scale factor (orders
= 1.5M x sf, 1-7 lines per order, so lineitem is ~4x orders).

The seed permutes the key values (row i of customer gets a permuted
c_custkey) and the row order of every table, so the 10% hash sample on
o_orderkey picks different orders from run to run while table sizes stay
about the same.  The same seed always gives byte-identical inputs.

Every generated value is chosen so that its text rendering is unambiguous
in both engines: doubles carry at most two decimals, timestamps are whole
seconds, and strings hold no tab, newline, backslash or quote.
"""

from __future__ import annotations

import datetime as dt
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

TABLES = ["region", "nation", "supplier", "part", "customer", "orders",
          "lineitem"]

_REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
_SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
_PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
_COLORS = ["almond", "blue", "coral", "dark", "forest", "green", "ivory",
           "khaki", "lime", "navy", "olive", "peach", "red", "smoke"]
_THINGS = ["bolt", "gear", "panel", "ring", "spring", "valve", "widget"]
_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
_WORDS = ["quick", "final", "ironic", "pending", "bold", "even", "silent",
          "regular", "express", "careful", "blithe", "furious"]
_STREETS = ["Oak St", "Main St", "Elm Ave", "Park Rd", "Lake Dr", "Hill Ln"]
_EPOCH = dt.datetime(1992, 1, 1)


def table_sizes(sf: float) -> dict[str, int]:
    """Rows per table for scale factor `sf` (lineitem is drawn per order)."""
    return {"region": 5, "nation": 25,
            "supplier": max(10, round(10_000 * sf)),
            "part": max(20, round(200_000 * sf)),
            "customer": max(15, round(150_000 * sf)),
            "orders": max(150, round(1_500_000 * sf))}


def _pick(rng, words: list[str], n: int) -> np.ndarray:
    return np.asarray(words, dtype=object)[rng.integers(0, len(words), n)]


def _money(rng, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def _fmt(fmt: str, values) -> list[str]:
    return [fmt % v for v in values]


def _phone(rng, n: int) -> list[str]:
    d = rng.integers(100, 1000, (n, 3))
    return [f"{a}-{b}-{c}4" for a, b, c in d]


def _comment(rng, n: int) -> list[str]:
    a, b, c = (_pick(rng, _WORDS, n) for _ in range(3))
    return [f"{x} {y} {z} requests" for x, y, z in zip(a, b, c)]


def _timestamps(rng, n: int, days: int) -> np.ndarray:
    secs = rng.integers(0, days * 86_400, n)
    return (np.datetime64(_EPOCH, "s") + secs.astype("timedelta64[s]")
            ).astype("datetime64[us]")


def make_tables(sf: float, seed: int) -> dict[str, pa.Table]:
    """The seven tables as arrow tables, rows in seeded random order."""
    rng = np.random.default_rng(seed)
    n = table_sizes(sf)
    out: dict[str, pa.Table] = {}
    out["region"] = pa.table({
        "r_regionkey": pa.array(np.arange(5), pa.int32()),
        "r_name": _REGIONS})
    out["nation"] = pa.table({
        "n_nationkey": pa.array(np.arange(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array(np.arange(25) % 5, pa.int32())})

    ns = n["supplier"]
    skeys = rng.permutation(ns)
    out["supplier"] = pa.table({
        "s_suppkey": pa.array(skeys, pa.int64()),
        "s_name": _fmt("Supplier#%09d", skeys),
        "s_nationkey": pa.array(rng.integers(0, 25, ns), pa.int32()),
        "s_phone": _phone(rng, ns),
        "s_acctbal": _money(rng, -999, 9999, ns)})

    np_ = n["part"]
    pkeys = rng.permutation(np_)
    colors, things = _pick(rng, _COLORS, np_), _pick(rng, _THINGS, np_)
    out["part"] = pa.table({
        "p_partkey": pa.array(pkeys, pa.int64()),
        "p_name": [f"{c} {t}" for c, t in zip(colors, things)],
        "p_brand": _fmt("Brand#%d", rng.integers(1, 26, np_)),
        "p_type": _pick(rng, _TYPES, np_).tolist(),
        "p_size": pa.array(rng.integers(1, 51, np_), pa.int32()),
        "p_retailprice": _money(rng, 900, 2100, np_)})

    nc = n["customer"]
    ckeys = rng.permutation(nc)
    out["customer"] = pa.table({
        "c_custkey": pa.array(ckeys, pa.int64()),
        "c_name": _fmt("Customer#%09d", ckeys),
        "c_address": [f"{h} {s}" for h, s in
                      zip(rng.integers(1, 9999, nc), _pick(rng, _STREETS, nc))],
        "c_nationkey": pa.array(rng.integers(0, 25, nc), pa.int32()),
        "c_phone": _phone(rng, nc),
        "c_email": [f"user{k}@corp.example" for k in ckeys],
        "c_acctbal": _money(rng, -999, 9999, nc),
        "c_mktsegment": _pick(rng, _SEGMENTS, nc).tolist()})

    no = n["orders"]
    okeys = rng.permutation(no)
    out["orders"] = pa.table({
        "o_orderkey": pa.array(okeys, pa.int64()),
        "o_custkey": pa.array(rng.integers(0, nc, no), pa.int64()),
        "o_orderstatus": _pick(rng, ["F", "O", "P"], no).tolist(),
        "o_totalprice": _money(rng, 800, 500_000, no),
        "o_orderdate": pa.array(_timestamps(rng, no, 2400), pa.timestamp("us")),
        "o_orderpriority": _pick(rng, _PRIORITIES, no).tolist(),
        "o_clerk": _fmt("Clerk#%09d", rng.integers(1, 1000, no)),
        "o_comment": _comment(rng, no)})

    lines = rng.integers(1, 8, no)
    nl = int(lines.sum())
    lorder = np.repeat(okeys, lines)
    lnum = np.concatenate([np.arange(1, k + 1) for k in lines])
    order = rng.permutation(nl)
    out["lineitem"] = pa.table({
        "l_orderkey": pa.array(lorder[order], pa.int64()),
        "l_partkey": pa.array(rng.integers(0, np_, nl), pa.int64()),
        "l_suppkey": pa.array(rng.integers(0, ns, nl), pa.int64()),
        "l_linenumber": pa.array(lnum[order], pa.int32()),
        "l_quantity": rng.integers(1, 51, nl).astype(np.float64),
        "l_extendedprice": _money(rng, 900, 100_000, nl),
        "l_discount": rng.integers(0, 11, nl) / 100.0,
        "l_tax": rng.integers(0, 9, nl) / 100.0,
        "l_returnflag": _pick(rng, ["A", "N", "R"], nl).tolist(),
        "l_linestatus": _pick(rng, ["F", "O"], nl).tolist(),
        "l_shipdate": pa.array(_timestamps(rng, nl, 2500), pa.timestamp("us")),
        "l_comment": _comment(rng, nl)})
    # seeded row order for every table, not only the keyed ones
    return {t: tab.take(pa.array(rng.permutation(tab.num_rows)))
            for t, tab in out.items()}


def _copy_text(v) -> str:
    if v is None:
        return "\\N"
    if isinstance(v, dt.datetime):
        return v.strftime("%Y-%m-%d %H:%M:%S")
    if isinstance(v, float):
        return repr(v)
    return str(v)


def _sql_type(t: pa.DataType) -> str:
    if pa.types.is_integer(t):
        return "bigint" if t.bit_width == 64 else "integer"
    if pa.types.is_floating(t):
        return "double precision"
    if pa.types.is_timestamp(t):
        return "timestamp without time zone"
    return "text"


def write_copy_dump(tables: dict[str, pa.Table], path: str) -> int:
    """One pg_dump-style file: DDL, then one COPY block per table.
    Returns the file size in bytes."""
    with open(path, "w", encoding="utf-8", newline="\n") as f:
        f.write("--\n-- PostgreSQL database dump\n--\n\n"
                "SET statement_timeout = 0;\nSET client_encoding = 'UTF8';\n\n")
        for t in TABLES:
            tab = tables[t]
            cols = ",\n    ".join(f"{fl.name} {_sql_type(fl.type)}"
                                  for fl in tab.schema)
            f.write(f"CREATE TABLE public.{t} (\n    {cols}\n);\n\n")
        for t in TABLES:
            tab = tables[t]
            names = ", ".join(tab.column_names)
            f.write(f"COPY public.{t} ({names}) FROM stdin;\n")
            cols = [tab.column(c).to_pylist() for c in tab.column_names]
            f.writelines("\t".join(_copy_text(v) for v in row) + "\n"
                         for row in zip(*cols))
            f.write("\\.\n\n")
    return os.path.getsize(path)


def generate(out_dir: str, sf: float, seed: int,
             sql_dump: bool = True) -> dict:
    """Write the inputs; returns {parquet_dir, sql_path, rows, tables}."""
    tables = make_tables(sf, seed)
    pdir = os.path.join(out_dir, "parquet")
    os.makedirs(pdir, exist_ok=True)
    for t, tab in tables.items():
        pq.write_table(tab, os.path.join(pdir, f"{t}.parquet"))
    sql_path = os.path.join(out_dir, "dump.sql")
    if sql_dump:
        write_copy_dump(tables, sql_path)
    return {"parquet_dir": pdir, "sql_path": sql_path if sql_dump else None,
            "rows": {t: tab.num_rows for t, tab in tables.items()},
            "tables": tables}
