"""The lifecycle workloads: their configs, one op each, and the output
checks against an independent DuckDB oracle.

An op is one `dump create` (`DumpPipeline.run`) or one `dump restore`
(`RestorePipeline.run`), exactly as the CLI runs them.  Checks run after an
op, outside its timed region:

- subset workloads: `verify_referential_integrity` is 0 on every FK edge
  and every table's kept row count equals the oracle's closure, computed
  in DuckDB SQL from the generated parquet.
- other dump workloads: per-table row counts and an order-independent row
  checksum of the restored (decrypted) dump equal the oracle's, which
  applies the same transformers rendered for DuckDB
  (`transformer_sql(D.DUCK, ...)`) to the generated parquet.
- restore-sql: the INSERT statements are parsed by this file's own
  parser; statement counts per table and a checksum of the parsed values
  equal the oracle's rows.
"""

from __future__ import annotations

import os
import re
import shutil
import zlib
from dataclasses import dataclass

from replibyte_spark import dialect as D
from replibyte_spark.config import Config
from replibyte_spark.functions.transformers import transformer_sql
from replibyte_spark.operators.sample import hash_percent_sql
from replibyte_spark.operators.subset import (FIXTURE_FK_EDGES,
                                              verify_referential_integrity)
from replibyte_spark.plans.pipeline import DumpPipeline, RestorePipeline
from replibyte_spark.sinks.datastore import Datastore

KEY = "perfbench-secret-key"
SUBSET_PCT = 10

# table -> {column: transformer id}
LIGHT_RULES = {"customer": {"c_email": "email", "c_phone": "phone-number"}}
MASKED_RULES = {
    "customer": {"c_name": "first-name", "c_address": "random",
                 "c_phone": "phone-number", "c_email": "email",
                 "c_mktsegment": "keep-first-char"},
    "orders": {"o_clerk": "redacted", "o_comment": "random",
               "o_orderdate": "random-date"},
    "lineitem": {"l_comment": "redacted", "l_extendedprice": "random-float"},
    "part": {"p_name": "random", "p_brand": "keep-first-char"},
}
SUBSET_ENC = {"customer": ["c_name"]}
MASKED_ENC = {"customer": ["c_phone"], "lineitem": ["l_comment"]}
RESTORE_ENC = {"customer": ["c_email"], "orders": ["o_comment"]}


@dataclass
class Workload:
    name: str
    kind: str                  # "dump" or "restore"
    source: str                # "parquet" or "sqltext"
    rules: dict                # table -> {column: transformer id}
    encrypted: dict            # table -> AES-GCM-encrypted columns
    subset: bool = False       # 10% orders seed, closed over the FK graph


# BENCHMARK.json lists seed-subset and seed-sqldump; the other two still
# run by name (perfbench/README.md says why they are not listed)
WORKLOADS = {
    "seed-subset": Workload("seed-subset", "dump", "parquet", LIGHT_RULES,
                            SUBSET_ENC, subset=True),
    "seed-sqldump": Workload("seed-sqldump", "dump", "sqltext", MASKED_RULES,
                             MASKED_ENC),
    "seed-masked": Workload("seed-masked", "dump", "parquet", MASKED_RULES,
                            MASKED_ENC),
    "restore-sql": Workload("restore-sql", "restore", "parquet", {},
                            RESTORE_ENC),
}


def config_for(w: Workload, inputs: dict, store: str,
               dest: str | None = None) -> Config:
    """The YAML-shaped config a user would write for this workload."""
    if w.source == "sqltext":
        uri = "sqltext://" + inputs["sql_path"]
    else:
        uri = "parquet://" + inputs["parquet_dir"]
    raw: dict = {
        "encryption_key": KEY,
        "source": {
            "connection_uri": uri,
            "transformers": [
                {"table": t, "columns": [{"name": c, "transformer_name": n}
                                         for c, n in cols.items()]}
                for t, cols in w.rules.items()],
        },
        "datastore": {"local_disk": {"dir": store},
                      "encrypted_columns": w.encrypted or None},
    }
    if w.subset:
        raw["source"]["database_subset"] = {
            "table": "orders", "strategy_name": "random",
            "strategy_options": {"percent": SUBSET_PCT}}
    if dest is not None:
        raw["destination"] = {"connection_uri": "sqltext://" + dest}
    return Config.from_dict(raw)


def dump_pipeline(w: Workload, cfg: Config) -> DumpPipeline:
    return DumpPipeline(cfg, fk_edges=FIXTURE_FK_EDGES if w.subset else None)


def run_op(spark, w: Workload, cfg: Config, name: str):
    """One untraced op: the CLI's `dump create` or `dump restore`."""
    if w.kind == "dump":
        return dump_pipeline(w, cfg).run(spark, name)
    return RestorePipeline(cfg).run(spark)


def make_restore_source(spark, w: Workload, inputs: dict, store: str) -> None:
    """restore-sql restores one encrypted dump, made once during set-up."""
    dump_w = Workload("restore-src", "dump", "parquet", {}, w.encrypted)
    dump_pipeline(dump_w, config_for(dump_w, inputs, store)).run(
        spark, "restore-src")


def dir_stats(path: str) -> tuple[int, int]:
    """(bytes, data files) under `path`, skipping Hadoop's .crc/_SUCCESS."""
    size = files = 0
    for root, _dirs, names in os.walk(path):
        for n in names:
            if n.startswith(".") or n.startswith("_"):
                continue
            size += os.path.getsize(os.path.join(root, n))
            files += 1
    return size, files


def remove(path: str) -> None:
    shutil.rmtree(path, ignore_errors=True)


# ---------------------------------------------------------------------------
# checksums: one SQL text for both engines, rendered per dialect
# ---------------------------------------------------------------------------

def _cell(d: str, name: str, is_double: bool) -> str:
    # doubles compare at 1e-4 resolution as integers: both engines print
    # doubles differently, but round(x * 1e4) is the same bigint in both
    e = (f"CAST(round({name} * 10000) AS BIGINT)" if is_double else name)
    return f"coalesce({D.to_str(d, e)}, '~')"


def checksum_sql(d: str, columns: list[tuple[str, bool]]) -> str:
    """Per-row 12-digit hash of the rendered row, summed: independent of
    row order and partitioning; a changed, lost or duplicated row moves it."""
    row = "concat_ws('|', " + ", ".join(_cell(d, c, dbl)
                                        for c, dbl in columns) + ")"
    return f"sum({D.hash_long(d, row, 'perfbench', 1, 12)})"


def spark_table_sums(tables: dict) -> dict[str, tuple[int, int]]:
    """{table: (rows, checksum)} for Spark frames, in one collect."""
    from pyspark.sql import functions as F
    from pyspark.sql.types import DoubleType, FloatType

    parts = None
    for t in sorted(tables):
        df = tables[t]
        cols = [(f.name, isinstance(f.dataType, (DoubleType, FloatType)))
                for f in df.schema.fields]
        agg = df.agg(F.count(F.lit(1)).alias("n"),
                     F.expr(checksum_sql(D.SPARK, cols)).alias("h")
                     ).select(F.lit(t).alias("t"), "n", "h")
        parts = agg if parts is None else parts.unionByName(agg)
    return {r["t"]: (int(r["n"]), int(r["h"] or 0)) for r in parts.collect()}


# ---------------------------------------------------------------------------
# the DuckDB oracle
# ---------------------------------------------------------------------------

class Oracle:
    """Expected outputs, computed by DuckDB from the generated parquet."""

    def __init__(self, sources: dict):
        """`sources` maps table -> a parquet path or an arrow table."""
        import duckdb

        self.con = duckdb.connect(config={"threads": 1})
        self.tables = sorted(sources)
        for t, src in sources.items():
            if isinstance(src, str):
                self.con.execute(f"CREATE VIEW {t} AS SELECT * FROM "
                                 f"read_parquet({D.q(src)})")
            else:
                self.con.register(t, src)

    def close(self) -> None:
        self.con.close()

    def _columns(self, relation: str) -> list[tuple[str, str]]:
        return [(r[0], r[1]) for r in
                self.con.execute(f"DESCRIBE {relation}").fetchall()]

    def transformed_sql(self, table: str, rules: dict) -> str:
        cols = []
        for c, _typ in self._columns(table):
            if c in rules.get(table, {}):
                cols.append(f"{transformer_sql(rules[table][c], D.DUCK, c)} "
                            f"AS {c}")
            else:
                cols.append(c)
        return f"SELECT {', '.join(cols)} FROM {table}"

    def table_sums(self, relations: dict[str, str]) -> dict[str, tuple]:
        """{table: (rows, checksum)} for {table: SELECT ...}."""
        out = {}
        for t, sql in relations.items():
            self.con.execute(f"CREATE OR REPLACE TEMP VIEW _o AS {sql}")
            cols = [(c, typ in ("DOUBLE", "FLOAT"))
                    for c, typ in self._columns("_o")]
            n, h = self.con.execute(
                f"SELECT count(*), {checksum_sql(D.DUCK, cols)} FROM _o"
            ).fetchone()
            out[t] = (int(n), int(h or 0))
        return out

    def subset_counts(self, pct: int) -> dict[str, int]:
        """Kept rows per table of the orders-seeded closure over the TPC-H
        FK graph, with children of the seed (lineitem) included, written
        as plain SQL semi-joins."""
        seed = hash_percent_sql(D.DUCK, "o_orderkey", pct)
        q = f"""
        WITH o AS (SELECT * FROM orders WHERE {seed}),
        l AS (SELECT * FROM lineitem WHERE l_orderkey IN
              (SELECT o_orderkey FROM o)),
        c AS (SELECT * FROM customer WHERE c_custkey IN
              (SELECT o_custkey FROM o)),
        s AS (SELECT * FROM supplier WHERE s_suppkey IN
              (SELECT l_suppkey FROM l)),
        p AS (SELECT * FROM part WHERE p_partkey IN
              (SELECT l_partkey FROM l)),
        n AS (SELECT * FROM nation WHERE n_nationkey IN
              (SELECT c_nationkey FROM c UNION SELECT s_nationkey FROM s)),
        r AS (SELECT * FROM region WHERE r_regionkey IN
              (SELECT n_regionkey FROM n))
        SELECT (SELECT count(*) FROM o), (SELECT count(*) FROM l),
               (SELECT count(*) FROM c), (SELECT count(*) FROM s),
               (SELECT count(*) FROM p), (SELECT count(*) FROM n),
               (SELECT count(*) FROM r)"""
        vals = self.con.execute(q).fetchone()
        names = ["orders", "lineitem", "customer", "supplier", "part",
                 "nation", "region"]
        return {t: int(v) for t, v in zip(names, vals)}

    def insert_sums(self) -> dict[str, tuple[int, int]]:
        """{table: (rows, checksum)} over rows rendered the way
        `parse_inserts` renders parsed INSERT values."""
        out = {}
        for t in self.tables:
            rows = self.con.execute(f"SELECT * FROM {t}").fetchall()
            out[t] = (len(rows), _py_checksum(
                tuple(_render_py(v) for v in r) for r in rows))
        return out


    def fk_violations(self) -> dict[str, int]:
        """FK violations per edge: child rows whose key has no parent."""
        out = {}
        for e in FIXTURE_FK_EDGES:
            if e.child not in self.tables or e.parent not in self.tables:
                continue  # a missing table fails the count check instead
            out[f"{e.child}.{e.fk_col}->{e.parent}.{e.parent_col}"] = int(
                self.con.execute(
                    f"SELECT count(*) FROM {e.child} c ANTI JOIN {e.parent} p "
                    f"ON c.{e.fk_col} = p.{e.parent_col} "
                    f"WHERE c.{e.fk_col} IS NOT NULL").fetchone()[0])
        return out


def source_oracle(parquet_dir: str, tables: list[str]) -> Oracle:
    return Oracle({t: os.path.join(parquet_dir, f"{t}.parquet")
                   for t in tables})


def expected(w: Workload, oracle: Oracle) -> dict:
    if w.subset:
        return {"counts": oracle.subset_counts(SUBSET_PCT)}
    if w.kind == "restore":
        return {"inserts": oracle.insert_sums()}
    return {"sums": oracle.table_sums(
        {t: oracle.transformed_sql(t, w.rules) for t in oracle.tables})}


# ---------------------------------------------------------------------------
# INSERT parsing for restore-sql (independent of the engine's own parser)
# ---------------------------------------------------------------------------

_INSERT_RE = re.compile(r"^INSERT INTO (\w+) \(([^)]*)\) VALUES \((.*)\);$")
_VALUE_RE = re.compile(r"\s*('(?:[^']|'')*'|NULL|TRUE|FALSE|[^,]+)\s*(?:,|$)")


def _parse_value(tok: str):
    if tok == "NULL":
        return None
    if tok.startswith("'"):
        return tok[1:-1].replace("''", "'")
    if tok in ("TRUE", "FALSE"):
        return tok == "TRUE"
    if re.fullmatch(r"-?\d+", tok):
        return int(tok)
    return float(tok)


def _render_py(v) -> str:
    import datetime as dt

    if v is None:
        return "~"
    if isinstance(v, float):
        return str(round(v * 10000))
    if isinstance(v, dt.datetime):
        return v.strftime("%Y-%m-%d %H:%M:%S")
    return str(v)


def _py_checksum(rows) -> int:
    h = 0
    for r in rows:
        h = (h + zlib.crc32("|".join(r).encode())) & 0xFFFFFFFFFFFF
    return h


def parse_inserts(dest: str) -> dict[str, tuple[int, int]]:
    """{table: (statements, checksum)} over every INSERT file under dest."""
    out: dict[str, tuple[int, int]] = {}
    for t in sorted(os.listdir(dest)):
        tdir = os.path.join(dest, t)
        if not os.path.isdir(tdir):
            continue
        rows = []
        for n in sorted(os.listdir(tdir)):
            if n.startswith((".", "_")):
                continue
            with open(os.path.join(tdir, n), encoding="utf-8") as f:
                for line in f:
                    m = _INSERT_RE.match(line.rstrip("\n"))
                    if m is None or m.group(1) != t:
                        raise ValueError(f"not an INSERT for {t}: {line[:80]!r}")
                    vals = [_parse_value(x) for x in
                            _VALUE_RE.findall(m.group(3))]
                    if len(vals) != len(m.group(2).split(",")):
                        raise ValueError(f"arity mismatch in {line[:80]!r}")
                    rows.append(tuple(_render_py(v) for v in vals))
        out[t] = (len(rows), _py_checksum(rows))
    return out


# ---------------------------------------------------------------------------
# output checks
# ---------------------------------------------------------------------------

def read_dump(dump_dir: str, encrypted: dict) -> dict:
    """A dump directory as arrow tables, read without the engine: AES-GCM
    columns decrypted here (base64 of 12-byte IV + ciphertext + tag, key
    padded or cut to 32 bytes), UTC timestamps made naive like the
    oracle's."""
    import base64

    import pyarrow as pa
    import pyarrow.parquet as pq
    from cryptography.hazmat.primitives.ciphers.aead import AESGCM

    aes = AESGCM((KEY.encode() + b"0" * 32)[:32])

    def decrypt(v):
        if v is None:
            return None
        raw = base64.b64decode(v)
        return aes.decrypt(raw[:12], raw[12:], None).decode()

    out = {}
    for t in sorted(os.listdir(dump_dir)):
        if not os.path.isdir(os.path.join(dump_dir, t)):
            continue
        tab = pq.read_table(os.path.join(dump_dir, t))
        for i, f in enumerate(tab.schema):
            if f.name in encrypted.get(t, []):
                tab = tab.set_column(i, f.name, pa.array(
                    [decrypt(v) for v in tab.column(i).to_pylist()],
                    pa.string()))
            elif pa.types.is_timestamp(f.type) and f.type.tz:
                tab = tab.set_column(i, f.name, tab.column(i).cast(
                    pa.timestamp(f.type.unit)))
        out[t] = tab
    return out


def _compare(w: Workload, want: dict, got_counts: dict, got_sums: dict,
             violations: dict) -> list[str]:
    problems = [f"{edge}: {n} FK violations"
                for edge, n in violations.items() if n]
    if w.subset:
        problems += [f"{t}: kept {got_counts.get(t)} != oracle {n}"
                     for t, n in want["counts"].items()
                     if got_counts.get(t) != n]
    else:
        problems += [f"{t}: rows/checksum {got_sums.get(t)} != oracle {exp}"
                     for t, exp in want["sums"].items()
                     if got_sums.get(t) != tuple(exp)]
    return problems


def check(w: Workload, want: dict, out_dir: str) -> list[str]:
    """Problems found in one op's output, read back without the engine;
    empty when it is correct.  `out_dir` is the dump directory, or the
    restore destination."""
    if w.kind == "restore":
        got = parse_inserts(out_dir)
        return [f"{t}: statements/checksum {got.get(t)} != oracle {exp}"
                for t, exp in want["inserts"].items()
                if got.get(t) != tuple(exp)]
    dumped = Oracle(read_dump(out_dir, w.encrypted))
    try:
        sums = dumped.table_sums({t: f"SELECT * FROM {t}"
                                  for t in dumped.tables})
        violations = dumped.fk_violations() if w.subset else {}
    finally:
        dumped.close()
    return _compare(w, want, {t: n for t, (n, _h) in sums.items()}, sums,
                    violations)


def engine_check(spark, w: Workload, want: dict, store: str,
                 name: str) -> list[str]:
    """The same checks through the engine's own read path: the dump
    restored and decrypted by `Datastore.restore`, referential integrity
    by `verify_referential_integrity`.  Run once per run, on its warm-up
    op."""
    restored = Datastore(spark, store).restore(
        name, decrypt_columns=w.encrypted or None, encryption_key=KEY)
    violations = (verify_referential_integrity(restored, FIXTURE_FK_EDGES)
                  if w.subset else {})
    sums = spark_table_sums(restored)
    return _compare(w, want, {t: n for t, (n, _h) in sums.items()}, sums,
                    violations)
