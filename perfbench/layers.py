"""The traced op: `DumpPipeline.run` / `RestorePipeline.run` repeated as
separate calls into each layer's public functions, one span each, and the
per-layer metrics derived from those spans.

The steps mirror `replibyte_spark.plans.pipeline`; the traced op's output
is checked like every untraced op, so a drift between the two shows as a
failed check.
"""

from __future__ import annotations

import os
import statistics
import time

from replibyte_spark.functions.transformers import apply_transformers
from replibyte_spark.operators.sample import hash_percent_filter
from replibyte_spark.operators.subset import subset_closure
from replibyte_spark.sinks.datastore import Datastore
from replibyte_spark.sinks.sqldump_sink import write_sql_dump

import workloads as WL

# every per-layer metric, with its unit; BENCHMARK.json lists the same
PER_LAYER = {
    "session.start_s": "s",
    "sources.sqldump.busy_s": "s",
    "sources.sqldump.tasks": "count",
    "sources.sqldump.core_idle_frac": "ratio",
    "sources.sqldump.rows": "count",
    "operators.sample.seed_rows": "count",
    "operators.subset.plan_s": "s",
    "operators.subset.kept_rows": "count",
    "operators.subset.keep_ratio": "ratio",
    "operators.subset.scan_amplification": "ratio",
    "operators.subset.probe_s": "s",
    "functions.transformers.cells": "count",
    "functions.transformers.probe_s": "s",
    "sinks.datastore.dump_s": "s",
    "sinks.datastore.restore_s": "s",
    "sinks.datastore.restore_probe_s": "s",
    "sinks.datastore.jobs": "count",
    "sinks.datastore.tasks": "count",
    "sinks.datastore.executor_run_s": "s",
    "sinks.datastore.core_idle_frac": "ratio",
    "sinks.datastore.shuffle_bytes": "bytes",
    "sinks.datastore.bytes_written": "bytes",
    "sinks.datastore.files_written": "count",
    "sinks.datastore.manifest_ops": "count",
    "sinks.sqldump_sink.busy_s": "s",
    "sinks.sqldump_sink.statements": "count",
    "sinks.sqldump_sink.bytes_out": "bytes",
    "plans.pipeline.self_s": "s",
    "jvm.gc_s": "s",
    "trace.overhead_s": "s",
}

# counts that must read the same on every traced op of one input
EXACT_COUNTS = ["operators.subset.scan_amplification", "sinks.datastore.jobs",
                "sinks.datastore.tasks", "sources.sqldump.rows",
                "operators.sample.seed_rows", "operators.subset.kept_rows",
                "functions.transformers.cells",
                "sinks.sqldump_sink.statements"]


def _count_manifest_ops(store: Datastore) -> dict:
    """Wrap this instance's manifest read/write to count calls."""
    n = {"ops": 0}
    for meth in ("_read_manifest", "_write_manifest"):
        orig = getattr(store, meth)

        def counted(*a, _orig=orig, **k):
            n["ops"] += 1
            return _orig(*a, **k)
        setattr(store, meth, counted)
    return n


def traced_dump(spark, tr, w: WL.Workload, cfg, name: str) -> dict:
    """DumpPipeline.run, one span per layer call.  Returns what the
    metrics need beyond the spans."""
    pipe = WL.dump_pipeline(w, cfg)
    src = "sources.sqldump" if w.source == "sqltext" else "sources.parquet"
    with tr.span(f"{src}.load_source_tables", layer=src):
        tables = pipe.load_source_tables(spark)
    loaded = dict(tables)
    seed = None
    ss = cfg.source.database_subset
    if ss:
        pct = int(ss.strategy_options.get("percent", 50))
        with tr.span("operators.sample.hash_percent_filter",
                     layer="operators.sample"):
            seed = hash_percent_filter(tables[ss.table],
                                       tables[ss.table].columns[0], pct)
        with tr.span("operators.subset.subset_closure",
                     layer="operators.subset"):
            tables = subset_closure(
                tables, pipe.fk_edges, ss.table, seed, include_children=True,
                passthrough_tables=ss.passthrough_tables).tables
    subset = dict(tables)
    with tr.span("functions.transformers.apply_transformers",
                 layer="functions.transformers"):
        transformed = {}
        for t, df in tables.items():
            rules = cfg.transformer_rules_for(t, with_options=True)
            transformed[t] = apply_transformers(df, rules) if rules else df
    with tr.span("sinks.datastore.dump", layer="sinks.datastore") as ds:
        store = Datastore(spark, cfg.datastore.dir)
        manifest = _count_manifest_ops(store)
        store.dump(transformed, name,
                   compression="zstd" if cfg.source.compression else "none",
                   encrypt_columns=cfg.datastore.encrypted_columns,
                   encryption_key=cfg.encryption_key)
    dump_dir = os.path.join(cfg.datastore.dir, name)
    return {"loaded": loaded, "seed": seed, "subset": subset,
            "transformed": transformed, "dump_span": ds,
            "manifest_ops": manifest["ops"],
            "paths": {t: f"{dump_dir}/{t}" for t in transformed},
            "out_dir": dump_dir}


def traced_restore(spark, tr, w: WL.Workload, cfg, dest: str) -> dict:
    """RestorePipeline.run for a sqltext:// destination, one span per
    layer call (one per table for the sink)."""
    with tr.span("sinks.datastore.restore", layer="sinks.datastore") as ds:
        store = Datastore(spark, cfg.datastore.dir)
        manifest = _count_manifest_ops(store)
        tables = store.restore("latest",
                               decrypt_columns=cfg.datastore.encrypted_columns,
                               encryption_key=cfg.encryption_key)
    mode = "overwrite" if cfg.destination.wipe_database else "append"
    for t, df in tables.items():
        with tr.span("sinks.sqldump_sink.write_sql_dump",
                     layer="sinks.sqldump_sink", table=t):
            write_sql_dump(df, t, f"{dest}/{t}", mode=mode)
    return {"restored": tables, "dump_span": ds,
            "manifest_ops": manifest["ops"], "out_dir": dest}


def after_op(w: WL.Workload, info: dict) -> None:
    """Counts taken right after a traced op, outside its spans, while the
    op's cached frames are still alive."""
    info["out"] = WL.dir_stats(info["out_dir"])
    if w.source == "sqltext":
        info["loaded_rows"] = sum(df.count() for df in info["loaded"].values())
    if w.subset:
        info["seed_rows"] = info["seed"].count()
    if w.kind == "restore":
        info["statements"] = sum(
            n for n, _h in WL.parse_inserts(info["out_dir"]).values())


def noop_seconds(tables: dict) -> float:
    """Wall time to fully evaluate `tables` into Spark's noop sink."""
    t0 = time.perf_counter()
    for df in tables.values():
        df.write.format("noop").mode("overwrite").save()
    return time.perf_counter() - t0


def op_metrics(tr, w: WL.Workload, op_id: int, info: dict,
               source_rows: int, cores: int, gc_s: float) -> dict:
    """Per-layer metrics of one traced op (counters must be attached)."""
    spans = tr.op_spans(op_id)
    by_layer: dict[str, list[dict]] = {}
    for s in spans:
        by_layer.setdefault(s.get("layer", "plans.pipeline"), []).append(s)
    root = next(s for s in spans if s["parent"] is None)
    m = {k: 0.0 for k in PER_LAYER}
    m["plans.pipeline.self_s"] = tr.self_time(root)
    m["jvm.gc_s"] = gc_s

    def busy(layer):
        return sum(tr.duration(s) for s in by_layer.get(layer, []))

    def counter(layer, key):
        return sum(s["counters"][key] for s in by_layer.get(layer, []))

    def idle(layer):
        span_s = busy(layer)
        if span_s <= 0:
            return 0.0
        return 1.0 - counter(layer, "executor_run_s") / (span_s * cores)

    if w.source == "sqltext":
        m["sources.sqldump.busy_s"] = busy("sources.sqldump")
        m["sources.sqldump.tasks"] = counter("sources.sqldump", "tasks")
        m["sources.sqldump.core_idle_frac"] = idle("sources.sqldump")
        m["sources.sqldump.rows"] = info["loaded_rows"]
    ds = "sinks.datastore"
    m[f"{ds}.jobs"] = counter(ds, "jobs")
    m[f"{ds}.tasks"] = counter(ds, "tasks")
    m[f"{ds}.executor_run_s"] = counter(ds, "executor_run_s")
    m[f"{ds}.core_idle_frac"] = idle(ds)
    m[f"{ds}.shuffle_bytes"] = counter(ds, "shuffle_write_bytes")
    m[f"{ds}.manifest_ops"] = info["manifest_ops"]
    if w.kind == "dump":
        m[f"{ds}.dump_s"] = busy(ds)
        m[f"{ds}.bytes_written"], m[f"{ds}.files_written"] = info["out"]
        per_table = tr.table_executions(info["dump_span"], info["paths"])
        info["per_table"] = per_table
        rows_out = {t: r["output_records"] for t, r in per_table.items()}
        m["functions.transformers.cells"] = sum(
            rows_out.get(t, 0) * len(w.rules.get(t, {})) for t in w.rules)
        if w.subset:
            kept = sum(rows_out.values())
            m["operators.sample.seed_rows"] = info["seed_rows"]
            m["operators.subset.plan_s"] = busy("operators.subset")
            m["operators.subset.kept_rows"] = kept
            m["operators.subset.keep_ratio"] = kept / source_rows
            m["operators.subset.scan_amplification"] = (
                counter(ds, "input_records") / source_rows)
    else:
        m[f"{ds}.restore_s"] = busy(ds)
        sink = "sinks.sqldump_sink"
        m[f"{sink}.busy_s"] = busy(sink)
        m[f"{sink}.bytes_out"] = info["out"][0]
        m[f"{sink}.statements"] = info["statements"]
    return m


def probes(w: WL.Workload, info: dict) -> dict:
    """Standalone cost of each lazy layer, from noop-sink runs outside
    the op spans: the layer's frames minus the frames it starts from.
    One unmeasured pass first, so that no probe pays plan compilation."""
    if w.kind == "restore":
        noop_seconds(info["restored"])
        return {"sinks.datastore.restore_probe_s":
                noop_seconds(info["restored"])}
    stages = ["loaded", "subset", "transformed"] if w.subset \
        else ["loaded", "transformed"]
    for k in stages:
        noop_seconds(info[k])
    t = {k: noop_seconds(info[k]) for k in stages}
    out = {"functions.transformers.probe_s": t["transformed"] - t[stages[-2]]}
    if w.subset:
        out["operators.subset.probe_s"] = t["subset"] - t["loaded"]
    return out


def median_metrics(per_op: list[dict]) -> dict:
    return {k: statistics.median(m[k] for m in per_op) for k in per_op[0]}


def exact_repeats(per_op: list[dict]) -> dict:
    """For each exact count: its values on every traced op, and whether
    they are all equal."""
    return {k: {"values": [m[k] for m in per_op],
                "repeats_exactly": len({m[k] for m in per_op}) == 1}
            for k in EXACT_COUNTS}

