#!/usr/bin/env python3
"""Lifecycle benchmark: time `dump create` / `dump restore` end to end.

    python3 perfbench/run.py --workload seed-subset --seed 1 --seconds 20 --trace 0

Run from the repository root.  One process, one client, one op in flight
(closed loop) on `local[nproc]`.  Inputs are generated from `--seed`
under `perfbench/work/`, which is removed on exit.  Every op's output is
checked outside its timed region; the last stdout line is one JSON object
with `correct`, `attempted`, `failed` and `metrics`.

`--trace 0` reports the end-to-end metrics.  `--trace 1` runs the traced
op (one span and one Spark job group per layer call) alternating with
untraced ops, reports the per-layer metrics, and writes every span and
counter to `perfbench/traces/<workload>-seed<seed>.json`.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import subprocess
import sys
import time
import traceback

START = time.perf_counter()
HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORKLOAD_NAMES = ["seed-subset", "seed-sqldump", "seed-masked", "restore-sql"]
DEFAULT_SF = 0.003
# the JVM heap a local run needs at this input size; fixed so that the
# benchmark does not depend on the caller's environment
DRIVER_MEMORY = "1g"

# Ops get faster as the JIT warms (the first timed op runs ~20% slower
# than the third), so a run whose op count followed the window reported a
# median that moved with the count: 3-op and 4-op runs of one workload
# differed by 20%.  A fixed count keeps runs comparable; the window still
# cuts a slow run short.  A fourth op would not fit the time limit for all
# runs when the machine runs slow (a 4-op run then takes ~70 s).
OPS_PER_RUN = 3

END_TO_END = {"setup_s": "s", "op_s.p50": "s", "rows_per_s": "1/s",
              "out_bytes": "bytes", "peak_rss_mb": "MB"}


def log(msg: str) -> None:
    print(f"[{time.perf_counter() - START:6.1f}s] {msg}", file=sys.stderr,
          flush=True)


def parse_args(argv):
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True, choices=WORKLOAD_NAMES)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument("--sf", type=float, default=DEFAULT_SF,
                   help="TPC-H scale factor of the generated inputs")
    return p.parse_args(argv)


def cores() -> int:
    return len(os.sched_getaffinity(0))


def prepare_env(work: str) -> None:
    """Python workers import the package from the checkout; every
    temporary file of Spark, the JVM and Python goes under `work`."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["PYTHONPATH"] = os.pathsep.join(
        [ROOT] + [p for p in os.environ.get("PYTHONPATH", "").split(
            os.pathsep) if p])
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_DRIVER_MEMORY"] = DRIVER_MEMORY
    # a fixed heap (-Xms = -Xmx): with a growable heap, the GC's
    # timing-driven resizing alone moved peak RSS by 20% between runs
    os.environ["PYSPARK_SUBMIT_ARGS"] = (
        f"--driver-java-options '-Djava.io.tmpdir={tmp} "
        f"-Xms{DRIVER_MEMORY}' "
        "--conf spark.ui.showConsoleProgress=false pyspark-shell")
    sys.path[:0] = [ROOT, HERE]


def vm_hwm_mb(pid) -> float:
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    return 0.0


def stop_spark(spark) -> None:
    """Stop the context, then the JVM it runs in, and wait for it."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    if proc is not None:
        if proc.stdin:
            proc.stdin.close()
        try:
            proc.wait(timeout=30)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait(timeout=30)


class Bench:
    def __init__(self, args, work: str):
        import workloads as WL

        self.args, self.work, self.WL = args, work, WL
        self.w = WL.WORKLOADS[args.workload]
        self.ops: list[dict] = []
        self.probes: dict | None = None
        self.restore_probe: tuple[int, dict] | None = None
        t0 = time.perf_counter()
        in_dir = os.path.join(work, "in")
        os.makedirs(in_dir)
        subprocess.run([sys.executable, os.path.join(HERE, "prepare.py"),
                        in_dir, args.workload, str(args.sf), str(args.seed)],
                       check=True, timeout=150)
        with open(os.path.join(in_dir, "prepared.json")) as f:
            self.inputs = json.load(f)
        self.want = self.inputs.pop("want")
        self.source_rows = sum(self.inputs["rows"].values())
        log(f"inputs: {self.source_rows} rows, sf={args.sf}, "
            f"{time.perf_counter() - t0:.2f}s")
        self.restore_store = os.path.join(work, "restore-store")

    # -- one op ------------------------------------------------------------

    def _dirs(self, i: int) -> tuple[str, str]:
        base = os.path.join(self.work, "ops", str(i))
        return os.path.join(base, "store"), os.path.join(base, "dest")

    def run_one(self, i: int, tracer=None, check: bool = True) -> dict:
        """Hygiene, one timed op, then its check; never raises."""
        from replibyte_spark.util import free_persistent_rdds

        WL, w = self.WL, self.w
        store, dest = self._dirs(i)
        self.WL.remove(os.path.dirname(store))
        free_persistent_rdds(self.spark)
        self.spark.catalog.clearCache()
        cfg = WL.config_for(w, self.inputs,
                            self.restore_store if w.kind == "restore"
                            else store, dest)
        name = f"dump-{i}"
        rec = {"i": i, "traced": tracer is not None}
        try:
            if tracer is None:
                t0 = time.perf_counter()
                WL.run_op(self.spark, w, cfg, name)
                rec["op_s"] = time.perf_counter() - t0
            else:
                import layers

                gc0 = tracer.gc_seconds()
                t0 = time.perf_counter()
                with tracer.op(i, "plans.pipeline.run"):
                    if w.kind == "dump":
                        info = layers.traced_dump(self.spark, tracer, w, cfg,
                                                  name)
                    else:
                        info = layers.traced_restore(self.spark, tracer, w,
                                                     cfg, dest)
                rec["op_s"] = time.perf_counter() - t0
                rec["gc_s"] = tracer.gc_seconds() - gc0
                rec["info"] = info
                layers.after_op(w, info)
                if self.probes is None:
                    self.probes = layers.probes(w, info)
                    if w.kind == "dump":
                        self.restore_probe = self.probe_restore(tracer, cfg,
                                                                i)
            out = os.path.join(store, name) if w.kind == "dump" else dest
            rec["out_bytes"] = WL.dir_stats(out)[0]
            t0 = time.perf_counter()
            problems = WL.check(w, self.want, out) if check else []
            rec["check_s"] = time.perf_counter() - t0
        except Exception:
            problems = [traceback.format_exc(limit=3)]
        self._record(rec, problems)
        return rec

    def _record(self, rec: dict, problems: list[str]) -> None:
        rec["problems"] = rec.get("problems", []) + problems
        rec["ok"] = not rec["problems"]
        if problems:
            log(f"op {rec['i']} FAILED: " + "; ".join(problems)[:2000])

    def engine_check(self, rec: dict) -> None:
        """Check one op's dump once more through the engine's own read path
        (Datastore.restore, verify_referential_integrity), on top of the
        engine-free check."""
        if self.w.kind != "dump" or "out_bytes" not in rec:
            return
        t0 = time.perf_counter()
        try:
            problems = self.WL.engine_check(self.spark, self.w, self.want,
                                            self._dirs(rec["i"])[0],
                                            f"dump-{rec['i']}")
        except Exception:
            problems = [traceback.format_exc(limit=3)]
        self._record(rec, problems)
        log(f"engine check of op {rec['i']}: "
            f"{time.perf_counter() - t0:.2f}s, ok={rec['ok']}")

    def probe_restore(self, tracer, dump_cfg, i: int) -> tuple[int, dict]:
        """Dump workloads time no restore, so the traced run restores the
        op's own dump into INSERT text once, outside the op spans: the
        restore side's per-layer metrics are still measured."""
        import layers

        WL = self.WL
        rw = WL.WORKLOADS["restore-sql"]
        dest = os.path.join(self.work, "probe-dest")
        cfg = WL.config_for(self.w, self.inputs, dump_cfg.datastore.dir, dest)
        with tracer.op(-i, "probe.restore"):
            info = layers.traced_restore(self.spark, tracer, rw, cfg, dest)
        layers.after_op(rw, info)
        info.update(layers.probes(rw, info))
        dumped = (sum(self.want["counts"].values()) if self.w.subset
                  else sum(n for n, _h in self.want["sums"].values()))
        if info["statements"] != dumped:
            raise RuntimeError(f"restore probe rendered {info['statements']} "
                               f"INSERTs for {dumped} dumped rows")
        return -i, info

    # -- phases ------------------------------------------------------------

    def setup(self) -> None:
        """Session start, datastore init and the unmeasured warm-up op;
        `setup_s` is their sum.  restore-sql's source dump is input
        preparation and is timed apart.  The warm-up op's output then gets
        both checks, the engine-free one and the engine path's, outside
        `setup_s`: the engine path runs once per run, and here, before the
        timed ops, it also warms the JIT further."""
        from replibyte_spark.session import get_spark
        from replibyte_spark.sinks.datastore import Datastore

        t0 = time.perf_counter()
        self.spark = get_spark("perfbench", cpus=cores())
        self.session_s = time.perf_counter() - t0
        self.spark.sparkContext.setLogLevel("ERROR")
        if self.w.kind == "restore":
            t1 = time.perf_counter()
            self.WL.make_restore_source(self.spark, self.w, self.inputs,
                                        self.restore_store)
            log(f"restore source dump: {time.perf_counter() - t1:.2f}s")
        t1 = time.perf_counter()
        Datastore(self.spark, os.path.join(self.work, "init-store")).init()
        init_s = time.perf_counter() - t1
        warm = self.run_one(0)
        self.setup_s = self.session_s + init_s + warm.get("op_s", 0.0)
        log(f"setup: session {self.session_s:.2f}s, init {init_s:.3f}s, "
            f"warm-up op {warm.get('op_s', float('nan')):.2f}s")
        self.engine_check(warm)
        self.warmup_ok = warm["ok"]

    def measure(self, traced: bool = False) -> None:
        """Closed loop of OPS_PER_RUN ops, fewer if --seconds pass first
        (at least one).  The traced run alternates traced and untraced ops
        and always runs OPS_PER_RUN: two traced ops show whether counts
        repeat exactly, the untraced one gives the tracing overhead."""
        tracer = None
        if traced:
            from spans import Tracer

            tracer = self.tracer = Tracer(self.spark)
        t0 = time.perf_counter()
        i = 1
        while True:
            use = tracer if traced and i % 2 == 1 else None
            rec = self.run_one(i, use)
            self.ops.append(rec)
            self.WL.remove(os.path.dirname(self._dirs(i - 1)[0]))
            log(f"op {i}{' traced' if use else ''}: "
                f"{rec.get('op_s', float('nan')):.3f}s, check "
                f"{rec.get('check_s', float('nan')):.2f}s, ok={rec['ok']}")
            i += 1
            if len(self.ops) == OPS_PER_RUN or (
                    not traced
                    and time.perf_counter() - t0 >= self.args.seconds):
                break
        self.WL.remove(os.path.dirname(self._dirs(i - 1)[0]))

    def peak_rss_mb(self) -> float:
        jvm_pid = self.spark._jvm.java.lang.ProcessHandle.current().pid()
        return vm_hwm_mb("self") + vm_hwm_mb(jvm_pid)

    def end_to_end(self) -> dict:
        # an op whose output check failed still ran: its time counts, and
        # the result reports it as failed
        done = [r for r in self.ops if "out_bytes" in r and not r["traced"]]
        if not done:
            raise RuntimeError("no op finished")
        p50 = statistics.median(r["op_s"] for r in done)
        return {"setup_s": self.setup_s, "op_s.p50": p50,
                "rows_per_s": self.source_rows / p50,
                "out_bytes": statistics.median(r["out_bytes"] for r in done),
                "peak_rss_mb": self.peak_rss_mb()}

    def per_layer(self) -> dict:
        import layers

        tr = self.tracer
        tr.attach_counters()
        log("counters attached")
        traced = [r for r in self.ops if r["traced"] and r["ok"]]
        per_op = [layers.op_metrics(tr, self.w, r["i"], r["info"],
                                    self.source_rows, cores(), r["gc_s"])
                  for r in traced]
        metrics = layers.median_metrics(per_op)
        metrics.update(self.probes)
        if self.restore_probe is not None:
            pid, pinfo = self.restore_probe
            pm = layers.op_metrics(tr, self.WL.WORKLOADS["restore-sql"], pid,
                                   pinfo, self.source_rows, cores(), 0.0)
            for k, v in pm.items():
                if k.startswith("sinks.sqldump_sink.") or k == \
                        "sinks.datastore.restore_s":
                    metrics[k] = v
            metrics["sinks.datastore.restore_probe_s"] = pinfo[
                "sinks.datastore.restore_probe_s"]
        metrics["session.start_s"] = self.session_s
        untraced = [r["op_s"] for r in self.ops
                    if r["ok"] and not r["traced"]]
        traced_p50 = statistics.median(r["op_s"] for r in traced)
        metrics["trace.overhead_s"] = traced_p50 - statistics.median(untraced)
        os.makedirs(os.path.join(HERE, "traces"), exist_ok=True)
        path = os.path.join(HERE, "traces", f"{self.w.name}-seed"
                            f"{self.args.seed}.json")
        tr.dump(path, {
            "workload": self.w.name, "seed": self.args.seed,
            "sf": self.args.sf, "cores": cores(),
            "source_rows": self.source_rows,
            "metrics": metrics, "per_op": per_op, "probes": self.probes,
            "exact_counts": layers.exact_repeats(per_op),
            "per_table": {r["i"]: r["info"].get("per_table", {})
                          for r in traced},
            "op_s": {"traced": [r["op_s"] for r in traced],
                     "untraced": untraced},
        })
        log(f"trace written to {os.path.relpath(path, ROOT)}")
        return metrics


def report(bench: Bench, metrics: dict, units: dict) -> dict:
    ops = bench.ops
    failed = sum(1 for r in ops if not r["ok"])
    untraced = sorted(r["op_s"] for r in ops
                      if "out_bytes" in r and not r["traced"])
    print(f"workload {bench.w.name}  seed {bench.args.seed}  sf "
          f"{bench.args.sf}  cores {cores()}  source_rows "
          f"{bench.source_rows}")
    for k, v in metrics.items():
        print(f"  {k:40s} {v:16.6f} {units[k]}")
    print(f"  {'failed_ratio':40s} {failed / len(ops):16.6f} ratio "
          f"({failed}/{len(ops)})")
    n = len(untraced)
    k = n - 11  # highest sample with at least 10 samples above it
    if n and k >= n // 2:
        print(f"  {'op_s.tail':40s} {untraced[k]:16.6f} s "
              f"(p{100 * (k + 1) / n:.0f} of {n})")
    else:
        print(f"  op_s.tail: {n} samples support no percentile above the "
              f"median with 10 samples beyond it")
    return {"correct": failed == 0 and bench.warmup_ok,
            "attempted": len(ops), "failed": failed,
            "metrics": {k: {"value": v, "unit": units[k]}
                        for k, v in metrics.items()}}


def main(argv=None) -> int:
    args = parse_args(argv)
    if not os.path.isfile(os.path.join(ROOT, "replibyte_spark",
                                       "__init__.py")):
        log(f"replibyte_spark not found under {ROOT}: run from a checkout "
            "of the repository")
        return 2
    work = os.path.join(HERE, "work", f"{args.workload}-{args.seed}-"
                        f"{os.getpid()}")
    prepare_env(work)
    bench = None
    try:
        bench = Bench(args, work)
        bench.setup()
        bench.measure(traced=bool(args.trace))
        if args.trace:
            import layers

            result = report(bench, bench.per_layer(), layers.PER_LAYER)
        else:
            result = report(bench, bench.end_to_end(), END_TO_END)
    finally:
        if bench is not None and getattr(bench, "spark", None) is not None:
            stop_spark(bench.spark)
        shutil.rmtree(work, ignore_errors=True)
        parent = os.path.dirname(work)
        if os.path.isdir(parent) and not os.listdir(parent):
            os.rmdir(parent)
    log("done")
    print(json.dumps(result), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
