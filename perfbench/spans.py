"""Spans and Spark task counters for the traced run.

A span records name, start, end, parent span and op id.  Each span runs
its calls under its own Spark job group, so the jobs it launched, and
their stages' task metrics, attach to it afterwards from the application
status store.  Spans stay in memory until `Tracer.dump` writes them out.

Subset and transformers build lazy plans: their work executes inside the
datastore's write jobs.  `table_executions` splits a span's jobs per
output table using the SQL status store, whose physical plan text names
the path each execution writes.
"""

from __future__ import annotations

import json
import time
from contextlib import contextmanager

STAGE_FIELDS = {
    "input_records": "inputRecords", "input_bytes": "inputBytes",
    "output_records": "outputRecords", "output_bytes": "outputBytes",
    "shuffle_read_bytes": "shuffleReadBytes",
    "shuffle_write_bytes": "shuffleWriteBytes",
    "memory_spill_bytes": "memoryBytesSpilled",
    "disk_spill_bytes": "diskBytesSpilled",
}


class Tracer:
    def __init__(self, spark):
        self.spark = spark
        self.sc = spark.sparkContext
        self.jvm = spark._jvm
        self.t0 = time.perf_counter()
        self.spans: list[dict] = []
        self._stack: list[int] = []
        self.op_id: int | None = None
        self._stage_cache: dict[int, dict | None] = {}
        self._jobs: dict[int, object] = {}
        self._exec_cache: list | None = None

    # -- spans -------------------------------------------------------------

    @contextmanager
    def span(self, name: str, **attrs):
        sid = len(self.spans)
        rec = {"id": sid, "name": name, "op": self.op_id,
               "parent": self._stack[-1] if self._stack else None,
               "group": f"perfbench-span-{sid}", **attrs}
        self.spans.append(rec)
        prev = self.sc.getLocalProperty("spark.jobGroup.id")
        prev_desc = self.sc.getLocalProperty("spark.job.description")
        self.sc.setJobGroup(rec["group"], name)
        self._stack.append(sid)
        rec["start"] = time.perf_counter() - self.t0
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter() - self.t0
            self._stack.pop()
            self.sc.setLocalProperty("spark.jobGroup.id", prev)
            self.sc.setLocalProperty("spark.job.description", prev_desc)

    @contextmanager
    def op(self, op_id: int, name: str):
        self.op_id = op_id
        try:
            with self.span(name) as rec:
                yield rec
        finally:
            self.op_id = None

    def op_spans(self, op_id: int) -> list[dict]:
        return [s for s in self.spans if s["op"] == op_id]

    @staticmethod
    def duration(s: dict) -> float:
        return s["end"] - s["start"]

    def self_time(self, s: dict) -> float:
        """Span duration minus the part its direct children cover
        (children of one span never overlap: one op is in flight)."""
        kids = [c for c in self.spans if c["parent"] == s["id"]]
        return self.duration(s) - sum(self.duration(c) for c in kids)

    # -- counters from the status stores ----------------------------------

    def _seq(self, seq) -> list:
        return list(self.jvm.scala.jdk.javaapi.CollectionConverters
                    .asJava(seq))

    def attach_counters(self) -> None:
        """Fill every span's `counters` from its job group's jobs and
        stages.  Waits for the listener bus so all task ends are in."""
        jsc = self.sc._jsc.sc()
        jsc.listenerBus().waitUntilEmpty()
        store = jsc.statusStore()
        by_group: dict[str, list] = {}
        for j in self._seq(store.jobsList(None)):
            self._jobs[int(j.jobId())] = j
            g = j.jobGroup()
            if g.isDefined() and g.get().startswith("perfbench-span-"):
                by_group.setdefault(g.get(), []).append(j)
        for s in self.spans:
            if "counters" in s:
                continue
            jobs = by_group.get(s["group"], [])
            c = {"jobs": len(jobs), "tasks": 0, "stages": 0,
                 "executor_run_s": 0.0, "executor_cpu_s": 0.0,
                 "gc_s": 0.0, **{k: 0 for k in STAGE_FIELDS}}
            s["job_ids"] = sorted(int(j.jobId()) for j in jobs)
            for j in jobs:
                for st in self._stages(store, j):
                    c["stages"] += 1
                    for k, v in st.items():
                        c[k] += v
            s["counters"] = c

    def _stages(self, store, job) -> list[dict]:
        """Counters of a job's completed stages (skipped stages reused
        earlier output and ran no tasks), each read once per run."""
        out = []
        for sid in self._seq(job.stageIds()):
            if sid in self._stage_cache:
                st = self._stage_cache[sid]
            else:
                data = store.lastStageAttempt(sid)
                st = None
                if str(data.status()) == "COMPLETE":
                    st = {"tasks": int(data.numCompleteTasks()),
                          "executor_run_s": data.executorRunTime() / 1e3,
                          "executor_cpu_s": data.executorCpuTime() / 1e9,
                          "gc_s": data.jvmGcTime() / 1e3,
                          **{k: int(getattr(data, m)())
                             for k, m in STAGE_FIELDS.items()}}
                self._stage_cache[sid] = st
            if st:
                out.append(st)
        return out

    def table_executions(self, span: dict, paths: dict[str, str]) -> dict:
        """Per output table: SQL executions of `span`'s jobs whose plan
        writes under that table's path, with their wall time and stage
        counters.  `paths` maps table -> output directory."""
        store = self.sc._jsc.sc().statusStore()
        span_jobs = set(span.get("job_ids", []))
        out: dict[str, dict] = {}
        for e, jobs in self._executions():
            if not jobs or not jobs <= span_jobs:
                continue
            plan = e.physicalPlanDescription()
            table = next((t for t, p in paths.items()
                          if p + "," in plan or p + "]" in plan
                          or p + " " in plan or p + "\n" in plan), None)
            if table is None:
                continue
            rec = out.setdefault(table, {"executions": 0, "wall_s": 0.0,
                                         "jobs": 0, "executor_run_s": 0.0,
                                         "input_records": 0,
                                         "output_records": 0})
            rec["executions"] += 1
            done = e.completionTime()
            if done.isDefined():
                rec["wall_s"] += (done.get().getTime()
                                  - e.submissionTime()) / 1e3
            rec["jobs"] += len(jobs)
            for jid in jobs:
                for st in self._stages(store, self._jobs[jid]):
                    for k in ("executor_run_s", "input_records",
                              "output_records"):
                        rec[k] += st[k]
        return out

    def _executions(self) -> list:
        """(execution, job ids) of every SQL execution, read once."""
        if self._exec_cache is None:
            sql = self.spark._jsparkSession.sharedState().statusStore()
            conv = self.jvm.scala.jdk.javaapi.CollectionConverters
            self._exec_cache = [
                (e, {int(k) for k in conv.asJava(e.jobs()).keySet()})
                for e in self._seq(sql.executionsList())]
        return self._exec_cache

    def gc_seconds(self) -> float:
        """Total collection time of the driver JVM's collectors (local
        mode: the executor runs in the same JVM)."""
        beans = (self.jvm.java.lang.management.ManagementFactory
                 .getGarbageCollectorMXBeans())
        return sum(b.getCollectionTime() for b in beans) / 1e3

    def dump(self, path: str, extra: dict) -> None:
        with open(path, "w") as f:
            json.dump({"spans": self.spans, **extra}, f, indent=1,
                      sort_keys=True, default=str)
