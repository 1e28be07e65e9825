"""Tracing for the per-layer run: spans around calls into the program,
Spark jobs tagged with the span that launched them, and the Spark event
log joined back to those spans.

Spans live in memory and are written once, at the end of the run. With
tracing off, ``Tracer.span`` records nothing and sets no job group.
"""

from __future__ import annotations

import functools
import glob
import json
import os
import sys
import threading
import time
from collections import defaultdict
from contextlib import contextmanager

PACKAGE = "big_data_analytics_final_project_spark"
JOB_GROUP = "spark.jobGroup.id"


class Tracer:
    def __init__(self, enabled: bool) -> None:
        self.enabled = enabled
        self.spans: list[dict] = []
        self.sc = None
        self._lock = threading.Lock()
        self._local = threading.local()
        self._next = 0

    def _stack(self) -> list[dict]:
        if not hasattr(self._local, "stack"):
            self._local.stack = []
        return self._local.stack

    @contextmanager
    def span(self, name: str, op: str | None = None):
        """Record ``name`` (``layer.call``) around the block, as a child of
        this thread's enclosing span; ``op`` names the operation."""
        if not self.enabled:
            yield None
            return
        stack = self._stack()
        with self._lock:
            sid = self._next
            self._next += 1
        enclosing = stack[-1] if stack else None
        rec = {
            "id": sid, "name": name, "parent": enclosing["id"] if enclosing else None,
            "op": op or (enclosing["op"] if enclosing else name),
            "thread": threading.current_thread().name,
            "start": time.time(), "end": None,
        }
        stack.append(rec)
        # The job group is a thread-local property; streaming callbacks run
        # on the query's own thread, whose group is restored afterwards.
        prev = None
        if self.sc is not None:
            prev = self.sc.getLocalProperty(JOB_GROUP)
            self.sc.setLocalProperty(JOB_GROUP, str(sid))
        try:
            yield rec
        finally:
            rec["end"] = time.time()
            stack.pop()
            if self.sc is not None:
                self.sc.setLocalProperty(JOB_GROUP, prev)
            with self._lock:
                self.spans.append(rec)

    def wrap(self, name: str, fn, op_of=None):
        @functools.wraps(fn)
        def traced(*args, **kwargs):
            with self.span(name, op=op_of(*args, **kwargs) if op_of else None):
                return fn(*args, **kwargs)

        return traced

    def patch(self, fn, name: str, op_of=None) -> None:
        """Route every module-level reference to ``fn`` inside the program
        through a span: the program imports helpers by name, so each
        importing module holds its own reference."""
        wrapped = self.wrap(name, fn, op_of)
        for mod_name, mod in list(sys.modules.items()):
            if mod is None or not mod_name.startswith(PACKAGE):
                continue
            for attr, val in list(vars(mod).items()):
                if val is fn:
                    setattr(mod, attr, wrapped)

    def write(self, path: str, extra: dict) -> None:
        with open(path, "w") as f:
            json.dump({"spans": sorted(self.spans, key=lambda s: s["id"]), **extra}, f)


def instrument_program(tracer: Tracer) -> None:
    """Spans around the program's own inner calls: zone loads made inside
    query builders and the zone fold/upsert inside streaming callbacks."""
    from big_data_analytics_final_project_spark import sinks, sources
    from big_data_analytics_final_project_spark.queries import all_queries
    from big_data_analytics_final_project_spark.streaming import (  # noqa: F401
        fold, profile, quantiles, rollup,
    )

    all_queries()  # imports every query module, so their references exist
    tracer.patch(sources.load_table, "sources.load_table")
    tracer.patch(sinks.upsert_zone, "sinks.upsert_zone")
    # One operation per (monitor zone, batch): the fold's third argument
    # is the zone path, its second the batch id.
    tracer.patch(
        fold.retry_guarded_fold, "streaming.fold",
        op_of=lambda partial, batch_id, zone, *a, **k: f"fold:{os.path.basename(zone)}:{batch_id}",
    )


class Codegen:
    """Generated-code compiles (``CodegenMetrics``) and their summed time
    (``CodeGenerator.compileTime``, ns), both cumulative in the JVM."""

    def __init__(self, spark) -> None:
        jvm = spark.sparkContext._jvm
        self._count = jvm.org.apache.spark.metrics.source.CodegenMetrics
        self._gen = jvm.org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator

    def read(self) -> tuple[int, float]:
        """(compiles, compile ms) so far."""
        return (int(self._count.METRIC_COMPILATION_TIME().getCount()),
                self._gen.compileTime() / 1e6)


def jvm_peak_rss_mb(spark) -> float:
    """Peak resident set (VmHWM) of the driver JVM, in MB."""
    pid = spark.sparkContext._jvm.java.lang.ProcessHandle.current().pid()
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    raise RuntimeError("VmHWM missing from /proc status")


# ------------------------------------------------------------- event log

# (operator, SQL metric) -> our name; the timings are in ms.
_OPERATOR_METRICS = {
    ("MapInPandas", "time to start Python workers"): "python_start_ms",
    ("MapInPandas", "time to initialize Python workers"): "python_init_ms",
    ("MapInPandas", "time to run Python workers"): "python_run_ms",
    ("MapInPandas", "number of output rows"): "python_rows",
}


def _walk_plan(info: dict, out: dict[int, tuple[str, str]]) -> None:
    for m in info.get("metrics", []):
        out[int(m["accumulatorId"])] = (info.get("nodeName", ""), m["name"])
    for child in info.get("children", []):
        _walk_plan(child, out)


def read_event_log(log_dir: str) -> list[dict]:
    """Events of the run's single application. Spark 4 rolls the log into
    ``eventlog_v2_<app>/events_<n>_<app>`` files."""
    files = [p for p in glob.glob(os.path.join(log_dir, "**", "*"), recursive=True)
             if os.path.isfile(p) and not os.path.basename(p).startswith(("appstatus", "."))]
    if not files:
        raise RuntimeError(f"no event log under {log_dir}")

    def order(p: str):
        parts = os.path.basename(p).split("_")
        return int(parts[1]) if len(parts) > 2 and parts[1].isdigit() else 0

    out = []
    for p in sorted(files, key=order):
        with open(p) as f:
            out.extend(json.loads(line) for line in f if line.strip())
    return out


def spark_by_group(events: list[dict]) -> dict[str, dict]:
    """Job group id -> summed job, stage, task and SQL-operator metrics.

    Jobs without our group (broadcast exchanges set their own) are
    credited to the group that owns their SQL execution.
    """
    job_group: dict[int, str | None] = {}
    job_exec: dict[int, str | None] = {}
    job_stages: dict[int, list[int]] = {}
    for e in events:
        if e["Event"] == "SparkListenerJobStart":
            props = e.get("Properties") or {}
            jid = e["Job ID"]
            job_group[jid] = props.get("spark.jobGroup.id")
            job_exec[jid] = props.get("spark.sql.execution.id")
            job_stages[jid] = list(e.get("Stage IDs", []))
    exec_group: dict[str, str] = {}
    for jid, grp in sorted(job_group.items()):
        ex = job_exec[jid]
        if grp is not None and grp.isdigit() and ex is not None:
            exec_group.setdefault(ex, grp)
    for jid, grp in list(job_group.items()):
        if (grp is None or not grp.isdigit()) and job_exec[jid] in exec_group:
            job_group[jid] = exec_group[job_exec[jid]]
    stage_group: dict[int, str] = {}
    for jid, stages in job_stages.items():
        grp = job_group[jid]
        if grp is not None and grp.isdigit():
            for s in stages:
                stage_group.setdefault(s, grp)

    acc_meta: dict[int, tuple[str, str]] = {}
    for e in events:
        if e["Event"].endswith("SQLExecutionStart") or e["Event"].endswith(
            "SQLAdaptiveExecutionUpdate"
        ):
            _walk_plan(e.get("sparkPlanInfo", {}), acc_meta)
    exec_of_acc_update: list[tuple[str, int, float]] = []
    for e in events:
        if e["Event"].endswith("DriverAccumUpdates"):
            for acc_id, value in e.get("accumUpdates", []):
                exec_of_acc_update.append((str(e["executionId"]), int(acc_id), float(value)))

    out: dict[str, dict] = defaultdict(lambda: defaultdict(float))
    for jid, grp in job_group.items():
        if grp is not None and grp.isdigit():
            out[grp]["jobs"] += 1
    checkpoint_rdds: dict[str, set] = defaultdict(set)
    for e in events:
        ev = e["Event"]
        if ev == "SparkListenerStageCompleted":
            info = e["Stage Info"]
            grp = stage_group.get(info["Stage ID"])
            if grp is None:
                continue
            out[grp]["stages"] += 1
            for rdd in info.get("RDD Info", []):
                site = rdd.get("Callsite", "")
                if "checkpoint" in site.lower().split(" at ")[0]:
                    checkpoint_rdds[grp].add(rdd["RDD ID"])
        elif ev == "SparkListenerTaskEnd":
            grp = stage_group.get(e["Stage ID"])
            tm = e.get("Task Metrics")
            if grp is None or not tm:
                continue
            m = out[grp]
            m["tasks"] += 1
            m["task_run_s"] += tm.get("Executor Run Time", 0) / 1e3
            m["task_cpu_s"] += tm.get("Executor CPU Time", 0) / 1e9
            m["gc_s"] += tm.get("JVM GC Time", 0) / 1e3
            m["spill_bytes"] += tm.get("Memory Bytes Spilled", 0) + tm.get("Disk Bytes Spilled", 0)
            sw = tm.get("Shuffle Write Metrics", {})
            m["shuffle_write_bytes"] += sw.get("Shuffle Bytes Written", 0)
            sr = tm.get("Shuffle Read Metrics", {})
            m["shuffle_fetch_wait_s"] += sr.get("Fetch Wait Time", 0) / 1e3
            im = tm.get("Input Metrics", {})
            m["input_bytes"] += im.get("Bytes Read", 0)
            m["input_records"] += im.get("Records Read", 0)
            for acc in (e.get("Task Info") or {}).get("Accumulables", []):
                meta = acc_meta.get(int(acc["ID"]))
                if meta in _OPERATOR_METRICS and "Update" in acc:
                    m[_OPERATOR_METRICS[meta]] += float(acc["Update"])
    for ex, acc_id, value in exec_of_acc_update:
        meta = acc_meta.get(acc_id)
        grp = exec_group.get(ex)
        if grp is not None and meta and meta[0] == "BroadcastExchange" and meta[1] == "data size":
            out[grp]["broadcast_bytes"] += value
    for grp, rdds in checkpoint_rdds.items():
        out[grp]["checkpoints"] += len(rdds)
    return {k: dict(v) for k, v in out.items()}
