"""One benchmark run: inputs, set-up, timed passes, checks, metrics."""

from __future__ import annotations

import os
import subprocess
import time
from collections import defaultdict

from pyspark.sql.streaming import StreamingQueryListener

from . import check, inputs, stats, trace, workloads
from .workloads import Ctx

LAYERS = ("op", "queries", "sources", "sinks", "charts", "streaming")
FORCING = ("queries.exec", "sinks.write_report_csv")

END_TO_END = {"setup_s": "s", "pass_s": "s"}
# Per-layer metric -> unit, in report order. BENCHMARK.json lists the same
# names (selftest/test_manifest.py holds the two together).
PER_LAYER = {
    "session.start_s": "s", "session.warm_s": "s", "jvm.peak_rss_mb": "MB",
    "op.latency_p50_s": "s",
    "sources.load_table_calls": "count", "sources.load_table_s": "s",
    "sources.input_bytes": "bytes", "sources.input_records": "count",
    "queries.build_s": "s", "queries.build_jobs": "count",
    "queries.exec_s": "s", "queries.exec_jobs": "count",
    "spark.jobs": "count", "spark.stages": "count", "spark.tasks": "count",
    "spark.task_run_s": "s", "spark.task_cpu_s": "s", "spark.gc_s": "s",
    "spark.busy_frac": "ratio", "spark.shuffle_write_bytes": "bytes",
    "spark.shuffle_fetch_wait_s": "s", "spark.spill_bytes": "bytes",
    "spark.codegen_compiles": "count", "spark.codegen_compile_ms": "ms",
    "operators.python_start_ms": "ms", "operators.python_init_ms": "ms",
    "operators.python_run_ms": "ms", "operators.python_rows": "count",
    "operators.checkpoints": "count", "operators.broadcast_bytes": "bytes",
    "sinks.write_s": "s", "sinks.bytes_written": "bytes", "sinks.files_written": "count",
    "sinks.stored_bytes_per_input_byte": "ratio",
    "charts.render_s": "s",
    "streaming.batches": "count", "streaming.progress_events": "count",
    "streaming.trigger_p50_s": "s", "streaming.add_batch_s": "s",
    "streaming.jobs_per_batch": "count", "streaming.backlog_max_drops": "count",
    "loadgen.lag_max_s": "s",
    "trace.pass_s": "s", "trace.overhead_s": "s", "trace.residue_s": "s",
    "trace.spans": "count",
    **{f"self.{layer}_s": "s" for layer in LAYERS},
}


def _stop(spark) -> None:
    """Stop the session and wait for the JVM, which takes its Python
    workers with it."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None) if gateway is not None else None
    spark.stop()
    if gateway is not None:
        gateway.shutdown()
    if proc is not None:
        if proc.stdin is not None:
            proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait(timeout=30)


def run(args, work: str, conf: dict, work_root: str) -> dict:
    tracer = trace.Tracer(enabled=False)
    world = os.path.join(work, "data", "world")
    inputs.build_world(args.seed, world)
    stream = None
    if args.workload == "ingest_stream":
        n_timed = workloads.units(args.workload, args.seconds) + 1
        stream = workloads.Stream(args.seed, world, n_timed, work)

    t0 = time.perf_counter()
    from big_data_analytics_final_project_spark import get_session
    from big_data_analytics_final_project_spark.queries import all_queries

    spark = get_session(app_name="perfbench", extra_conf=conf)
    start_s = time.perf_counter() - t0
    try:
        specs = all_queries()
        if args.trace:
            trace.instrument_program(tracer)
            tracer.sc = spark.sparkContext
        ctx = Ctx(spark, specs, world, os.path.join(work, "out"), tracer)
        if stream is None:
            res = _run_batch(args, ctx)
        else:
            stream.ctx = ctx
            res = _run_stream(args, ctx, stream)
    finally:
        _stop(spark)
    res["start_s"] = start_s
    if args.trace:
        res["layers"], per_op = _layers(res, tracer, os.path.join(work, "eventlog"))
        os.makedirs(work_root, exist_ok=True)
        tracer.write(
            os.path.join(work_root, f"trace-{args.workload}-{args.seed}.json"),
            {"workload": args.workload, "seed": args.seed, "per_op": per_op,
             "metrics": res["layers"]},
        )
    return _report(args, res)


def _traced(ctx: Ctx, body) -> tuple[float, float, tuple[float, float]]:
    """Run ``body`` with tracing on: (wall start, wall end, codegen delta)."""
    codegen = trace.Codegen(ctx.spark)
    before = codegen.read()
    ctx.tracer.enabled = True
    t0 = time.time()
    try:
        body()
    finally:
        t1 = time.time()
        ctx.tracer.enabled = False
    after = codegen.read()
    return t0, t1, (after[0] - before[0], after[1] - before[1])


# ------------------------------------------------------------------ batch


def _run_batch(args, ctx: Ctx) -> dict:
    ops = workloads.batch_ops()
    names = [n for n, _ in ops]
    warm = workloads.run_batch_pass(ctx, ops, warm=True)
    passes = [
        workloads.run_batch_pass(ctx, ops, warm=False)
        for _ in range(workloads.units(args.workload, args.seconds))
    ]
    res = {
        "warm_s": warm.seconds, "warm_ops": warm.op_seconds, "passes": passes,
        "rss": trace.jvm_peak_rss_mb(ctx.spark),
        "pass_s": stats.median([p.seconds for p in passes]),
        "latencies": [s for p in passes for s in p.op_seconds.values()],
        "op_seconds": {n: stats.median([p.op_seconds[n] for p in passes]) for n in names},
    }
    measured = list(passes)
    if args.trace:
        box = []
        t0, t1, codegen = _traced(
            ctx, lambda: box.append(workloads.run_batch_pass(ctx, ops, warm=False))
        )
        measured.append(box[0])
        out_bytes, out_files = workloads.tree_bytes([ctx.out])
        in_bytes, _ = workloads.tree_bytes([ctx.world])
        res["traced"] = {
            "pass_s": box[0].seconds, "t0": t0, "t1": t1, "codegen": codegen,
            "untraced_pass_s": res["pass_s"],
            "bytes_written": out_bytes, "files_written": out_files,
            "stored_per_input": out_bytes / in_bytes,
        }
    oracle = check.Oracle(ctx.world)
    try:
        res["mismatches"], res["unchecked"] = workloads.check_batch(ctx, oracle)
    finally:
        oracle.close()
    res["attempted"] = len(names) * len(measured)
    res["failed"] = sum(
        sum(1 for n in names if n in p.failed or n in res["mismatches"]) for p in measured
    )
    res["errors"] = ctx.errors
    return res


# ----------------------------------------------------------------- stream


class _ProgressCounter(StreamingQueryListener):
    """Counts progress events that carried data (traced run)."""

    def __init__(self) -> None:
        self.count = 0

    def onQueryStarted(self, event) -> None:
        pass

    def onQueryProgress(self, event) -> None:
        if event.progress.numInputRows > 0:
            self.count += 1

    def onQueryIdle(self, event) -> None:
        pass

    def onQueryTerminated(self, event) -> None:
        pass


def _backlog(lat: dict, due: dict) -> int:
    """Most drops one monitor had landed but not yet folded, seen at any
    drop's due time."""
    worst = 0
    for per in lat.values():
        done = {k: due[k] + v for k, v in per.items()}
        for k in per:
            worst = max(worst, sum(1 for j in per if j <= k and done[j] > due[k]))
    return worst


def _stream_layer(stream, lat: dict, first: int) -> dict:
    batches = range(first, first + stream.n_timed)
    trig, add = [], 0.0
    for q in stream.queries.values():
        for p in q.recentProgress:
            if p["batchId"] in batches and p["numInputRows"] > 0:
                trig.append(p["durationMs"]["triggerExecution"] / 1e3)
                add += p["durationMs"].get("addBatch", 0) / 1e3
    return {
        "batches": len(trig), "trigger_p50_s": stats.median(trig) if trig else 0.0,
        "add_batch_s": add, "backlog_max_drops": _backlog(lat, stream.due),
    }


def _run_stream(args, ctx: Ctx, stream) -> dict:
    t = time.perf_counter()
    stream.start()
    stream.warm()
    warm_s = time.perf_counter() - t
    first = workloads.WARM_DROPS
    failed = [set()]  # failed score operations, per window
    w0, lat = stream.window(first)
    scores = stream.score(failed[0])
    res = {
        "warm_s": warm_s, "pass_s": time.time() - w0,
        "rss": trace.jvm_peak_rss_mb(ctx.spark),
        "latencies": [v for per in lat.values() for v in per.values()],
        "op_seconds": scores, "lag_max_s": max(stream.lag),
    }
    if args.trace:
        second = first + stream.n_timed
        n_lag = len(stream.lag)
        listener = _ProgressCounter()
        ctx.spark.streams.addListener(listener)
        failed.append(set())
        box = []

        def window():
            box.append(stream.window(second))
            stream.score(failed[1])

        _, t1, codegen = _traced(ctx, window)
        ctx.spark.streams.removeListener(listener)
        tw0, tlat = box[0]
        res["traced"] = {
            "pass_s": t1 - tw0, "t0": tw0, "t1": t1, "codegen": codegen,
            "untraced_pass_s": res["pass_s"],
            "stream": _stream_layer(stream, tlat, second),
            "progress_events": listener.count,
            "lag_max_s": max(stream.lag[n_lag:]),
        }
    stream.stop()
    zone_bytes, zone_files = stream.stored_bytes()
    if args.trace:
        res["traced"].update({
            "bytes_written": zone_bytes, "files_written": zone_files,
            "stored_per_input": zone_bytes / stream.dropped_bytes(),
        })
    res["mismatches"] = workloads.check_stream(ctx, stream)
    res["unchecked"] = []
    per_window = len(workloads.MONITORS) * stream.n_timed + len(scores)
    res["attempted"] = per_window * len(failed)
    res["failed"] = sum(len(f | set(res["mismatches"])) for f in failed)
    res["errors"] = ctx.errors
    return res


# ----------------------------------------------------------------- layers


def _layers(res: dict, tracer, log_dir: str) -> tuple[dict, dict]:
    """Per-layer metrics of the traced pass, and the same sums per operation."""
    spans = tracer.spans
    by_id = {s["id"]: s for s in spans}
    groups = trace.spark_by_group(trace.read_event_log(log_dir))

    def under(s, names) -> bool:
        while s is not None:
            if s["name"] in names:
                return True
            s = by_id.get(s["parent"])
        return False

    def dur(name_test) -> float:
        return sum(s["end"] - s["start"] for s in spans if name_test(s["name"]))

    def jobs(names) -> float:
        return sum(groups.get(str(s["id"]), {}).get("jobs", 0) for s in spans if under(s, names))

    total: dict[str, float] = defaultdict(float)
    per_op: dict[str, dict] = defaultdict(lambda: defaultdict(float))
    for s in spans:
        for k, v in groups.get(str(s["id"]), {}).items():
            total[k] += v
            per_op[s["op"]][k] += v
        if s["parent"] is None:
            per_op[s["op"]]["wall_s"] += s["end"] - s["start"]
    tr = res["traced"]
    roots = [(max(s["start"], tr["t0"]), min(s["end"], tr["t1"]))
             for s in spans if s["parent"] is None]
    own = stats.layer_self_times(spans)
    st = tr.get("stream", {})
    layers = {
        "session.start_s": res["start_s"],
        "session.warm_s": res["warm_s"],
        "jvm.peak_rss_mb": res["rss"],
        "op.latency_p50_s": stats.median(res["latencies"]),
        "sources.load_table_calls": sum(1 for s in spans if s["name"] == "sources.load_table"),
        "sources.load_table_s": dur(lambda n: n == "sources.load_table"),
        "sources.input_bytes": total["input_bytes"],
        "sources.input_records": total["input_records"],
        "queries.build_s": dur(lambda n: n == "queries.build"),
        "queries.build_jobs": jobs({"queries.build"}),
        "queries.exec_s": dur(lambda n: n in FORCING),
        "queries.exec_jobs": jobs(set(FORCING)),
        "spark.jobs": total["jobs"],
        "spark.stages": total["stages"],
        "spark.tasks": total["tasks"],
        "spark.task_run_s": total["task_run_s"],
        "spark.task_cpu_s": total["task_cpu_s"],
        "spark.gc_s": total["gc_s"],
        "spark.busy_frac": total["task_run_s"] / (tr["pass_s"] * len(os.sched_getaffinity(0))),
        "spark.shuffle_write_bytes": total["shuffle_write_bytes"],
        "spark.shuffle_fetch_wait_s": total["shuffle_fetch_wait_s"],
        "spark.spill_bytes": total["spill_bytes"],
        "spark.codegen_compiles": tr["codegen"][0],
        "spark.codegen_compile_ms": tr["codegen"][1],
        "operators.python_start_ms": total["python_start_ms"],
        "operators.python_init_ms": total["python_init_ms"],
        "operators.python_run_ms": total["python_run_ms"],
        "operators.python_rows": total["python_rows"],
        "operators.checkpoints": total["checkpoints"],
        "operators.broadcast_bytes": total["broadcast_bytes"],
        "sinks.write_s": dur(lambda n: n.startswith("sinks.")),
        "sinks.bytes_written": tr["bytes_written"],
        "sinks.files_written": tr["files_written"],
        "sinks.stored_bytes_per_input_byte": tr["stored_per_input"],
        "charts.render_s": dur(lambda n: n.startswith("charts.")),
        "streaming.batches": st.get("batches", 0),
        "streaming.progress_events": tr.get("progress_events", 0),
        "streaming.trigger_p50_s": st.get("trigger_p50_s", 0.0),
        "streaming.add_batch_s": st.get("add_batch_s", 0.0),
        "streaming.jobs_per_batch":
            jobs({"streaming.fold"}) / st["batches"] if st.get("batches") else 0.0,
        "streaming.backlog_max_drops": st.get("backlog_max_drops", 0),
        "loadgen.lag_max_s": tr.get("lag_max_s", 0.0),
        "trace.pass_s": tr["pass_s"],
        "trace.overhead_s": tr["pass_s"] - tr["untraced_pass_s"],
        "trace.residue_s": tr["pass_s"] - stats.covered([r for r in roots if r[1] > r[0]]),
        "trace.spans": len(spans),
        **{f"self.{layer}_s": own.get(layer, 0.0) for layer in LAYERS},
    }
    return layers, {k: dict(v) for k, v in per_op.items()}


# ----------------------------------------------------------------- report


def _report(args, res: dict) -> dict:
    lat = res["latencies"]
    print(f"workload={args.workload} seed={args.seed} cpus={len(os.sched_getaffinity(0))}")
    print(f"  session start: {res['start_s']:.3f} s, warm: {res['warm_s']:.3f} s")
    if "passes" in res:
        print(f"  timed passes (s): {' '.join(f'{p.seconds:.3f}' for p in res['passes'])}")
    for name, secs in res["op_seconds"].items():
        warm = res.get("warm_ops", {}).get(name)
        print(f"  op {name}: {secs:.3f} s" + (f" (warm pass {warm:.3f} s)" if warm else ""))
    print(f"  op latency p50: {stats.median(lat):.3f} s over {len(lat)} samples; "
          f"p90 supported: {stats.supported(len(lat), 0.9)}")
    if "lag_max_s" in res:
        print(f"  drop latencies (s): {' '.join(f'{v:.2f}' for v in lat)}")
        print(f"  loadgen lag max: {res['lag_max_s']:.4f} s")
    for op, err in sorted(res["errors"].items()):
        print(f"  FAILED {op}: {err.strip().splitlines()[-1]}")
    for op, err in sorted(res["mismatches"].items()):
        print(f"  MISMATCH {op}: {err}")
    for op in res["unchecked"]:
        print(f"  UNCHECKED {op}: no oracle")
    print(f"  ops_failed_frac: {res['failed'] / res['attempted']} "
          f"({res['failed']}/{res['attempted']})")
    if args.trace:
        metrics = {k: {"value": float(res["layers"][k]), "unit": u} for k, u in PER_LAYER.items()}
    else:
        values = {"setup_s": res["start_s"] + res["warm_s"], "pass_s": res["pass_s"]}
        metrics = {k: {"value": values[k], "unit": u} for k, u in END_TO_END.items()}
    return {
        "correct": res["failed"] == 0,
        "attempted": res["attempted"],
        "failed": res["failed"],
        "metrics": metrics,
    }
