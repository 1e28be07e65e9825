"""The workloads: what one pass does, how its outputs are checked.

Operation lists are fixed here, not imported from ``bench.py`` or
``scripts/run_reports.py``, so an edit there cannot change what is
measured. Every call into the program sits inside a span named
``layer.call``; spans record only in the traced run.
"""

from __future__ import annotations

import os
import time
import traceback
import xml.etree.ElementTree as ET
from dataclasses import dataclass, field

from . import check, inputs

WORKLOADS = ("batch", "ingest_stream")

# ------------------------------------------------------------------- batch
# One batch pass runs the reports, then the curation queries.
#
# Reports: the scripts/run_reports.py artifact set (reference EP-1 + EP-3,
# with the EP-2/EP-4 charts), in its order: five CSVs, four SVG charts and
# the integrated summary. Each CSV or chart re-runs its query, as the
# script does.
REPORT_CSVS = (
    ("revenue_by_group", "revenue_by_brand"),
    ("top_spenders", "top_spenders"),
    ("product_pairs", "also_bought_pairs"),
    ("user_engagement", "user_engagement"),
    ("engagement_vs_spend", "engagement_vs_spend"),
)

# Curation, forced with the noop sink: MinHash dedup (eager checkpoints
# inside the builder), BPE training (driver loop; the one query with no
# oracle) and WAV decode (Arrow mapInPandas over synthesized payloads).
# They run in the same pass as the reports rather than as a workload of
# their own: alone, their pass time spread 0.25 of its median over eight
# seeds, its whole bound.
CURATION_QUERIES = (
    "dedup_minhash_lsh",
    "corpus_bpe_merges",
    "media_wav_rms",
)

# ----------------------------------------------------------- ingest_stream
MONITORS = ("rollup", "histograms", "profile")
HIST_LO, HIST_HI, HIST_BINS = 0.0, 500.0, 64
QUANTILES = [0.5, 0.95]
PROFILE_COLS = ["event_id", "ts", "user_id", "event_type", "value"]
WARM_DROPS = 2          # the second drop runs the fold's merge path once
# Above the 7.5-8 s one drop takes to fold through all three monitors on
# 4 cores (at a 6 s interval the backlog grew by ~1.5 s a drop).
DROP_INTERVAL_S = 8.0


# --seconds buys one timed pass (batch) or one more timed drop (stream)
# per this many seconds. A count fixed by --seconds keeps every run of a
# workload the same size.
UNIT_S = {"batch": 16.0, "ingest_stream": 8.0}


def units(workload: str, seconds: float) -> int:
    return max(1, int(seconds // UNIT_S[workload]))


@dataclass
class Ctx:
    spark: object
    specs: dict
    world: str
    out: str
    tracer: object
    results: dict = field(default_factory=dict)   # op -> what to check
    errors: dict = field(default_factory=dict)    # op -> first error text


@dataclass
class PassResult:
    seconds: float
    op_seconds: dict            # op -> wall seconds
    failed: set                 # ops that raised


def _timed_op(ctx: Ctx, name: str, body, failed: set) -> float:
    t0 = time.perf_counter()
    try:
        with ctx.tracer.span(f"op.{name}", op=name):
            body()
    except Exception:  # noqa: BLE001 — one failing operation must not end the pass
        ctx.errors.setdefault(name, traceback.format_exc(limit=3))
        failed.add(name)
    return time.perf_counter() - t0


# ------------------------------------------------------------- batch ops


def _build(ctx: Ctx, query: str):
    with ctx.tracer.span("queries.build"):
        return ctx.specs[query].fn(ctx.spark, ctx.world)


def _query_op(ctx: Ctx, query: str, warm: bool) -> None:
    df = _build(ctx, query)
    with ctx.tracer.span("queries.exec"):
        if warm:
            ctx.results[query] = ("rows", query, check.collected(df, df.collect()))
        else:
            df.write.format("noop").mode("overwrite").save()


def _csv_op(ctx: Ctx, report: str, query: str) -> None:
    from big_data_analytics_final_project_spark.sinks import write_report_csv

    df = _build(ctx, query)
    path = os.path.join(ctx.out, report)
    with ctx.tracer.span("sinks.write_report_csv"):
        write_report_csv(df, path)
    ctx.results[f"csv:{report}"] = ("csv", query, (df.schema, path))


def _pairs(rows):
    return [{"pair": f"{r['product_x']} + {r['product_y']}",
             "co_purchase_count": r["co_purchase_count"]} for r in rows]


# The run_reports.py charts: file name, query, row limit, row filter, and
# the render call on the collected rows.
CHARTS = (
    ("01_revenue_by_group_top10", "revenue_by_brand", 10, None,
     lambda ch, rows: ch.bar_chart_svg(
         rows, "p_brand", "revenue", "Top 10 Brands by Revenue", max_label_len=20)),
    ("02_top_spenders_top10", "top_spenders", None, None,
     lambda ch, rows: ch.bar_chart_svg(
         rows, "o_custkey", "total_spent", "Top 10 Customers by Total Spent")),
    ("03_also_bought_pairs_top10", "also_bought_pairs", 10, None,
     lambda ch, rows: ch.bar_chart_svg(
         _pairs(rows), "pair", "co_purchase_count",
         "Top 10 Products Bought Together (Pairs)", max_label_len=22)),
    ("04_engagement_vs_spend", "engagement_vs_spend", None, "total_spent > 0",
     lambda ch, rows: ch.scatter_chart_svg(
         rows, "sessions_count", "total_spent", "User Engagement vs Spending",
         x_label="Number of Sessions (Engagement)", y_label="Total Spent")),
)


def _chart_op(ctx: Ctx, name: str, query: str, limit, where, render) -> None:
    from big_data_analytics_final_project_spark import charts

    df = _build(ctx, query)
    if limit:
        df = df.limit(limit)
    if where:
        df = df.filter(where)
    with ctx.tracer.span("queries.exec"):
        rows = df.collect()
    path = os.path.join(ctx.out, name + ".svg")
    with ctx.tracer.span("charts.render"):
        charts.save_chart(render(charts, rows), path)
    ctx.results[f"chart:{name}"] = ("chart", query, (check.collected(df, rows), limit, where, path))


def _summary_op(ctx: Ctx) -> None:
    from big_data_analytics_final_project_spark.sinks import write_summary_txt

    corr_df = _build(ctx, "engagement_spend_correlation")
    with ctx.tracer.span("queries.exec"):
        corr_rows = corr_df.collect()
    seg_df = _build(ctx, "segment_counts")
    with ctx.tracer.span("queries.exec"):
        segments = seg_df.collect()
    corr = corr_rows[0]
    lines: dict[str, object] = {
        "corr_total_spent_vs_sessions_count": corr["corr_spent_sessions"],
        "corr_total_spent_vs_total_duration": corr["corr_spent_duration"],
    }
    for row in segments:
        lines[f"segment_count[{row['segment']}]"] = row["n_users"]
    path = os.path.join(ctx.out, "integrated_summary.txt")
    with ctx.tracer.span("sinks.write_summary_txt"):
        write_summary_txt(lines, path)
    ctx.results["summary:corr"] = (
        "rows", "engagement_spend_correlation", check.collected(corr_df, corr_rows)
    )
    ctx.results["summary:segments"] = (
        "rows", "segment_counts", check.collected(seg_df, segments)
    )
    ctx.results["summary:file"] = ("file", None, (path, len(lines)))


def batch_ops() -> list[tuple[str, object]]:
    """(op name, body(ctx, warm)) for one batch pass."""
    ops = [(f"csv:{r}", lambda c, w, r=r, q=q: _csv_op(c, r, q)) for r, q in REPORT_CSVS]
    ops += [(f"chart:{spec[0]}", lambda c, w, spec=spec: _chart_op(c, *spec))
            for spec in CHARTS]
    ops.append(("summary", lambda c, w: _summary_op(c)))
    ops += [(q, lambda c, w, q=q: _query_op(c, q, w)) for q in CURATION_QUERIES]
    return ops


def run_batch_pass(ctx: Ctx, ops, warm: bool) -> PassResult:
    failed: set = set()
    per: dict[str, float] = {}
    t0 = time.perf_counter()
    for name, body in ops:
        per[name] = _timed_op(ctx, name, lambda b=body: b(ctx, warm), failed)
    seconds = time.perf_counter() - t0
    return PassResult(seconds, per, failed)


def check_batch(ctx: Ctx, oracle: check.Oracle) -> tuple[dict, list]:
    """op -> error text for every mismatch; plus the unchecked ops."""
    mismatches: dict[str, str] = {}
    unchecked: list[str] = []
    for key, (kind, query, payload) in sorted(ctx.results.items()):
        op = key.split(":", 1)[0] if key.startswith("summary:") else key
        sql = ctx.specs[query].sql if query else None
        try:
            if kind == "file":
                path, n_lines = payload
                with open(path) as f:
                    assert len(f.read().splitlines()) == n_lines, "summary line count"
                continue
            if sql is None:
                unchecked.append(op)
                continue
            if kind == "rows":
                check.check_rows(payload, oracle.rel(sql))
            elif kind == "csv":
                schema, path = payload
                rows = check.read_report_csv(path, schema)
                check.check_rows(check.Collected([f.name for f in schema.fields], schema, rows),
                                 oracle.rel(sql))
            elif kind == "chart":
                result, limit, where, path = payload
                ET.parse(path)
                rel = oracle.rel(f"SELECT * FROM ({sql}) WHERE {where}" if where else sql)
                if limit:
                    check.check_subset(result.rows, result.columns, rel, limit)
                else:
                    check.check_rows(result, rel)
        except Exception as exc:  # noqa: BLE001 — report every mismatch
            mismatches[op] = f"{type(exc).__name__}: {exc}"[:300]
    return mismatches, unchecked


# ---------------------------------------------------------- ingest_stream


def _commit_times(query) -> dict[int, float]:
    """batch id -> wall time its trigger finished (epoch seconds)."""
    from datetime import datetime, timezone

    out = {}
    for p in query.recentProgress:
        if p["numInputRows"] == 0:
            continue
        start = datetime.strptime(p["timestamp"], "%Y-%m-%dT%H:%M:%S.%fZ")
        start = start.replace(tzinfo=timezone.utc).timestamp()
        out[p["batchId"]] = start + p["durationMs"]["triggerExecution"] / 1e3
    return out


class Stream:
    """The standing monitors over one file-drop directory."""

    def __init__(self, seed: int, world: str, n_timed: int, work: str) -> None:
        self.ctx: Ctx | None = None  # attached once the session exists
        self.src = os.path.join(work, "stream", "src")
        self.stage = os.path.join(work, "stream", "stage")
        self.root = os.path.join(work, "stream")
        os.makedirs(self.src)
        os.makedirs(self.stage)
        # Cut for two timed windows always, so drops have the same size
        # whether or not the traced window runs.
        self.n_timed = n_timed
        drops = inputs.stream_drops(seed, world, WARM_DROPS + 2 * n_timed)
        self.staged = []
        for k, table in enumerate(drops):
            path = os.path.join(self.stage, f"drop-{k:04d}.parquet")
            inputs.write_zone(table, path)
            self.staged.append(path)
        self.landed: list[int] = []
        self.due: dict[int, float] = {}
        self.lag: list[float] = []
        self.queries = {}

    def zone(self, m: str) -> str:
        return os.path.join(self.root, f"zone_{m}")

    def start(self) -> None:
        """Start every monitor (set-up, so never traced)."""
        from big_data_analytics_final_project_spark.streaming import read_event_stream

        for m in MONITORS:
            events = read_event_stream(self.ctx.spark, self.src)
            writer = _MONITOR_START[m](events, self.zone(m), os.path.join(self.root, f"ckpt_{m}"))
            self.queries[m] = writer.trigger(processingTime="0 seconds").queryName(m).start()

    def land(self, k: int, due: float) -> None:
        path = self.staged[k]
        # FileStreamSource orders files by modification time.
        os.utime(path, ns=(int(due * 1e9) + k, int(due * 1e9) + k))
        os.rename(path, os.path.join(self.src, os.path.basename(path)))
        self.lag.append(time.time() - due)
        self.landed.append(k)
        self.due[k] = due

    def drain(self) -> None:
        """Wait until every monitor has committed every landed drop."""
        for q in self.queries.values():
            q.processAllAvailable()

    def warm(self) -> None:
        now = time.time()
        for k in range(WARM_DROPS):
            self.land(k, now)
        self.drain()

    def window(self, first: int) -> tuple[float, dict]:
        """Land drops ``first .. first+n_timed-1`` on the fixed schedule and
        wait for every monitor to fold them. Returns the first due time and
        each monitor's drop -> latency. With one file per trigger, batch k
        of a monitor is drop k."""
        t0 = time.time() + 0.2
        for i in range(self.n_timed):
            due = t0 + i * DROP_INTERVAL_S
            while time.time() < due:
                time.sleep(min(0.005, max(0.0, due - time.time())))
            self.land(first + i, due)
        self.drain()
        lat = {}
        for m, q in self.queries.items():
            done = _commit_times(q)
            lat[m] = {k: done[k] - self.due[k] for k in range(first, first + self.n_timed)}
        return t0, lat

    def score(self, failed: set) -> dict[str, float]:
        """Score every monitor from its zone; each is one timed operation."""
        ctx = self.ctx

        def body(m):
            with ctx.tracer.span(f"streaming.score_{m}"):
                ctx.results[f"score:{m}"] = _MONITOR_SCORE[m](ctx.spark, self.zone(m)).collect()

        return {
            f"score:{m}": _timed_op(ctx, f"score:{m}", lambda m=m: body(m), failed)
            for m in MONITORS
        }

    def stop(self) -> None:
        for q in self.queries.values():
            q.stop()

    def stored_bytes(self) -> tuple[int, int]:
        return tree_bytes([self.zone(m) for m in MONITORS])

    def dropped_bytes(self) -> int:
        return sum(
            os.path.getsize(os.path.join(self.src, os.path.basename(self.staged[k])))
            for k in self.landed
        )


def check_stream(ctx: Ctx, stream: Stream) -> dict[str, str]:
    """Zones after the drain against their batch twins over the events that
    were dropped, as tests/test_streaming_*.py hold them."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from big_data_analytics_final_project_spark.sources import load_table

    twin_dir = os.path.join(os.path.dirname(ctx.world), "dropped")
    os.makedirs(twin_dir, exist_ok=True)
    dropped = pa.concat_tables(
        [pq.read_table(os.path.join(stream.src, os.path.basename(stream.staged[k])))
         for k in stream.landed]
    )
    inputs.write_zone(dropped, os.path.join(twin_dir, "events.parquet"))
    events = load_table(ctx.spark, twin_dir, "events")
    bad: dict[str, str] = {}
    for m in MONITORS:
        try:
            _MONITOR_CHECK[m](ctx.spark, events, twin_dir, stream.zone(m),
                              ctx.results[f"score:{m}"])
        except Exception as exc:  # noqa: BLE001 — report every mismatch
            bad[f"score:{m}"] = f"{type(exc).__name__}: {exc}"[:300]
    return bad


# --------------------------------------------------------------- monitors
# name -> how it starts, how it is scored, how its zone is checked.


def _start_rollup(events, zone, ckpt):
    from big_data_analytics_final_project_spark.streaming.rollup import maintain_hourly_rollup

    return maintain_hourly_rollup(events, zone, ckpt)


def _start_histograms(events, zone, ckpt):
    from big_data_analytics_final_project_spark.streaming.quantiles import (
        maintain_daily_histograms,
    )

    return maintain_daily_histograms(events, zone, ckpt, HIST_LO, HIST_HI, HIST_BINS)


def _start_profile(events, zone, ckpt):
    from big_data_analytics_final_project_spark.streaming.profile import maintain_profile

    return maintain_profile(events, zone, ckpt, PROFILE_COLS)


def _score_rollup(spark, zone):
    from big_data_analytics_final_project_spark.streaming.rollup import (
        read_hourly_rollup,
        score_hourly_anomalies,
    )

    return score_hourly_anomalies(read_hourly_rollup(spark, zone).select("hour", "n_events"))


def _score_histograms(spark, zone):
    from big_data_analytics_final_project_spark.streaming.quantiles import (
        read_daily_histograms,
        score_rolling_quantiles,
    )

    return score_rolling_quantiles(
        read_daily_histograms(spark, zone), QUANTILES, HIST_LO, HIST_HI, HIST_BINS
    )


def _score_profile(spark, zone):
    from big_data_analytics_final_project_spark.streaming.profile import read_profile

    return read_profile(spark, zone)


_HOURLY_COLS = ("hour", "n_events", "n_trail", "trail_mean", "z", "is_anomaly")


def _check_rollup(spark, events, twin_dir, zone, rows):
    from big_data_analytics_final_project_spark.queries.drift import events_hourly_anomaly

    def key(rs):
        return sorted(tuple(r[c] for c in _HOURLY_COLS) for r in rs)

    assert key(rows) == key(events_hourly_anomaly(spark, twin_dir).collect()), \
        "streamed hourly anomalies != batch events_hourly_anomaly"


def _check_histograms(spark, events, twin_dir, zone, rows):
    from big_data_analytics_final_project_spark.operators.sketches import (
        histogram_daily_sketches,
        histogram_rolling_quantiles,
    )
    from big_data_analytics_final_project_spark.streaming.quantiles import (
        read_daily_histograms,
    )

    batch = histogram_daily_sketches(events, "ts", "value", HIST_LO, HIST_HI, HIST_BINS)
    got = sorted((r.day, r.bin, r.cnt) for r in read_daily_histograms(spark, zone).collect())
    assert got == sorted((r.day, r.bin, r.cnt) for r in batch.collect()), \
        "daily histogram zone != batch sketches"
    want = histogram_rolling_quantiles(batch, QUANTILES, HIST_LO, HIST_HI, HIST_BINS, 7)
    assert sorted(map(tuple, rows)) == sorted(map(tuple, want.collect())), \
        "rolling quantiles != batch"


def _check_profile(spark, events, twin_dir, zone, rows):
    from big_data_analytics_final_project_spark.operators.profile import table_profile

    batch = {r["column_name"]: r for r in table_profile(events, PROFILE_COLS).collect()}
    got = {r["column_name"]: r for r in rows}
    assert set(got) == set(PROFILE_COLS), sorted(got)
    for c in PROFILE_COLS:
        for f in ("n_rows", "n_nulls", "min_num", "max_num", "min_us", "max_us",
                  "min_str", "max_str"):
            assert got[c][f] == batch[c][f], (c, f, got[c][f], batch[c][f])
        # distinct counts are HLL estimates: within 5% of exact (lgk=12)
        exact = batch[c]["n_distinct"]
        assert abs(got[c]["n_distinct"] - exact) <= max(0.05 * exact, 2), (c, exact)


_MONITOR_START = {"rollup": _start_rollup, "histograms": _start_histograms,
                  "profile": _start_profile}
_MONITOR_SCORE = {"rollup": _score_rollup, "histograms": _score_histograms,
                  "profile": _score_profile}
_MONITOR_CHECK = {"rollup": _check_rollup, "histograms": _check_histograms,
                  "profile": _check_profile}


def tree_bytes(paths: list[str]) -> tuple[int, int]:
    """(bytes, files) of data files under ``paths``, skipping Spark's
    hidden and marker files."""
    total = files = 0
    for root in paths:
        for d, _, names in os.walk(root):
            for n in names:
                if n.startswith((".", "_")):
                    continue
                total += os.path.getsize(os.path.join(d, n))
                files += 1
    return total, files


