"""The streaming-maintained anomaly monitor (streaming/rollup.py
`score_hourly_anomalies`), which the graded `events_hourly_anomaly`
also scores through. These tests pin the two postures together:

1. score(batch hourly frame) must be ROW-IDENTICAL to the graded
   query on the same data (expression-drift pin), and
2. score(streamed rollup zone) must be row-identical too — the full
   standing pipeline: file-drop stream → foreachBatch zone fold →
   monitor read (end-to-end stream==batch).
"""

from __future__ import annotations

import shutil
import tempfile

import pytest
from pyspark.sql import Window
from pyspark.sql import functions as F

from big_data_analytics_final_project_spark.queries.drift import (
    events_hourly_anomaly,
)
from big_data_analytics_final_project_spark.sources import load_table
from big_data_analytics_final_project_spark.streaming import (
    EVENT_SCHEMA,
    read_event_stream,
)
from big_data_analytics_final_project_spark.streaming.rollup import (
    maintain_hourly_rollup,
    read_hourly_rollup,
    score_hourly_anomalies,
)

from .conftest import SF_SMOKE


def _rows(df):
    return [
        (
            r["hour"],
            r["n_events"],
            r["n_trail"],
            r["trail_mean"],
            r["z"],
            r["is_anomaly"],
        )
        for r in df.orderBy("hour").collect()
    ]


@pytest.fixture(scope="module")
def graded(spark):
    return _rows(events_hourly_anomaly(spark, SF_SMOKE))


def test_scorer_matches_graded_query_on_batch_frame(spark, graded):
    """Expression-drift pin: identical (hour, n_events) input must give
    bit-identical scores (floats included) to the graded query."""
    hourly = (
        load_table(spark, SF_SMOKE, "events")
        .groupBy(F.date_trunc("hour", F.col("ts")).alias("hour"))
        .agg(F.count(F.lit(1)).alias("n_events"))
    )
    assert _rows(score_hourly_anomalies(hourly)) == graded
    assert any(r[5] for r in graded) or len(graded) > 0  # frame nonempty


def test_streamed_zone_scores_match_batch_query(spark, graded):
    """End-to-end: stream the event log in 3 chronological file drops,
    fold into the rollup zone, score the zone — row-identical to the
    batch graded query over the same events."""
    root = tempfile.mkdtemp(prefix="stream_anom_")
    try:
        src = f"{root}/src"
        events = (
            load_table(spark, SF_SMOKE, "events")
            .select(*[f.name for f in EVENT_SCHEMA.fields])
            .withColumn(
                "_chunk", F.ntile(3).over(Window.orderBy("ts", "event_id"))
            )
        )
        for c in (1, 2, 3):
            events.filter(F.col("_chunk") == c).drop("_chunk").coalesce(
                1
            ).write.mode("append").parquet(src)
        zone = f"{root}/zone"
        q = (
            maintain_hourly_rollup(
                read_event_stream(spark, src), zone, f"{root}/ckpt"
            )
            .trigger(availableNow=True)
            .start()
        )
        assert q.awaitTermination(300), "stream did not finish"
        scored = score_hourly_anomalies(
            read_hourly_rollup(spark, zone).select("hour", "n_events")
        )
        assert _rows(scored) == graded
    finally:
        shutil.rmtree(root, ignore_errors=True)
