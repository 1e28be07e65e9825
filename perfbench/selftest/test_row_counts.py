"""Every query a workload runs returns as many rows on a seeded world as
on the base snapshot: the key remap changes values, never shapes."""

from __future__ import annotations

import os

import pytest

from perfbench import inputs, workloads

ROOT = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

QUERIES = sorted(
    {q for _, q in workloads.REPORT_CSVS}
    | {"engagement_spend_correlation", "segment_counts", "events_hourly_anomaly"}
    | set(workloads.CURATION_QUERIES)
)


@pytest.fixture(scope="module")
def spark():
    # Python workers (mapInPandas) import the program by name.
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
    )
    from big_data_analytics_final_project_spark import get_session

    s = get_session(
        app_name="perfbench-selftest", master="local[2]", shuffle_partitions=2,
        extra_conf={"spark.ui.enabled": "false", "spark.driver.memory": "2g"},
    )
    yield s
    s.stop()


@pytest.fixture(scope="module")
def seeded(tmp_path_factory):
    d = tmp_path_factory.mktemp("world")
    inputs.build_world(7, str(d))
    return str(d)


@pytest.mark.parametrize("name", QUERIES)
def test_seeded_world_keeps_row_counts(spark, seeded, name):
    from big_data_analytics_final_project_spark.queries import all_queries

    fn = all_queries()[name].fn
    assert fn(spark, seeded).count() == fn(spark, inputs.BASE_DIR).count()
