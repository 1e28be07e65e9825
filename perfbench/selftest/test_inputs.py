"""Seeded inputs: deterministic per seed, same shape across seeds."""

from __future__ import annotations

import os

import pyarrow.parquet as pq

from perfbench import inputs


def _zone_bytes(d: str) -> dict[str, bytes]:
    return {t: open(os.path.join(d, f"{t}.parquet"), "rb").read() for t in inputs.TABLES}


def test_same_seed_gives_byte_identical_zones(tmp_path):
    a, b = tmp_path / "a", tmp_path / "b"
    inputs.build_world(11, str(a))
    inputs.build_world(11, str(b))
    assert _zone_bytes(str(a)) == _zone_bytes(str(b))


def test_other_seed_changes_keys_not_shape(tmp_path):
    a, b = tmp_path / "a", tmp_path / "b"
    rows_a = inputs.build_world(11, str(a))
    rows_b = inputs.build_world(12, str(b))
    assert rows_a == rows_b
    assert inputs.key_maps(11) != inputs.key_maps(12)
    for t in inputs.TABLES:
        fa = pq.ParquetFile(a / f"{t}.parquet")
        fb = pq.ParquetFile(b / f"{t}.parquet")
        base = pq.ParquetFile(os.path.join(inputs.BASE_DIR, f"{t}.parquet"))
        assert fa.schema_arrow == fb.schema_arrow == base.schema_arrow, t
        assert fa.metadata.num_row_groups == fb.metadata.num_row_groups == 1, t
    changed = [
        (t, c) for cols in inputs.KEY_DOMAINS.values() for t, c in cols
        if pq.read_table(a / f"{t}.parquet", columns=[c])
        != pq.read_table(b / f"{t}.parquet", columns=[c])
    ]
    assert len(changed) == sum(len(c) for c in inputs.KEY_DOMAINS.values())


def test_keys_stay_joinable_and_ordered(tmp_path):
    inputs.build_world(5, str(tmp_path))
    orders = pq.read_table(tmp_path / "orders.parquet")
    lineitem = pq.read_table(tmp_path / "lineitem.parquet")
    assert set(lineitem["l_orderkey"].to_pylist()) <= set(orders["o_orderkey"].to_pylist())
    base = pq.read_table(os.path.join(inputs.BASE_DIR, "documents.parquet"))["doc_id"].to_pylist()
    seeded = pq.read_table(tmp_path / "documents.parquet")["doc_id"].to_pylist()
    assert sorted(range(len(base)), key=base.__getitem__) == sorted(
        range(len(seeded)), key=seeded.__getitem__
    )


def test_stream_drops_deliver_every_event_once(tmp_path):
    inputs.build_world(3, str(tmp_path))
    drops = inputs.stream_drops(3, str(tmp_path), 6)
    again = inputs.stream_drops(3, str(tmp_path), 6)
    assert [d.num_rows for d in drops] == [d.num_rows for d in again]
    ids = [i for d in drops for i in d["event_id"].to_pylist()]
    world = pq.read_table(tmp_path / "events.parquet")["event_id"].to_pylist()
    assert sorted(ids) == sorted(world)
    assert all(d.num_rows > 0 for d in drops)
    other = inputs.stream_drops(4, str(tmp_path), 6)
    assert [d.num_rows for d in other] != [d.num_rows for d in drops]
