"""Seeded inputs: every zone a workload reads is derived from the committed
base snapshot (``perfbench/base``, a copy of the sf0.001 test zones) and the seed.

- Every surrogate key (see ``KEY_DOMAINS``) goes through an order-preserving affine map
  ``k -> a*k + b`` chosen by the seed, applied identically to a primary
  key and every foreign key into its domain. Order is kept so queries that
  rank or pair by key (``doc_a < doc_b``, top-N tie-breaks) keep their row
  counts; only the key values, and with them hash placement, change.
- Each zone stays one file with one row group and the base's Arrow types:
  ``operators.spread.heal_scan_width`` branches on footer row groups.
- ``stream_drops`` cuts the seeded event log into file drops at
  seed-chosen boundaries and moves a fixed share of events into a later
  drop (late arrivals).

Only pyarrow and numpy are used, so building inputs starts no JVM.
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq

BASE_DIR = os.path.join(os.path.dirname(os.path.abspath(__file__)), "base")

TABLES = (
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings",
)

# key domain -> every (table, column) holding a key of that domain. The
# columns are the ones scripts/scale_smoke.py offsets, with two
# exceptions. events.user_id shares the customer domain: the integrated
# reports join it to o_custkey and the FK audit checks it against
# c_custkey, so the two must move together. embeddings.vec_id keeps its
# values: the similarity queries take `vec_id < 5` as their query set.
KEY_DOMAINS: dict[str, tuple[tuple[str, str], ...]] = {
    "custkey": (("customer", "c_custkey"), ("orders", "o_custkey"),
                ("events", "user_id")),
    "suppkey": (("supplier", "s_suppkey"), ("lineitem", "l_suppkey")),
    "partkey": (("part", "p_partkey"), ("lineitem", "l_partkey")),
    "orderkey": (("orders", "o_orderkey"), ("lineitem", "l_orderkey")),
    "event_id": (("events", "event_id"),),
    "doc_id": (("documents", "doc_id"),),
}

# Share of events delivered one or two drops after the drop their
# timestamp belongs to.
LATE_SHARE = 0.05


def key_maps(seed: int) -> dict[str, tuple[int, int]]:
    """Per-domain affine map ``(a, b)``: a in [1, 4], b in [0, 2**20)."""
    rng = np.random.default_rng([seed, 0x5EED])
    return {
        domain: (int(rng.integers(1, 5)), int(rng.integers(0, 1 << 20)))
        for domain in KEY_DOMAINS
    }


def _remap(col: pa.ChunkedArray, a: int, b: int) -> pa.ChunkedArray:
    out = pc.add(pc.multiply(col, pa.scalar(a, col.type)), pa.scalar(b, col.type))
    return out.cast(col.type)


def seeded_table(name: str, seed: int) -> pa.Table:
    table = pq.read_table(os.path.join(BASE_DIR, f"{name}.parquet"))
    maps = key_maps(seed)
    for domain, cols in KEY_DOMAINS.items():
        a, b = maps[domain]
        for t, c in cols:
            if t == name:
                i = table.schema.get_field_index(c)
                table = table.set_column(i, table.field(i), _remap(table[c], a, b))
    return table


def write_zone(table: pa.Table, path: str) -> None:
    """One file, one row group (the base layout)."""
    pq.write_table(table, path, row_group_size=max(1, table.num_rows))


def build_world(seed: int, out_dir: str) -> dict[str, int]:
    """Write every seeded zone to ``out_dir``; returns rows per table."""
    os.makedirs(out_dir, exist_ok=True)
    rows = {}
    for name in TABLES:
        table = seeded_table(name, seed)
        write_zone(table, os.path.join(out_dir, f"{name}.parquet"))
        rows[name] = table.num_rows
    return rows


def stream_drops(seed: int, world_dir: str, n_drops: int) -> list[pa.Table]:
    """Cut the world's event log into ``n_drops`` time-ordered drops.

    Boundaries are seed-chosen cut points (every drop keeps at least half
    its even share); then ``LATE_SHARE`` of the events, chosen by the seed,
    move one or two drops later. The timestamp becomes UTC-adjusted, the
    type ``streaming.EVENT_SCHEMA`` declares. Every event lands exactly
    once, so the drained monitors must equal their batch twins.
    """
    events = pq.read_table(os.path.join(world_dir, "events.parquet"))
    events = events.select(["event_id", "ts", "user_id", "event_type", "value", "props"])
    events = events.set_column(
        1, pa.field("ts", pa.timestamp("us", tz="UTC")),
        events["ts"].cast(pa.timestamp("us", tz="UTC")),
    )
    events = events.sort_by([("ts", "ascending"), ("event_id", "ascending")])
    n = events.num_rows
    rng = np.random.default_rng([seed, 0xD409])
    share = n / n_drops
    sizes = np.floor(share / 2 + rng.random(n_drops) * share).astype(np.int64)
    sizes = np.maximum(sizes, 1)
    cuts = np.floor(np.cumsum(sizes) / sizes.sum() * n).astype(np.int64)
    drop_of = np.searchsorted(cuts, np.arange(n), side="right")
    late = rng.random(n) < LATE_SHARE
    drop_of = np.where(late, drop_of + rng.integers(1, 3, n), drop_of)
    drop_of = np.minimum(drop_of, n_drops - 1)
    return [events.filter(pa.array(drop_of == d)) for d in range(n_drops)]
