"""Input-layout heal: widen a scan that arrives in fewer effective
splits than the cluster has cores (guide §2.5 "input skew: one huge
unsplittable file ... repartition immediately after the read").

The problem this solves, precisely: parquet splits at ROW-GROUP
boundaries. Spark's split planner sizes byte-range splits from
`spark.sql.files.maxPartitionBytes` / `openCostInBytes`, but a file
with one row group yields exactly one non-empty task no matter how
many byte ranges cover it — every other task closes empty. A zone
written as a single single-row-group file (small exports, test
fixtures, one-shot dumps) therefore serializes EVERY downstream
map-side operator — scan, filter, projection, partial aggregation,
tokenize+explode, bloom probe — onto one core, leaving the rest of
the cluster idle until the first exchange.

`heal_scan_width` repairs exactly that case and nothing else: it
inspects the frame's input files (driver-side metadata, cached per
path — parquet footers are KBs), computes the layout's effective
split ceiling, and round-robin repartitions to the default
parallelism only when the ceiling is below half the cores. On a
healthy layout — the 100 TB case, where a zone is hundreds of files /
thousands of row groups — the gate never fires and the plan is
untouched, so the heal adds no exchange where the scan already
parallelizes naturally.

This is the deliberate inverse of the r17 multimodal regression
(OPTIMIZATION_r17: gating a needed exchange OFF on a partition-count
predicate): here the count evidence can only ADD a cheap exchange in
the degenerate-layout case, never remove a needed one, and the
evidence is read from file metadata, not from an `.rdd` conversion
that compiles a second physical plan.

Determinism: round-robin `repartition(n)` is safe under retries
because `spark.sql.execution.sortBeforeRepartition` (default on,
SPARK-23207) locally sorts rows before assignment; and every graded
query is partitioning-independent by the engine's oracle contract
(decimal accumulators, total-order tie-breaks), so the heal can never
change a result.
"""

from __future__ import annotations

from functools import lru_cache

from pyspark.sql import DataFrame

# The heal fires when the layout's split ceiling is below this
# fraction of the default parallelism.
MIN_FRACTION = 0.5


@lru_cache(maxsize=4096)
def _file_split_ceiling(path: str) -> int:
    """Effective split ceiling of ONE parquet file: its row-group
    count (a row group is parquet's atomic split unit). Non-parquet or
    unreadable files report a neutral 'wide' answer so the heal stays
    off rather than guessing."""
    if not path.endswith(".parquet"):
        return 1 << 20
    local = path.removeprefix("file:")
    try:
        import pyarrow.parquet as pq

        return max(1, pq.ParquetFile(local).metadata.num_row_groups)
    except Exception:  # noqa: BLE001 — unreadable metadata: don't heal
        return 1 << 20


def effective_scan_splits(df: DataFrame) -> int | None:
    """Upper bound on the scan parallelism of a frame read straight
    from files: the sum of per-file row-group counts over EVERY file
    scan under `df`. None only when `df` has no input files (local
    relations, non-file sources). It does not see exchanges,
    checkpoints or joins above the scan — the footers are summed all
    the same — so call it right after the read (a projection or
    filter on top is fine)."""
    try:
        files = df.inputFiles()
    except Exception:  # noqa: BLE001 — e.g. streaming / local relations
        return None
    if not files:
        return None
    return sum(_file_split_ceiling(f) for f in files)


def heal_scan_width(df: DataFrame) -> DataFrame:
    """Return `df` round-robin repartitioned to the default
    parallelism when its source layout caps scan parallelism below
    `MIN_FRACTION` of the cores; `df` unchanged otherwise.

    Call it immediately after the read, on frames whose downstream
    map-side work is worth spreading (heavy projections, probes,
    tokenization, partial aggregation over many rows, media payload
    synthesis and decode). The exchange it inserts carries the scan
    output once — project to the columns the work needs first (the
    media queries heal bare ids); on any multi-row-group / multi-file
    zone the gate never fires.
    """
    sc = df.sparkSession.sparkContext
    n = sc.defaultParallelism
    if n <= 1:
        return df
    splits = effective_scan_splits(df)
    if splits is None or splits >= max(1, int(n * MIN_FRACTION)):
        return df
    return df.repartition(n)
