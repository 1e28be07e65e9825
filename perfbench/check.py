"""Output checks, run outside every timed region.

Registry results are compared with their DuckDB oracle (``QuerySpec.sql``)
over the same seeded zones through ``tests/parity.compare``; report CSVs
are parsed back by their Spark schema and compared the same way.
"""

from __future__ import annotations

import csv
import glob
import os
from dataclasses import dataclass
from datetime import date, datetime
from decimal import Decimal

from tests.parity import _canon, compare

from .inputs import TABLES


@dataclass
class Collected:
    """A result already forced by the workload, shaped like the DataFrame
    ``parity.compare`` expects, so checking does not run the query again."""

    columns: list[str]
    schema: object
    rows: list

    def collect(self) -> list:
        return self.rows


def collected(df, rows) -> Collected:
    return Collected(list(df.columns), df.schema, rows)


class Oracle:
    def __init__(self, world_dir: str) -> None:
        import duckdb

        self.con = duckdb.connect()
        for t in TABLES:
            self.con.execute(
                f"CREATE VIEW {t} AS SELECT * FROM '{world_dir}/{t}.parquet'"
            )

    def rel(self, sql: str):
        return self.con.sql(sql)

    def close(self) -> None:
        self.con.close()


def check_rows(result: Collected, oracle_rel) -> None:
    """Raises AssertionError on any difference."""
    compare(result, oracle_rel)


def check_subset(rows: list, columns: list[str], oracle_rel, n: int) -> None:
    """Chart inputs: ``n`` rows, each one of the oracle's rows."""
    want = [
        tuple(_canon(r[oracle_rel.columns.index(c)], 0.0) for c in columns)
        for r in oracle_rel.fetchall()
    ]
    got = [tuple(_canon(r[c], 0.0) for c in columns) for r in rows]
    assert len(got) == min(n, len(want)), f"chart rows {len(got)} != {min(n, len(want))}"
    pool = list(want)
    for g in got:
        assert g in pool, f"chart row not in oracle: {g}"
        pool.remove(g)


def _parse(value: str, type_name: str):
    if value == "":
        return None
    if type_name in ("tinyint", "smallint", "int", "bigint"):
        return int(value)
    if type_name in ("float", "double"):
        return float(value)
    if type_name.startswith("decimal"):
        return Decimal(value)
    if type_name == "boolean":
        return value == "true"
    if type_name == "date":
        return date.fromisoformat(value)
    if type_name.startswith("timestamp"):
        return datetime.fromisoformat(value.replace("Z", "+00:00"))
    return value


def read_report_csv(path: str, schema) -> list[dict]:
    """Rows of the single CSV part ``sinks.write_report_csv`` wrote."""
    parts = glob.glob(os.path.join(path, "part-*.csv"))
    assert len(parts) == 1, f"{path}: expected one CSV part, found {len(parts)}"
    types = {f.name: f.dataType.simpleString() for f in schema.fields}
    with open(parts[0], newline="") as f:
        reader = csv.DictReader(f)
        assert reader.fieldnames == [f.name for f in schema.fields], reader.fieldnames
        return [{k: _parse(v, types[k]) for k, v in row.items()} for row in reader]
