"""Seeded reference-layout lake and the answer oracle.

The lake is one table, ``mydb.cpu``, laid out the way the server reads it:

    {root}/mydb/cpu/data/date=YYYY-MM-DD/hour=HH/<file>.parquet
    + per-folder metadata.json (written by the program's own
      ``sources.writer.write_metadata``)

Every hour holds exactly ``rows_per_hour`` rows, so the amount of work a
query does depends on its window, never on the seed; the seed only changes
the values.  ``time`` is int64 epoch nanoseconds, unique and ascending, so
``ORDER BY time`` is deterministic.

Expected answers come from DuckDB over the generated arrays, never from
the engine under test.
"""

from __future__ import annotations

import bisect
import os
import time
from datetime import datetime, timezone

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

NS_PER_S = 1_000_000_000
NS_PER_H = 3600 * NS_PER_S
DB, TABLE = "mydb", "cpu"
#: Fixed first hour of the lake; seeds change values, not the time span.
START_NS = int(datetime(2023, 11, 8, tzinfo=timezone.utc).timestamp()) * NS_PER_S
HOSTS = [f"host-{i:02d}" for i in range(50)]
REGIONS = ["eu-central", "us-east", "us-west"]


def hour_dir(root: str, hour_ns: int) -> str:
    dt = datetime.fromtimestamp(hour_ns // NS_PER_S, tz=timezone.utc)
    return os.path.join(
        root, DB, TABLE, "data", f"date={dt:%Y-%m-%d}", f"hour={dt:%H}"
    )


def table_base(root: str) -> str:
    return os.path.join(root, DB, TABLE, "data")


def make_rows(rng: np.random.Generator, t0: int, t1: int, n: int) -> pa.Table:
    """``n`` rows with unique ascending times in ``[t0, t1)``."""
    step = (t1 - t0) // n
    offs = np.arange(n, dtype=np.int64) * step + rng.integers(0, step, n)
    host_idx = rng.integers(0, len(HOSTS), n)
    return pa.table(
        {
            "time": pa.array(t0 + offs, pa.int64()),
            "host": pa.array(np.array(HOSTS, dtype=object)[host_idx]),
            "region": pa.array(np.array(REGIONS, dtype=object)[host_idx % 3]),
            "cpu": pa.array(np.round(rng.random(n) * 100.0, 3)),
            "mem": pa.array(np.round(rng.random(n) * 64.0, 3)),
            "disk": pa.array(np.round(rng.random(n) * 1000.0, 3)),
        }
    )


class Lake:
    """A generated lake plus an in-memory DuckDB copy of every row."""

    def __init__(self, root: str, seed: int, hours: int, rows_per_hour: int):
        self.root = root
        self.hours = hours
        self.rows_per_hour = rows_per_hour
        self.rng = np.random.default_rng(seed)
        self.n_files = 0
        self.growth: list[tuple[float, int]] = []
        self._parts: list[pa.Table] = []
        self._db = None

    def generate(self) -> "Lake":
        from gigapi_querier_spark.sources.writer import write_metadata

        for h in range(self.hours):
            t0 = START_NS + h * NS_PER_H
            rows = make_rows(self.rng, t0, t0 + NS_PER_H, self.rows_per_hour)
            self.stage(rows)
            self.write(rows, t0, "part-0")
        write_metadata(table_base(self.root))
        return self

    def stage(self, rows: pa.Table) -> None:
        """Make ``rows`` part of every later oracle answer."""
        self._parts.append(rows)
        self._db = None

    def write(self, rows: pa.Table, hour_ns: int, name: str) -> str:
        """Write one parquet file into ``hour_ns``'s folder (metadata.json
        is left to the caller) and note when the table grew."""
        d = hour_dir(self.root, hour_ns)
        os.makedirs(d, exist_ok=True)
        path = os.path.join(d, f"{name}.parquet")
        pq.write_table(rows, path)
        self.n_files += 1
        self.growth.append((time.perf_counter(), self.n_files))
        return path

    def files_at(self, t: float) -> int:
        """Files in the table at ``time.perf_counter()`` instant ``t``."""
        i = bisect.bisect_right(self.growth, (t, float("inf")))
        return self.growth[i - 1][1] if i else self.n_files

    def oracle(self, sql: str) -> list[dict]:
        """Run DuckDB SQL over every staged row (view ``cpu``)."""
        if self._db is None:
            import duckdb

            self._db = duckdb.connect()
            self._db.register("cpu", pa.concat_tables(self._parts))
        cur = self._db.execute(sql)
        cols = [c[0] for c in cur.description]
        return [dict(zip(cols, r)) for r in cur.fetchall()]
