"""Answer checks: a served answer against the oracle's.

Served JSON/NDJSON follows the server's formatting rules: int64 values are
decimal strings, doubles are numbers.  Flight answers are Arrow tables
whose ``time`` column is ``timestamp[ns, UTC]``; they are checked by
digest.
"""

from __future__ import annotations

import json
import math

import pyarrow as pa
import pyarrow.compute as pc

EXPORT_COLUMNS = {"time", "host", "region", "cpu", "mem", "disk"}


def _same(served, want) -> bool:
    if want is None:
        return served is None
    if isinstance(want, bool) or isinstance(want, str):
        return served == want
    if isinstance(want, int):
        return str(served) == str(want)  # JSON renders int64 as a string
    if isinstance(want, float):
        if isinstance(served, bool) or not isinstance(served, (int, float)):
            return False
        return math.isclose(served, want, rel_tol=1e-9, abs_tol=1e-9)
    return served == want


def rows_match(served: list[dict], want: list[dict]) -> bool:
    """Every row, in order, with the same columns and equal values."""
    if len(served) != len(want):
        return False
    for s, w in zip(served, want):
        if set(s) != set(w) or not all(_same(s[k], w[k]) for k in w):
            return False
    return True


def json_rows(body: bytes) -> list[dict]:
    return json.loads(body)["results"]


def ndjson_rows(body: bytes) -> list[dict]:
    return [json.loads(line) for line in body.splitlines() if line]


def digest_rows(rows: list[dict]) -> dict:
    """The oracle's DIGEST_SQL, computed from served JSON rows."""
    if rows and set(rows[0]) != EXPORT_COLUMNS:
        return {"columns": sorted(rows[0])}
    return {
        "n": len(rows),
        "sum_time": sum(int(r["time"]) for r in rows),
        "sum_cpu": math.fsum(r["cpu"] for r in rows),
        "sum_mem": math.fsum(r["mem"] for r in rows),
        "sum_disk": math.fsum(r["disk"] for r in rows),
        "n_us_east": sum(r["region"] == "us-east" for r in rows),
    }


def digest_arrow(table: pa.Table) -> dict:
    if set(table.column_names) != EXPORT_COLUMNS:
        return {"columns": sorted(table.column_names)}
    return {
        "n": table.num_rows,
        "sum_time": sum(table.column("time").cast(pa.int64()).to_numpy().tolist()),
        "sum_cpu": pc.sum(table.column("cpu")).as_py(),
        "sum_mem": pc.sum(table.column("mem")).as_py(),
        "sum_disk": pc.sum(table.column("disk")).as_py(),
        "n_us_east": pc.sum(pc.equal(table.column("region"), "us-east")).as_py(),
    }


def digest_match(served: dict, want: dict) -> bool:
    if set(served) != set(want):
        return False
    for k, w in want.items():
        s = served[k]
        if isinstance(w, float):
            if not math.isclose(s, w, rel_tol=1e-9):
                return False
        elif s != w:
            return False
    return True
