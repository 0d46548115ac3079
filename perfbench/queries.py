"""Query sets for the workloads, each with its DuckDB oracle twin.

Time predicates are quoted RFC3339 literals, the form the server's SQL
pre-pass turns into a catalog time range; bare integer-ns literals would
not be pruned and every query would scan the whole table.
"""

from __future__ import annotations

import random
from dataclasses import dataclass
from datetime import datetime, timezone

from lake import NS_PER_H, NS_PER_S, START_NS, HOSTS, REGIONS

BUCKET_NS = 300 * NS_PER_S
WINDOWS_H = (1, 6, 24)


def rfc3339(ns: int) -> str:
    dt = datetime.fromtimestamp(ns // NS_PER_S, tz=timezone.utc)
    return f"{dt:%Y-%m-%dT%H:%M:%S}Z"


@dataclass(frozen=True)
class Query:
    """One request: the SQL sent to the server and how to check the answer.

    ``kind`` is ``rows`` (compare every row, in order) or ``digest``
    (compare row count and column sums; used for large exports); ``fmt``
    is the result format it is sent in."""

    name: str
    sql: str
    oracle_sql: str
    kind: str = "rows"
    fmt: str = "json"


def _where(t0: int, t1: int) -> str:
    return f"time >= '{rfc3339(t0)}' AND time < '{rfc3339(t1)}'"


def _owhere(t0: int, t1: int) -> str:
    return f"time >= {t0} AND time < {t1}"


def panel(template: str, t0: int, t1: int, host: str, region: str) -> Query:
    """One dashboard panel over ``[t0, t1)``."""
    w, ow = _where(t0, t1), _owhere(t0, t1)
    if template == "bucket_host":
        sel = (
            f"SELECT (time DIV {BUCKET_NS}) * {BUCKET_NS} AS bucket, avg(cpu) AS avg_cpu, "
            f"max(cpu) AS max_cpu FROM {{t}} WHERE host = '{host}' AND {{w}} GROUP BY 1 ORDER BY 1"
        )
        osel = sel.replace(" DIV ", " // ")
    elif template == "count_region":
        sel = osel = (
            "SELECT region, count(*) AS count FROM {t} WHERE {w} GROUP BY region ORDER BY region"
        )
    elif template == "topn_host":
        sel = osel = (
            "SELECT host, avg(cpu) AS avg_cpu FROM {t} WHERE {w} "
            "GROUP BY host ORDER BY avg_cpu DESC, host LIMIT 5"
        )
    elif template == "last_rows":
        sel = osel = (
            "SELECT time, host, region, cpu, mem FROM {t} WHERE {w} ORDER BY time DESC LIMIT 20"
        )
    elif template == "region_stats":
        sel = osel = (
            "SELECT count(*) AS count, avg(cpu) AS avg_cpu, min(mem) AS min_mem, "
            f"max(disk) AS max_disk FROM {{t}} WHERE region = '{region}' AND {{w}}"
        )
    elif template == "hosts_by_region":
        sel = osel = (
            "SELECT region, count(DISTINCT host) AS hosts, max(time) AS last_seen "
            "FROM {t} WHERE {w} GROUP BY region ORDER BY region"
        )
    else:
        raise ValueError(template)
    return Query(name=template, sql=sel.format(t="mydb.cpu", w=w), oracle_sql=osel.format(t="cpu", w=ow))


TEMPLATES = (
    "bucket_host",
    "count_region",
    "topn_host",
    "last_rows",
    "region_stats",
    "hosts_by_region",
)


def dashboard_set(seed: int, hours: int) -> list[Query]:
    """Every distinct dashboard query: each template over each window, the
    window ending at one of two seeded non-aligned instants, so file sets
    and plan shapes repeat like dashboard refreshes."""
    rnd = random.Random(seed)
    ends = [
        START_NS + rnd.randrange(48, hours) * NS_PER_H + rnd.randrange(1, 59) * 60 * NS_PER_S
        for _ in range(2)
    ]
    host, region = rnd.choice(HOSTS), rnd.choice(REGIONS)
    out = []
    for i, tpl in enumerate(TEMPLATES):
        for j, wh in enumerate(WINDOWS_H):
            end = ends[(i + j) % 2]
            out.append(panel(tpl, end - wh * NS_PER_H, end, host, region))
    return out


def live_probe(since_ns: int) -> Query:
    """Rows per region since ``since_ns``, a window that ends at the live
    edge.  Every flush changes its file set and its answer: a stale answer
    is a wrong one."""
    sel = (
        "SELECT region, count(*) AS count FROM {t} WHERE time >= {lit} "
        "GROUP BY region ORDER BY region"
    )
    return Query(
        "live_probe",
        sel.format(t="mydb.cpu", lit=f"'{rfc3339(since_ns)}'"),
        sel.format(t="cpu", lit=since_ns),
    )


#: Export format cycle and the window length each format exports.
EXPORT_CYCLE = (("ndjson", 2), ("flight", 3), ("json", 4))


def export_queries(seed: int, hours: int) -> list[Query]:
    """``SELECT *`` over one seeded hour-aligned window per format in
    ``EXPORT_CYCLE`` (``wh`` hours hold ``wh * rows_per_hour`` rows on every
    seed).  Flight names the table unqualified: the database comes from a
    header or is added as a qualifier by the sender."""
    rnd = random.Random(seed * 7919)
    out = []
    for fmt, wh in EXPORT_CYCLE:
        t0 = START_NS + rnd.randrange(0, hours - wh) * NS_PER_H
        t1 = t0 + wh * NS_PER_H
        table = "cpu" if fmt == "flight" else "mydb.cpu"
        out.append(
            Query(
                name=f"export_{fmt}",
                sql=f"SELECT * FROM {table} WHERE {_where(t0, t1)}",
                oracle_sql=DIGEST_SQL.format(w=_owhere(t0, t1)),
                kind="digest",
                fmt=fmt,
            )
        )
    return out


#: Oracle digest of a ``SELECT *`` answer; ``check.digest_rows`` and
#: ``check.digest_arrow`` compute the same from a served answer.
DIGEST_SQL = (
    "SELECT count(*) AS n, sum(time) AS sum_time, sum(cpu) AS sum_cpu, "
    "sum(mem) AS sum_mem, sum(disk) AS sum_disk, "
    "count(*) FILTER (WHERE region = 'us-east') AS n_us_east FROM cpu WHERE {w}"
)
