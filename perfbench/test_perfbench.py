"""Tests of the benchmark's own pieces (no Spark needed).

    python3 -m pytest perfbench -q -p no:cacheprovider
"""

from __future__ import annotations

import argparse
import json
import os
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path[:0] = [HERE, os.path.dirname(HERE)]

import pyarrow as pa  # noqa: E402
import pyarrow.parquet as pq  # noqa: E402

from check import digest_match, digest_rows  # noqa: E402
from lake import NS_PER_H, START_NS, Lake, make_rows  # noqa: E402
from queries import dashboard_set, export_queries, live_probe  # noqa: E402
from reduce import LAYER_METRICS, reduce_spans  # noqa: E402
from stats import busy_seconds, tail  # noqa: E402


def _lake_bytes(root: str) -> dict:
    out = {}
    for d, _, files in os.walk(root):
        for f in files:
            p = os.path.join(d, f)
            key = os.path.relpath(p, root)
            out[key] = pq.read_table(p) if f.endswith(".parquet") else open(p).read()
    return out


def test_same_seed_same_lake_and_queries(tmp_path):
    a = _lake_bytes(Lake(str(tmp_path / "a"), 7, 3, 50).generate().root)
    b = _lake_bytes(Lake(str(tmp_path / "b"), 7, 3, 50).generate().root)
    c = _lake_bytes(Lake(str(tmp_path / "c"), 8, 3, 50).generate().root)
    assert a.keys() == b.keys() == c.keys()
    assert any(k.endswith("metadata.json") for k in a)
    assert all(a[k].equals(b[k]) if isinstance(a[k], pa.Table) else a[k] == b[k] for k in a)
    assert any(not a[k].equals(c[k]) for k in a if isinstance(a[k], pa.Table))
    assert [q.sql for q in dashboard_set(7, 168)] == [q.sql for q in dashboard_set(7, 168)]
    assert [q.sql for q in dashboard_set(7, 168)] != [q.sql for q in dashboard_set(8, 168)]


def test_rows_per_hour_do_not_depend_on_seed(tmp_path):
    for seed in (1, 2):
        lake = Lake(str(tmp_path / str(seed)), seed, 4, 100).generate()
        (n,) = lake.oracle("SELECT count(*) AS n FROM cpu")[0].values()
        assert n == 400
        times = lake.oracle("SELECT count(DISTINCT time) AS n FROM cpu")[0]["n"]
        assert times == 400  # unique times keep ORDER BY time deterministic


def test_tail_rule():
    assert tail(list(range(10))) is None
    assert tail(list(range(19))) is None
    assert tail([float(i) for i in range(1, 21)]) == (50, 10.0)
    assert tail([float(i) for i in range(1, 101)]) == (90, 90.0)
    p, v = tail([float(i) for i in range(1, 61)])
    assert (p, v) == (83, 50.0)
    assert sum(x > v for x in range(1, 61)) >= 10


def test_busy_time():
    # one client with 0.5 s of its own work between requests: not busy time
    assert busy_seconds([(0.0, 1.0), (1.5, 2.5), (3.0, 4.0)]) == 3.0
    # two overlapping clients: busy while either is in flight
    assert busy_seconds([(0.0, 2.0), (1.0, 3.0), (2.5, 2.6), (4.0, 5.0)]) == 4.0


class _FakeHttp:
    """Answers every query with a fixed body."""

    def __init__(self, body: bytes):
        self.body = body

    def query(self, sql, fmt="json"):
        return self.body, 0.001


def _run(tmp_path):
    import run as bench

    args = argparse.Namespace(seed=3, trace=0, workload="dashboard", seconds=1)
    return bench.Run(args, str(tmp_path))


def test_wrong_and_stale_answers_count_as_failures(tmp_path):
    r = _run(tmp_path)
    lake = Lake(str(tmp_path / "lake"), 3, 2, 100).generate()
    q = live_probe(START_NS + NS_PER_H)
    want = lake.oracle(q.oracle_sql)
    right = json.dumps({"results": [{k: str(v) if isinstance(v, int) else v
                                     for k, v in row.items()} for row in want]})
    assert r.http(_FakeHttp(right.encode()), q, want).ok
    assert (r.attempted, r.failed) == (1, 0)

    wrong = right.replace(want[0]["region"], "nowhere")
    assert not r.http(_FakeHttp(wrong.encode()), q, want).ok
    assert not r.http(_FakeHttp(b"not json"), q, want).ok

    # a stale answer: the served rows miss a flush the oracle has staged
    lake.stage(make_rows(lake.rng, START_NS + NS_PER_H, START_NS + 2 * NS_PER_H, 10))
    fresh = lake.oracle(q.oracle_sql)
    assert not r.http(_FakeHttp(right.encode()), q, fresh).ok
    assert (r.attempted, r.failed) == (4, 3)


def test_stale_export_digest_fails(tmp_path):
    lake = Lake(str(tmp_path / "lake"), 4, 6, 100).generate()
    assert [q.sql for q in export_queries(4, 6)] == [q.sql for q in export_queries(4, 6)]
    q = export_queries(4, 6)[-1]  # json, 4 hours
    served = lake.oracle("SELECT * FROM cpu WHERE " + q.oracle_sql.split(" WHERE ")[1])
    assert len(served) == 400
    assert digest_match(digest_rows(served), lake.oracle(q.oracle_sql)[0])
    lake.stage(make_rows(lake.rng, START_NS, START_NS + 6 * NS_PER_H, 10))
    assert not digest_match(digest_rows(served), lake.oracle(q.oracle_sql)[0])


def test_reducer_self_time_and_names():
    spans = [
        # rid, sid, parent, name, t0, dur, attrs
        [1, 1, None, "server.request", 0.0, 0.100, {}],
        [1, 2, 1, "engine.query_rows", 0.0, 0.080, {}],
        [1, 3, 2, "engine.query", 0.0, 0.050, {"analysis": 5.0}],
        [1, 4, 3, "sqlpass.parse", 0.0, 0.001, {}],
        [1, 5, 3, "catalog.find_files", 0.0, 0.004, {"files": 3}],
        [1, 6, 3, "engine.schema_resolve", 0.0, 0.010, {"hit": True}],
        [1, 7, 2, "spark.exec", 0.0, 0.020, {"optimization": 2.0, "planning": 1.0}],
        [1, 8, 1, "formats.encode", 0.0, 0.005, {}],
        [None, 9, None, "session.get_spark", 0.0, 9.0, {}],
    ]
    out = reduce_spans(spans, {"1": [2, 8]}, lambda t: 30, [], 1.0)
    assert set(out) == {name for name, _ in LAYER_METRICS}
    close = lambda a, b: abs(a - b) < 1e-9  # noqa: E731
    assert close(out["server.request_self_ms"][0], 15.0)
    assert close(out["engine.rows_to_dicts_ms"][0], 10.0)
    assert close(out["engine.df_build_ms"][0], 50.0 - 15.0 - 5.0)
    assert close(out["catalog.prune_ratio"][0], 0.1)
    assert out["engine.schema_cache_hit_ratio"] == (1.0, 1)
    assert out["spark.tasks_per_query"] == (8, 1)
    assert out["session.get_spark_s"] == (9.0, 1)
