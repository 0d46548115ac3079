"""Per-layer metrics from the spans of a traced run.

Each metric is a mean over the requests (or calls) where its layer ran;
``base`` is that count.  A layer's self time is its span's duration minus
the durations of its direct children.
"""

from __future__ import annotations

from collections import defaultdict

#: (metric, unit) in the order they are printed.
LAYER_METRICS = (
    ("sqlpass.parse_ms", "ms"),
    ("sqlpass.rewrite_ms", "ms"),
    ("catalog.find_files_ms", "ms"),
    ("catalog.files_selected", "count"),
    ("catalog.prune_ratio", "1"),
    ("engine.schema_resolve_ms", "ms"),
    ("engine.schema_cache_hit_ratio", "1"),
    ("engine.bind_lock_wait_ms", "ms"),
    ("engine.df_build_ms", "ms"),
    ("catalyst.analysis_ms", "ms"),
    ("catalyst.optimization_ms", "ms"),
    ("catalyst.planning_ms", "ms"),
    ("spark.exec_ms", "ms"),
    ("spark.jobs_per_query", "count"),
    ("spark.tasks_per_query", "count"),
    ("engine.rows_to_dicts_ms", "ms"),
    ("formats.encode_ms", "ms"),
    ("server.ndjson_stream_ms", "ms"),
    ("server.bytes_per_row", "B"),
    ("arrow_out.normalize_ms", "ms"),
    ("flight.get_flight_info_ms", "ms"),
    ("flight.do_get_ms", "ms"),
    ("writer.write_metadata_ms", "ms"),
    ("writer.footers_read", "count"),
    ("server.request_self_ms", "ms"),
    ("session.get_spark_s", "s"),
    ("trace.overhead_ratio", "1"),
)

QUERY_ROOTS = ("server.request", "flight.get_flight_info")


def reduce_spans(
    spans: list,
    jobs: dict,
    files_at,
    writer_calls: list[tuple[float, int]],
    overhead_ratio: float,
) -> dict[str, tuple[float, int]]:
    """``{metric: (value, base)}`` for every name in ``LAYER_METRICS``.

    ``jobs`` maps request id → [jobs, tasks]; ``files_at(t)`` is the
    table's file count at instant ``t``; ``writer_calls`` holds
    (seconds, footers read) per traced ``write_metadata`` call."""
    child_time: dict[int, float] = defaultdict(float)
    for rid, sid, parent, name, t0, dur, attrs in spans:
        if parent is not None:
            child_time[parent] += dur

    per_req: dict[int, dict[str, float]] = defaultdict(lambda: defaultdict(float))
    roots: dict[int, str] = {}
    hits = misses = 0
    prune: list[float] = []
    nd_bytes = nd_rows = 0
    do_get: list[float] = []
    get_spark = [dur for *_, name, t0, dur, attrs in spans if name == "session.get_spark"]

    for rid, sid, parent, name, t0, dur, attrs in spans:
        if rid is None:
            continue
        ms = dur * 1000.0
        self_ms = (dur - child_time[sid]) * 1000.0
        r = per_req[rid]
        if parent is None:
            roots[rid] = name
        if name == "sqlpass.parse":
            r["sqlpass.parse_ms"] += ms
        elif name == "sqlpass.rewrite":
            r["sqlpass.rewrite_ms"] += ms
        elif name == "catalog.find_files":
            r["catalog.find_files_ms"] += ms
            r["catalog.files_selected"] += attrs.get("files", 0)
            prune.append(attrs.get("files", 0) / files_at(t0))
        elif name == "engine.schema_resolve":
            r["engine.schema_resolve_ms"] += ms
            hits += bool(attrs.get("hit"))
            misses += not attrs.get("hit")
        elif name == "engine.bind_lock_wait":
            r["engine.bind_lock_wait_ms"] += ms
        elif name == "engine.query":
            # the analysis Catalyst did inside spark.sql is its own layer
            catalyst = attrs.get("parsing", 0.0) + attrs.get("analysis", 0.0)
            r["engine.df_build_ms"] += self_ms - catalyst
            r["catalyst.analysis_ms"] += attrs.get("analysis", 0.0)
        elif name == "spark.exec":
            r["spark.exec_ms"] += ms
            r["catalyst.optimization_ms"] += attrs.get("optimization", 0.0)
            r["catalyst.planning_ms"] += attrs.get("planning", 0.0)
        elif name == "engine.query_rows":
            r["engine.rows_to_dicts_ms"] += self_ms
        elif name == "formats.encode":
            r["formats.encode_ms"] += ms
        elif name == "server.ndjson_stream":
            r["server.ndjson_stream_ms"] += self_ms
            nd_bytes += attrs.get("bytes", 0)
            nd_rows += attrs.get("rows", 0)
        elif name == "arrow_out.normalize":
            r["arrow_out.normalize_ms"] += ms
        elif name == "flight.get_flight_info":
            r["flight.get_flight_info_ms"] += ms
        elif name == "flight.do_get":
            do_get.append(ms)
        elif name == "server.request":
            r["server.request_self_ms"] += self_ms

    queries = [rid for rid, name in roots.items() if name in QUERY_ROOTS]
    for rid in queries:
        j, t = jobs.get(str(rid), jobs.get(rid, [0, 0]))
        per_req[rid]["spark.jobs_per_query"] = j
        per_req[rid]["spark.tasks_per_query"] = t

    def mean_over(metric: str, pool: list[int]) -> tuple[float, int]:
        vals = [per_req[rid][metric] for rid in pool if metric in per_req[rid]]
        return (sum(vals) / len(vals) if vals else 0.0), len(vals)

    out: dict[str, tuple[float, int]] = {}
    for metric, _unit in LAYER_METRICS:
        out[metric] = mean_over(metric, queries)
    out["catalog.prune_ratio"] = (sum(prune) / len(prune) if prune else 0.0, len(prune))
    n_reads = hits + misses
    out["engine.schema_cache_hit_ratio"] = (hits / n_reads if n_reads else 0.0, n_reads)
    out["server.bytes_per_row"] = (nd_bytes / nd_rows if nd_rows else 0.0, nd_rows)
    out["flight.do_get_ms"] = (sum(do_get) / len(do_get) if do_get else 0.0, len(do_get))
    n_w = len(writer_calls)
    out["writer.write_metadata_ms"] = (
        sum(s for s, _ in writer_calls) * 1000.0 / n_w if n_w else 0.0, n_w
    )
    out["writer.footers_read"] = (sum(f for _, f in writer_calls) / n_w if n_w else 0.0, n_w)
    out["session.get_spark_s"] = (get_spark[0] if get_spark else 0.0, len(get_spark))
    out["trace.overhead_ratio"] = (overhead_ratio, 2)
    return out
