"""Start the server with spans around each layer, then hand over to the
program's own ``gigapi_querier_spark.__main__.main``.

Nothing in the package changes: the wrappers replace public functions and
methods from outside before ``main`` runs.  Tracing starts off.  SIGUSR1
turns it on and SIGUSR2 off, so the client can compare traced and untraced
phases on one warm server; SIGHUP writes every span recorded so far, with
the Spark job and task counts per request, to ``$PERFBENCH_SPANS``
(atomically).

    PERFBENCH_SPANS=spans.json python perfbench/launch_traced.py serve --root … --port …
"""

from __future__ import annotations

import functools
import json
import os
import signal
import sys
import threading
import time

from spans import Tracer

TRACER = Tracer()


def _phases(jdf) -> dict:
    """Catalyst phase durations (ms) from the DataFrame's planning tracker."""
    out = {}
    phases = jdf.queryExecution().tracker().phases()
    for name in ("parsing", "analysis", "optimization", "planning"):
        opt = phases.get(name)
        if opt.isDefined():
            out[name] = float(opt.get().durationMs())
    return out


class TimingLock:
    """Stands in for the engine's ``_bind_lock``; records the acquire wait."""

    def __init__(self, inner):
        self._inner = inner

    def acquire(self, blocking=True, timeout=-1):
        t0 = time.perf_counter()
        got = self._inner.acquire(blocking, timeout)
        if TRACER.on or TRACER.current():
            TRACER.record("engine.bind_lock_wait", t0, time.perf_counter() - t0)
        return got

    def release(self):
        self._inner.release()

    def __enter__(self):
        self.acquire()
        return self

    def __exit__(self, *exc):
        self.release()


class _CountingWriter:
    """Counts NDJSON body chunks (rows) and their bytes on the wire."""

    def __init__(self, inner, attrs: dict):
        self._inner, self._attrs = inner, attrs

    def write(self, data):
        if data[:1] in b"0123456789abcdef" and data != b"0\r\n\r\n":
            self._attrs["rows"] = self._attrs.get("rows", 0) + 1
            self._attrs["bytes"] = self._attrs.get("bytes", 0) + len(data)
        return self._inner.write(data)

    def __getattr__(self, name):
        return getattr(self._inner, name)


def install() -> None:
    from pyspark.sql.classic.dataframe import DataFrame
    from pyspark.sql.readwriter import DataFrameReader

    import gigapi_querier_spark.__main__ as cli
    from gigapi_querier_spark import arrow_out, engine, flightsql, server, session
    from gigapi_querier_spark.plans import sqlpass
    from gigapi_querier_spark.sources.index import JSONIndex

    T = TRACER

    # -- session: set-up, recorded whether or not tracing is on
    T.wrap(session, "get_spark", "session.get_spark", always=True)
    cli.get_spark = session.get_spark

    # -- SQL pre-pass, including the names the engine imported
    for mod in (sqlpass, engine):
        T.wrap(mod, "parse_query", "sqlpass.parse")
    for name in ("rewrite_time_literals", "strip_db_qualifier", "to_spark_sql"):
        T.wrap(engine, name, "sqlpass.rewrite")
    T.wrap(sqlpass, "rewrite_qualify_all", "sqlpass.rewrite")

    # -- catalog
    def files_selected(attrs, args, out):
        attrs["files"] = len(out)

    T.wrap(JSONIndex, "find_files", "catalog.find_files", after=files_selected)

    # -- schema resolve: a reader given a schema is a cache hit
    orig_schema = DataFrameReader.schema

    def schema(self, *a, **kw):
        self._perfbench_schema = True
        return orig_schema(self, *a, **kw)

    DataFrameReader.schema = schema

    def cache_hit(attrs, args, out):
        attrs["hit"] = bool(getattr(args[0], "_perfbench_schema", False))

    T.wrap(DataFrameReader, "parquet", "engine.schema_resolve", after=cache_hit)

    # -- engine: the bind lock, the DataFrame build and its Catalyst analysis
    orig_init = engine.QueryEngine.__init__

    def init(self, *a, **kw):
        orig_init(self, *a, **kw)
        self._bind_lock = TimingLock(self._bind_lock)

    engine.QueryEngine.__init__ = init

    def analysis(attrs, args, df):
        attrs.update(_phases(df._jdf))

    T.wrap(engine.QueryEngine, "query", "engine.query", after=analysis)
    T.wrap(engine.QueryEngine, "query_rows", "engine.query_rows")

    # -- Spark execution: optimization/planning come from the DataFrame that
    # actually runs (take runs a LIMIT DataFrame through collect)
    def executed(attrs, args, out):
        cur = T.current()
        target = cur[3] if cur and cur[2] == "spark.exec" else attrs
        phases = _phases(args[0]._jdf)
        for k in ("optimization", "planning"):
            if k in phases:
                target[k] = target.get(k, 0.0) + phases[k]

    for meth in ("take", "collect", "toArrow"):
        _wrap_exec(DataFrame, meth, executed)
    orig_iter = DataFrame.toLocalIterator

    def to_local_iterator(self, *a, **kw):
        if not T.current():
            return orig_iter(self, *a, **kw)
        t0 = time.perf_counter()
        it = orig_iter(self, *a, **kw)
        attrs = {}
        executed(attrs, (self,), None)
        T.record("spark.exec", t0, time.perf_counter() - t0, attrs)
        return _timed_iter(it)

    DataFrame.toLocalIterator = to_local_iterator

    # -- result edges
    T.wrap(server, "json_format", "formats.encode")
    T.wrap(arrow_out, "normalize_arrow", "arrow_out.normalize")
    orig_make_handler = server.make_handler

    def make_handler(eng):
        handler = orig_make_handler(eng)
        _root(handler, "do_POST", "server.request")
        orig_stream = handler._stream_ndjson

        def stream(self, *a, **kw):
            with T.span("server.ndjson_stream") as attrs:
                real = self.wfile
                self.wfile = _CountingWriter(real, attrs)
                try:
                    return orig_stream(self, *a, **kw)
                finally:
                    self.wfile = real

        handler._stream_ndjson = stream
        return handler

    server.make_handler = make_handler
    _root(flightsql.GigapiFlightServer, "get_flight_info", "flight.get_flight_info")
    _root(flightsql.GigapiFlightServer, "do_get", "flight.do_get")


#: Request ids whose Spark jobs carry the id as their job group.
GROUPS: list[int] = []


def _spark_context():
    from pyspark import SparkContext

    return SparkContext._active_spark_context


def _root(owner, attr: str, name: str) -> None:
    """A request boundary: opens a root span while tracing is on and tags
    the request's Spark jobs with a job group named after its id."""
    fn = getattr(owner, attr)

    @functools.wraps(fn)
    def traced(self, *a, **kw):
        if not TRACER.on:
            return fn(self, *a, **kw)
        with TRACER.span(name, root=True):
            rid = TRACER.current()[0]
            sc = _spark_context()
            sc.setJobGroup(str(rid), "perfbench", False)
            GROUPS.append(rid)
            try:
                return fn(self, *a, **kw)
            finally:
                sc.setLocalProperty("spark.jobGroup.id", None)

    setattr(owner, attr, traced)


def _wrap_exec(cls, meth, executed) -> None:
    fn = getattr(cls, meth)

    def traced(self, *a, **kw):
        cur = TRACER.current()
        if cur is None or cur[2] == "spark.exec":
            out = fn(self, *a, **kw)
            if cur is not None:
                executed({}, (self,), out)
            return out
        with TRACER.span("spark.exec") as attrs:
            out = fn(self, *a, **kw)
            executed(attrs, (self,), out)
            return out

    setattr(cls, meth, traced)


def _timed_iter(it):
    """Rows from ``toLocalIterator``; time spent fetching them is Spark
    execution plus JVM→Python transfer, recorded as one span at the end."""
    busy, t_first = 0.0, None
    while True:
        t0 = time.perf_counter()
        t_first = t_first or t0
        try:
            row = next(it)
        except StopIteration:
            busy += time.perf_counter() - t0
            TRACER.record("spark.exec", t_first, busy, {"iter": True})
            return
        busy += time.perf_counter() - t0
        yield row


def job_counts() -> dict:
    """``{request_id: [jobs, tasks]}`` from the status tracker."""
    out = {}
    sc = _spark_context()
    if sc is None:
        return out
    st = sc.statusTracker()
    for rid in list(GROUPS):
        jobs = st.getJobIdsForGroup(str(rid))
        tasks = 0
        for jid in jobs:
            info = st.getJobInfo(jid)
            for sid in info.stageIds if info else ():
                stage = st.getStageInfo(sid)
                tasks += stage.numTasks if stage else 0
        out[rid] = [len(jobs), tasks]
    return out


def dump() -> None:
    path = os.environ["PERFBENCH_SPANS"]
    payload = {"spans": list(TRACER.spans), "jobs": job_counts()}
    with open(path + ".tmp", "w") as f:
        json.dump(payload, f)
    os.replace(path + ".tmp", path)


def _on(signum, frame):
    TRACER.on = True


def _off(signum, frame):
    TRACER.on = False


def _dump(signum, frame):
    # from a thread: the status tracker talks to the JVM, which must not
    # happen inside a signal handler that may interrupt a py4j call
    threading.Thread(target=dump).start()


def main(argv: list[str]) -> int:
    install()
    signal.signal(signal.SIGUSR1, _on)
    signal.signal(signal.SIGUSR2, _off)
    signal.signal(signal.SIGHUP, _dump)
    import gigapi_querier_spark.__main__ as cli

    return cli.main(argv)


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
