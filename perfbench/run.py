"""Served-path benchmark: one workload against the real server.

    python3 perfbench/run.py --workload dashboard --seed 1 --seconds 16 --trace 0

Run from the root of a checkout.  The run generates a seeded
reference-layout lake, starts ``python -m gigapi_querier_spark serve`` on
it as a subprocess, warms it up, drives it over HTTP and Flight for
``--seconds`` and checks every answer against DuckDB over the generated
rows.  The last line of stdout is one JSON object:
``{"correct", "attempted", "failed", "metrics"}`` — end-to-end metrics
with ``--trace 0``; with ``--trace 1`` the server starts through
``launch_traced.py`` and the metrics are the per-layer ones.  Lines
before it print every metric by name with its unit and sample count.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import sys
import threading
import time
from dataclasses import dataclass

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

#: Lake shape: 7 days of hourly folders, one file per hour.
HOURS = 168
ROWS_PER_HOUR = 5_000
#: Rows per writer flush into the live hour and the time span they cover:
#: the same density as the lake, so a window ending at the live edge holds
#: the same number of rows however many flushes have landed.
APPEND_ROWS = 100
APPEND_SPAN_S = 72
#: Flush-and-probe steps before each export.  The probes are the workload's
#: latency sample; two per export double it (about 24 in a 16-s run).
PROBES_PER_EXPORT = 2
#: The probe counts the rows of the last ``PROBE_FLUSHES`` flushes, so it
#: reads the same number of files however many flushes have landed (a probe
#: since the start of the live hour reads one more file per flush, and got
#: twice as slow within one run).
PROBE_FLUSHES = 10
DASHBOARD_CLIENTS = 2
#: Warm-up runs every distinct query at least ``WARM_MIN_BATCHES`` times
#: (the JIT keeps speeding queries up for a few hundred requests) and stops
#: once two consecutive batches take the same time within ``WARM_AGREE``,
#: or at the time cap.
WARM_AGREE = 0.10
WARM_MIN_BATCHES = {"dashboard": 8, "export": 4}
WARM_CAP_S = 35.0
WORKLOADS = ("dashboard", "export")


@dataclass(slots=True)
class Sample:
    """One checked request: query name, format, start instant, seconds,
    rows returned, correctness, time to first byte, traced or not."""

    kind: str
    fmt: str
    start: float
    seconds: float
    rows: int
    ok: bool
    ttfb: float | None = None
    traced: bool = False


class Run:
    """State shared by the workloads: lake, server, clients, tallies."""

    def __init__(self, args, work: str):
        from lake import Lake

        self.args = args
        self.work = work
        self.seed = args.seed
        self.traced = bool(args.trace)
        self.lake = Lake(os.path.join(work, "lake"), args.seed, HOURS, ROWS_PER_HOUR)
        self.attempted = 0
        self.failed = 0
        self.errors: list[str] = []
        self.lock = threading.Lock()
        self.server = None
        self.healthy_s = 0.0
        self.trace_on = False

    # -- tallies ---------------------------------------------------------
    def tally(self, ok: bool, why: str = "") -> None:
        with self.lock:
            self.attempted += 1
            if not ok:
                self.failed += 1
                if len(self.errors) < 5:
                    self.errors.append(why)

    # -- server ----------------------------------------------------------
    def start_server(self):
        from client import Server

        self.server = Server(
            self.lake.root, self.work, self.traced, os.path.join(self.work, "server.log")
        )
        self.server.wait_healthy()
        return self.server

    def stop_server(self) -> None:
        if self.server is not None:
            self.server.stop()

    # -- one request -----------------------------------------------------
    def http(self, cli, q, want, fmt="json") -> Sample:
        """Send ``q`` over HTTP and check the answer against ``want``."""
        from check import digest_match, digest_rows, json_rows, ndjson_rows, rows_match
        from client import Failed

        t0 = time.perf_counter()
        traced = self.trace_on
        try:
            body, ttfb = cli.query(q.sql, fmt)
        except Failed as e:
            self.tally(False, f"{q.name}: {e}")
            return Sample(q.name, fmt, t0, time.perf_counter() - t0, 0, False, None, traced)
        seconds = time.perf_counter() - t0
        try:
            rows = json_rows(body) if fmt == "json" else ndjson_rows(body)
        except (ValueError, KeyError, TypeError):
            rows, ok = [], False
        else:
            ok = (
                digest_match(digest_rows(rows), want[0])
                if q.kind == "digest"
                else rows_match(rows, want)
            )
        self.tally(ok, f"{q.name}: wrong answer")
        return Sample(q.name, fmt, t0, seconds, len(rows), ok, ttfb, traced)

    def flight(self, cli, q, want, database) -> Sample:
        """Flight with the database in a header, or (``database=None``) in a
        ``mydb.`` qualifier."""
        from check import digest_arrow, digest_match
        from client import Failed

        sql = q.sql if database else q.sql.replace("FROM cpu ", "FROM mydb.cpu ")
        t0 = time.perf_counter()
        traced = self.trace_on
        try:
            table = cli.query(sql, database)
        except Failed as e:
            self.tally(False, f"{q.name}: {e}")
            return Sample(q.name, "flight", t0, time.perf_counter() - t0, 0, False, None, traced)
        seconds = time.perf_counter() - t0
        ok = digest_match(digest_arrow(table), want[0])
        self.tally(ok, f"{q.name}: wrong answer")
        return Sample(q.name, "flight", t0, seconds, table.num_rows, ok, None, traced)

    def first_answer(self, send) -> float:
        """Spawn the server and ``send(server)`` the workload's first query;
        seconds from spawn to its correct answer."""
        server = self.start_server()
        self.healthy_s = time.perf_counter() - server.t_spawn
        sample = send(server)
        if not sample.ok:
            raise SystemExit(f"perfbench: first answer failed: {self.errors}")
        return sample.start + sample.seconds - server.t_spawn

    # -- phases ----------------------------------------------------------
    def warm_up(self, batch) -> list[float]:
        """Run ``batch()`` (every distinct request once) until two consecutive
        batches take the same time within ``WARM_AGREE``; returns the batch
        wall times."""
        t_end = time.perf_counter() + WARM_CAP_S
        walls: list[float] = []
        while True:
            t0 = time.perf_counter()
            batch()
            walls.append(time.perf_counter() - t0)
            if (
                len(walls) >= WARM_MIN_BATCHES[self.args.workload]
                and abs(walls[-1] / walls[-2] - 1) <= WARM_AGREE
            ):
                return walls
            if time.perf_counter() > t_end:
                return walls

    def phases(self, seconds: float):
        """Yield (traced, seconds) slices of the measured window.  Untraced
        runs measure in one slice; traced runs alternate untraced and
        traced quarters on the same warm server."""
        if not self.traced:
            yield False, seconds
            return
        for i in range(4):
            on = i % 2 == 1
            if on or i:
                self.server.signal(signal.SIGUSR1 if on else signal.SIGUSR2)
            self.trace_on = on
            yield on, seconds / 4
        self.server.signal(signal.SIGUSR2)
        self.trace_on = False

    def spans(self) -> dict:
        """Ask the traced server for its spans and wait for the file."""
        path = self.server.span_path
        self.server.signal(signal.SIGHUP)
        deadline = time.perf_counter() + 30
        while time.perf_counter() < deadline:
            try:
                with open(path) as f:
                    return json.load(f)
            except (OSError, ValueError):
                time.sleep(0.1)
        raise SystemExit("perfbench: traced server wrote no spans")


# ---------------------------------------------------------------------------
# workloads


def closed_loop(run: Run, n_clients: int, seconds: float, send_from) -> list[Sample]:
    """``n_clients`` threads, each sending its next request as soon as the
    previous one completes, until ``seconds`` have passed."""
    out: list[Sample] = []
    deadline = time.perf_counter() + seconds

    def client(i: int) -> None:
        send = send_from(i)
        mine = []
        while time.perf_counter() < deadline:
            mine.append(send())
        with run.lock:
            out.extend(mine)

    threads = [threading.Thread(target=client, args=(i,)) for i in range(n_clients)]
    for t in threads:
        t.start()
    for t in threads:
        t.join()
    return out


def dashboard(run: Run, seconds: float) -> dict:
    from client import HttpClient
    from queries import dashboard_set

    run.lake.generate()
    qs = dashboard_set(run.seed, HOURS)
    want = {q.sql: run.lake.oracle(q.oracle_sql) for q in qs}
    clients: list[HttpClient] = []

    def send_first(server):
        clients.extend(HttpClient(server.http_port) for _ in range(DASHBOARD_CLIENTS))
        return run.http(clients[0], qs[0], want[qs[0].sql])

    setup_s = run.first_answer(send_first)

    def cycler(i):
        # the same order on every seed, the clients half a cycle apart, so the
        # mix of completed queries depends only on how many completed
        state = {"k": i * len(qs) // DASHBOARD_CLIENTS}

        def send():
            q = qs[state["k"] % len(qs)]
            state["k"] += 1
            return run.http(clients[i], q, want[q.sql])

        return send

    def batch():
        # every distinct query once, split over the clients
        def part(i):
            for q in qs[i::DASHBOARD_CLIENTS]:
                run.http(clients[i], q, want[q.sql])

        ts = [threading.Thread(target=part, args=(i,)) for i in range(DASHBOARD_CLIENTS)]
        for t in ts:
            t.start()
        for t in ts:
            t.join()

    warm = run.warm_up(batch)
    samples = []
    for _traced, secs in run.phases(seconds):
        samples += closed_loop(run, DASHBOARD_CLIENTS, secs, cycler)
    for c in clients:
        c.close()
    return {"setup_s": setup_s, "samples": samples, "warm_batches": warm, "batch": len(qs)}


def export(run: Run, seconds: float) -> dict:
    """One closed-loop client.  Each cycle ``PROBES_PER_EXPORT`` times
    flushes one small parquet file into the live hour, regenerates
    metadata.json and sends the freshness probe; then it exports a fixed
    historical window in the cycle's format: ndjson, Flight, json in turn."""
    import numpy as np

    import gigapi_querier_spark.sources.writer as writer
    from client import FlightClient, HttpClient
    from lake import NS_PER_H, NS_PER_S, START_NS, make_rows, table_base
    from queries import export_queries, live_probe

    lake = run.lake
    lake.generate()
    base = table_base(lake.root)
    rng = np.random.default_rng(run.seed + 1)
    live_start = START_NS + HOURS * NS_PER_H
    exports = export_queries(run.seed, HOURS)
    want_exports = [lake.oracle(q.oracle_sql) for q in exports]
    http: HttpClient | None = None
    fl: FlightClient | None = None
    state = {"edge": live_start, "n": 0, "flights": 0}
    freshness: list[float] = []
    writer_calls: list[tuple[float, int]] = []
    footers = _count_footers() if run.traced else None

    def prepare():
        """Stage the next flush at the live edge, and the probe over the
        window that ends with it and its expected answer, before anything
        is timed."""
        t0 = state["edge"]
        t1 = t0 + APPEND_SPAN_S * NS_PER_S
        rows = make_rows(rng, t0, t1, APPEND_ROWS)
        lake.stage(rows)
        state["edge"], state["n"] = t1, state["n"] + 1
        probe = live_probe(t1 - PROBE_FLUSHES * APPEND_SPAN_S * NS_PER_S)
        return (t0 // NS_PER_H) * NS_PER_H, rows, probe, lake.oracle(probe.oracle_sql)

    def flush(prepared) -> float:
        hour, rows, _, _ = prepared
        t_write = time.perf_counter()
        lake.write(rows, hour, f"flush-{state['n']:05d}")
        traced = run.trace_on
        before = footers[0] if footers else 0
        tw = time.perf_counter()
        writer.write_metadata(base)
        if traced:
            writer_calls.append((time.perf_counter() - tw, footers[0] - before))
        return t_write

    def send(q, want) -> Sample:
        if q.fmt == "flight":
            # alternate how Flight selects the database: header, then qualifier
            state["flights"] += 1
            return run.flight(fl, q, want, "mydb" if state["flights"] % 2 else None)
        return run.http(http, q, want, q.fmt)

    def cycle(q, want, record=True) -> list[Sample]:
        """``PROBES_PER_EXPORT`` times a flush, then the probe (its answer
        must include the flushed rows); then one export."""
        out = []
        for _ in range(PROBES_PER_EXPORT):
            prepared = prepare()
            t_write = flush(prepared)
            out.append(send(prepared[2], prepared[3]))
            if record and out[-1].ok:
                freshness.append(out[-1].start + out[-1].seconds - t_write)
        return out + [send(q, want)]

    def round_(record=True) -> list[Sample]:
        """One cycle per export format, in ``EXPORT_CYCLE`` order, so every
        round sends the same mix of requests."""
        out = []
        for q, w in zip(exports, want_exports):
            out += cycle(q, w, record)
        return out

    # the first flush lands before the server starts: set-up times only the
    # server and its first answer
    first = prepare()
    flush(first)

    def send_first(server):
        nonlocal http, fl
        http, fl = HttpClient(server.http_port), FlightClient(server.flight_port)
        return send(first[2], first[3])

    setup_s = run.first_answer(send_first)
    for q, w in zip(exports, want_exports):
        send(q, w)
    warm = run.warm_up(lambda: round_(record=False))
    samples = []
    k = 0
    for _traced, secs in run.phases(seconds):
        deadline = time.perf_counter() + secs
        while time.perf_counter() < deadline:
            samples += cycle(exports[k % len(exports)], want_exports[k % len(exports)])
            k += 1
    http.close()
    fl.close()
    return {
        "setup_s": setup_s,
        "samples": samples,
        "warm_batches": warm,
        "batch": (1 + PROBES_PER_EXPORT) * len(exports),
        "freshness": freshness,
        "writer_calls": writer_calls,
    }


def _count_footers() -> list[int]:
    """Count parquet footers opened in this process (``write_metadata``
    opens one ``ParquetFile`` per file)."""
    import pyarrow.parquet as pq

    count = [0]
    base = pq.ParquetFile

    class Counting(base):
        def __init__(self, *a, **kw):
            count[0] += 1
            super().__init__(*a, **kw)

    pq.ParquetFile = Counting
    return count


# ---------------------------------------------------------------------------
# metrics


def end_to_end(workload: str, res: dict, rss_mb: float) -> dict[str, tuple[float, str, str]]:
    """``{name: (value, unit, note)}`` — the gated metrics, then the
    workload's own."""
    from stats import busy_seconds, median, tail

    samples = [s for s in res["samples"] if s.ok]
    # time with a request in flight: the client's own work between requests
    # (checking answers, flushing files) is not the server's
    busy = busy_seconds([(s.start, s.start + s.seconds) for s in res["samples"]])
    # panels: the dashboard's queries, and on export the freshness probes
    js = [s.seconds * 1000 for s in samples if not s.kind.startswith("export_")]
    # with fewer than 20 samples no percentile above the median has ten
    # samples beyond it: the median is the highest the sample supports
    tl = tail(js)
    tail_val, tail_note = (tl[1], f"p{tl[0]}") if tl else (median(js), "p50")
    out = {
        "setup_s": (res["setup_s"], "s", "n=1"),
        "qps": (len(samples) / busy, "1/s", f"n={len(samples)} in {busy:.2f} busy s"),
        "latency_p50_ms": (median(js), "ms", f"panels n={len(js)}"),
        "latency_tail_ms": (tail_val, "ms", f"{tail_note} panels n={len(js)}"),
        "rows_per_s": (
            sum(s.rows for s in samples) / sum(s.seconds for s in samples),
            "1/s",
            f"rows={sum(s.rows for s in samples)}",
        ),
        "peak_rss_mb": (rss_mb, "MB", "server VmHWM"),
    }
    if workload == "export":
        for fmt in ("json", "ndjson", "flight"):
            ss = [s for s in samples if s.kind == f"export_{fmt}"]
            out[f"{fmt}_rows_per_s"] = (
                sum(s.rows for s in ss) / sum(s.seconds for s in ss),
                "1/s",
                f"n={len(ss)}",
            )
        ttfb = [s.ttfb * 1000 for s in samples if s.fmt == "ndjson"]
        out["ndjson_ttfb_ms"] = (median(ttfb), "ms", f"n={len(ttfb)}")
        fr = [f * 1000 for f in res["freshness"]]
        out["freshness_ms"] = (median(fr), "ms", f"n={len(fr)}")
    return out


def main_metric(workload: str, samples: list[Sample]) -> float:
    """Time-like headline used for the tracing overhead ratio: median json
    latency (dashboard) or export seconds per row (export)."""
    from stats import median

    ok = [s for s in samples if s.ok]
    if workload == "export":
        return sum(s.seconds for s in ok) / sum(s.rows for s in ok)
    return median([s.seconds for s in ok if s.fmt == "json"])


GATED = ("setup_s", "qps", "latency_p50_ms", "latency_tail_ms", "peak_rss_mb")


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    t_run = time.perf_counter()
    checkout = os.getcwd()
    if not os.path.isfile(os.path.join(checkout, "gigapi_querier_spark", "__main__.py")):
        print("perfbench: run from the root of a gigapi_querier_spark checkout", file=sys.stderr)
        return 2
    sys.path.insert(0, checkout)
    work = os.path.join(checkout, ".perfbench_work")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    os.makedirs(os.environ["TMPDIR"])

    run = Run(args, work)
    try:
        res = {"dashboard": dashboard, "export": export}[args.workload](
            run, args.seconds
        )
        rss = run.server.peak_rss_mb()
        payload = run.spans() if run.traced else None
    finally:
        run.stop_server()
        shutil.rmtree(work, ignore_errors=True)

    import pyspark

    w = args.workload
    print(f"# {w} seed={args.seed} seconds={args.seconds:g} trace={args.trace} "
          f"nproc={os.cpu_count()} pyspark={pyspark.__version__}")
    print(f"# setup: healthy after {run.healthy_s:.2f} s; run wall {time.perf_counter() - t_run:.1f} s")
    walls = ", ".join(f"{m:.2f}" for m in res["warm_batches"])
    print(f"# warm-up: batches of {res['batch']} requests took {walls} s")
    print(f"# {w}/error_ratio = {run.failed}/{run.attempted} = {run.failed / run.attempted:.4g}")
    for e in run.errors:
        print(f"# error: {e}")
    if not run.traced:
        e2e = end_to_end(w, res, rss)
        for name, (val, unit, note) in e2e.items():
            print(f"{w}/{name} = {val:.6g} {unit} ({note})")
        metrics = {k: {"value": e2e[k][0], "unit": e2e[k][1]} for k in GATED}
    else:
        from reduce import LAYER_METRICS, reduce_spans

        samples = res["samples"]
        ratio = main_metric(w, [s for s in samples if s.traced]) / main_metric(
            w, [s for s in samples if not s.traced]
        )
        layers = reduce_spans(
            payload["spans"], payload["jobs"], run.lake.files_at, res.get("writer_calls", []), ratio
        )
        metrics = {}
        for name, unit in LAYER_METRICS:
            val, base = layers[name]
            print(f"{w}/{name} = {val:.6g} {unit} (base={base})")
            metrics[name] = {"value": val, "unit": unit}
    ok = run.failed == 0
    print(json.dumps({"correct": ok, "attempted": run.attempted, "failed": run.failed,
                      "metrics": metrics}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
