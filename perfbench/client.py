"""The server subprocess and the clients that drive it.

Every request has a client-side timeout, so a hang is a failed request
rather than a stalled run.
"""

from __future__ import annotations

import http.client
import json
import os
import signal
import socket
import subprocess
import sys
import time

import pyarrow as pa
import pyarrow.flight as flight

REQUEST_TIMEOUT_S = 60.0
START_TIMEOUT_S = 150.0


def free_port() -> int:
    with socket.socket() as s:
        s.bind(("127.0.0.1", 0))
        return s.getsockname()[1]


class Server:
    """``python -m gigapi_querier_spark serve`` (or the traced launcher) as
    a subprocess bound to loopback ports."""

    def __init__(self, root: str, work: str, traced: bool, log_path: str):
        self.http_port, self.flight_port = free_port(), free_port()
        local = os.path.join(work, "spark-local")
        tmp = os.path.join(work, "tmp")
        os.makedirs(local, exist_ok=True)
        os.makedirs(tmp, exist_ok=True)
        env = dict(
            os.environ,
            SPARK_GRAFT_CPUS=str(os.cpu_count() or 1),
            SPARK_GRAFT_DRIVER_MEM="2g",
            SPARK_LOCAL_DIRS=local,
            TMPDIR=tmp,
            PYTHONPATH=os.getcwd(),
            # keep the JVM's scratch files inside the checkout too
            PYSPARK_SUBMIT_ARGS=(
                f'--driver-java-options "-Djava.io.tmpdir={tmp} -XX:-UsePerfData" pyspark-shell'
            ),
        )
        if traced:
            self.span_path = os.path.join(work, "spans.json")
            env["PERFBENCH_SPANS"] = self.span_path
            prog = [sys.executable, os.path.join(os.path.dirname(__file__), "launch_traced.py")]
        else:
            prog = [sys.executable, "-m", "gigapi_querier_spark"]
        args = [
            "serve", "--root", root, "--host", "127.0.0.1",
            "--port", str(self.http_port), "--flight-port", str(self.flight_port),
        ]
        self._log = open(log_path, "wb")
        self.t_spawn = time.perf_counter()
        # own process group: the JVM that pyspark starts is stopped with it
        self.proc = subprocess.Popen(
            prog + args, env=env, cwd=work, stdout=self._log, stderr=subprocess.STDOUT,
            start_new_session=True,
        )

    def wait_healthy(self) -> None:
        deadline = self.t_spawn + START_TIMEOUT_S
        while time.perf_counter() < deadline:
            if self.proc.poll() is not None:
                raise RuntimeError(f"server exited with code {self.proc.returncode}")
            try:
                conn = http.client.HTTPConnection("127.0.0.1", self.http_port, timeout=2)
                conn.request("GET", "/health")
                ok = conn.getresponse().status == 200
                conn.close()
                if ok:
                    return
            except OSError:
                pass
            time.sleep(0.05)
        raise RuntimeError("server did not become healthy")

    def peak_rss_mb(self) -> float:
        """Peak resident set (VmHWM) of the server's Python process."""
        with open(f"/proc/{self.proc.pid}/status") as f:
            for line in f:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1]) / 1024.0
        raise RuntimeError("VmHWM not found")

    def signal(self, sig: int) -> None:
        self.proc.send_signal(sig)

    def stop(self) -> None:
        """Stop the server and every process of its group, and wait for them."""
        pgid = self.proc.pid
        for sig, grace in ((signal.SIGTERM, 30.0), (signal.SIGKILL, 10.0)):
            try:
                os.killpg(pgid, sig)
            except ProcessLookupError:
                break
            deadline = time.perf_counter() + grace
            while time.perf_counter() < deadline:
                self.proc.poll()
                try:
                    os.killpg(pgid, 0)
                except ProcessLookupError:
                    break
                time.sleep(0.05)
            else:
                continue
            break
        self.proc.wait()
        self._log.close()


class Failed(Exception):
    """A request that did not produce an answer (status, error, timeout)."""


class HttpClient:
    """One keep-alive connection; reconnects after an error."""

    def __init__(self, port: int):
        self.port = port
        self.conn = None

    def _connect(self):
        if self.conn is None:
            self.conn = http.client.HTTPConnection(
                "127.0.0.1", self.port, timeout=REQUEST_TIMEOUT_S
            )
        return self.conn

    def close(self) -> None:
        if self.conn is not None:
            self.conn.close()
            self.conn = None

    def query(self, sql: str, fmt: str = "json") -> tuple[bytes, float | None]:
        """POST /query; returns (body, seconds to the first body byte)."""
        t0 = time.perf_counter()
        try:
            conn = self._connect()
            conn.request(
                "POST", f"/query?format={fmt}", json.dumps({"query": sql}),
                {"Content-Type": "application/json"},
            )
            resp = conn.getresponse()
            first = resp.read(1)
            ttfb = time.perf_counter() - t0
            body = first + resp.read()
            status = resp.status
        except (OSError, http.client.HTTPException) as e:
            self.close()
            raise Failed(f"{type(e).__name__}: {e}") from e
        if status != 200:
            raise Failed(f"HTTP {status}: {body[:200]!r}")
        return body, ttfb


class FlightClient:
    def __init__(self, port: int):
        self.client = flight.connect(f"grpc://127.0.0.1:{port}")

    def query(self, sql: str, database: str | None):
        headers = [(b"database", database.encode())] if database else []
        opts = flight.FlightCallOptions(headers=headers, timeout=REQUEST_TIMEOUT_S)
        try:
            info = self.client.get_flight_info(flight.FlightDescriptor.for_command(sql), opts)
            return self.client.do_get(info.endpoints[0].ticket, opts).read_all()
        except (flight.FlightError, pa.ArrowException) as e:
            raise Failed(f"{type(e).__name__}: {e}") from e

    def close(self) -> None:
        self.client.close()
