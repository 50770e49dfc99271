"""Serving half of a run: a `SearchServer` in a child process, driven
over real HTTP by an open-loop generator in this process.

The generator sends request i at t0 + i / rate from a few threads and
times each request from that scheduled send time, so a stall also
delays the requests queued behind it.  The generator and the server
each run on CPUs of their own.
"""

from __future__ import annotations

import http.client
import json
import math
import os
import re
import statistics
import subprocess
import sys
import threading
import time
from concurrent.futures import ThreadPoolExecutor

HERE = os.path.dirname(os.path.abspath(__file__))


def pct(values: list[float], p: float) -> float:
    s = sorted(values)
    return s[max(0, math.ceil(p / 100.0 * len(s)) - 1)]


class ServerProcess:
    def __init__(self, root: str, index_dir: str, cpus: list[int],
                 timeout_s: float = 60.0):
        self.proc = subprocess.Popen(
            [sys.executable, os.path.join(HERE, "server_child.py"), root, index_dir,
             ",".join(map(str, cpus))],
            stdin=subprocess.PIPE,
            stdout=subprocess.PIPE,
            text=True,
        )
        line = self._readline(timeout_s)
        if not line:
            self.stop()
            raise RuntimeError("search server child exited before listening")
        self.port = int(json.loads(line)["port"])

    def _readline(self, timeout_s: float) -> str:
        box: list[str] = []
        t = threading.Thread(target=lambda: box.append(self.proc.stdout.readline()))
        t.start()
        t.join(timeout_s)
        return box[0] if box else ""

    def vm_hwm_mb(self) -> float:
        with open(f"/proc/{self.proc.pid}/status") as fh:
            for line in fh:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1]) / 1024.0
        raise RuntimeError("no VmHWM for the server process")

    def cpu_s(self) -> float:
        """User + system CPU seconds of the server process so far."""
        self.proc.stdin.write("cpu\n")
        self.proc.stdin.flush()
        line = self._readline(10.0)
        if not line:
            raise RuntimeError("search server child did not report its CPU time")
        return float(json.loads(line)["cpu_s"])

    def get(self, path: str) -> tuple[int, bytes]:
        return request(self.port, "GET", path, None, 10.0)

    def stop(self) -> None:
        try:
            self.proc.stdin.close()
            self.proc.wait(timeout=15)
        except subprocess.TimeoutExpired:
            self.proc.kill()
            self.proc.wait(timeout=15)
        finally:
            self.proc.stdout.close()


def request(port: int, method: str, path: str, body: bytes | None, timeout: float):
    conn = http.client.HTTPConnection("127.0.0.1", port, timeout=timeout)
    try:
        headers = {"Content-Type": "application/json"} if body is not None else {}
        conn.request(method, path, body, headers)
        r = conn.getresponse()
        return r.status, r.read()
    finally:
        conn.close()


class Step:
    """One open-loop step: latencies (ms from the scheduled send),
    generator lateness (ms the send started after it was both due and a
    thread was free to send it), statuses and the bodies of the first
    `keep` responses."""

    def __init__(self, name: str, rate: float, n: int, tail_pct: float):
        self.name, self.rate, self.n, self.tail_pct = name, rate, n, tail_pct
        self.lat = [0.0] * n
        self.late = [0.0] * n
        self.status = [0] * n
        self.bodies: dict[int, bytes] = {}

    @property
    def failed(self) -> int:
        return sum(s != 200 for s in self.status)

    def p50(self) -> float:
        return statistics.median(self.lat)

    def tail(self) -> float:
        return pct(self.lat, self.tail_pct)

    def passes(self, limit_ms: float) -> bool:
        """Nothing failed, the tail meets the limit, and so does the
        median of the last fifth: a backlog still growing at the end of
        the step pushes that median past the limit."""
        last = self.lat[-max(1, self.n // 5):]
        return (self.failed == 0 and self.tail() <= limit_ms
                and statistics.median(last) <= limit_ms)


class Generator:
    """Open-loop load from `threads` threads of this process."""

    def __init__(self, port: int, threads: int, timeout_s: float, tail_pct: float):
        self.port, self.threads = port, threads
        self.timeout_s, self.tail_pct = timeout_s, tail_pct

    def open_loop(self, name: str, rate: float, payloads: list[bytes | None],
                  keep: int = 0) -> Step:
        """payloads[i] is a POST body, or None for GET /health."""
        step = Step(name, rate, len(payloads), self.tail_pct)
        nxt = iter(range(len(payloads)))
        lock = threading.Lock()
        t0 = time.perf_counter() + 0.02

        def worker():
            while True:
                with lock:
                    i = next(nxt, None)
                if i is None:
                    return
                # a thread still busy with a slow reply when request i fell
                # due delays it on the server's account, not the generator's
                free = time.perf_counter()
                due = t0 + i / rate
                wait = due - free
                if wait > 0:
                    time.sleep(wait)
                sent = time.perf_counter()
                body = payloads[i]
                try:
                    if body is None:
                        status, data = request(self.port, "GET", "/health", None,
                                               self.timeout_s)
                    else:
                        status, data = request(self.port, "POST", "/", body,
                                               self.timeout_s)
                except OSError:
                    status, data = -1, b""
                end = time.perf_counter()
                step.lat[i] = (end - due) * 1000.0
                step.late[i] = (sent - max(due, free)) * 1000.0
                step.status[i] = status
                if i < keep:
                    step.bodies[i] = data

        ts = [threading.Thread(target=worker) for _ in range(self.threads)]
        for t in ts:
            t.start()
        for t in ts:
            t.join()
        return step

    def closed_loop(self, payloads: list[bytes]) -> int:
        """Send every payload once with `threads` callers; -> failures."""
        def one(body):
            try:
                return request(self.port, "POST", "/", body, self.timeout_s)[0] != 200
            except OSError:
                return True

        with ThreadPoolExecutor(self.threads) as ex:
            return sum(ex.map(one, payloads))


_Q = re.compile(r'mse_query_latency_ms\{quantile="([0-9.]+)"\} ([0-9.]+)')
_C = re.compile(r'mse_queries_total\{kind="([^"]+)"\} ([0-9]+)')


def scrape(server: ServerProcess) -> dict:
    status, body = server.get("/metrics")
    if status != 200:
        raise RuntimeError(f"/metrics answered {status}")
    text = body.decode()
    return {
        "quantiles": {q: float(v) for q, v in _Q.findall(text)},
        "errors": sum(int(v) for k, v in _C.findall(text) if k.endswith("_error")),
    }


def body_of(q: dict, k: int = 10) -> bytes:
    return json.dumps({**q, "top_k": k}).encode()
