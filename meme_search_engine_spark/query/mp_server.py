"""Pre-fork multi-process HTTP serving: N worker processes, each with
its own interpreter (own GIL), LocalSearcher caches and pool of
http_server.POOL_THREADS accept-loop threads, all accepting on ONE
listening socket.

One process serves a warm query in ~0.8 ms of CPU (the searcher's
~0.6 ms plus the pool core's request work), but its threads share one
GIL.  The reference runs one search runtime per hardware thread over
shared mmap'd state (src/query_disk_index.rs:711-736);
under CPython the PROCESS is the unit that scales across cores, so the
equivalent is the classic pre-fork model: the parent listens once
(http_server.listen) and forks N workers, and the kernel hands each
connection to exactly one thread blocked in accept(2), with no load
balancer or proxy hop.

Each worker builds its LocalSearcher AFTER the fork (pyarrow handles
are not fork-safe to share).  The workers map the same serving image
files, so the postings sit once in the page cache; the decoded caches
are per worker (N× warm memory for N× GIL throughput, bounded by
workers × the caches' byte budget).
"""

from __future__ import annotations

import json
import logging
import multiprocessing as mp
import os
import signal
import socket
import threading
import time
import urllib.request
from concurrent.futures import ThreadPoolExecutor

from .http_server import listen

log = logging.getLogger(__name__)

# start()'s /health probe timeout: a probe no worker accepts waits this
# long in the listen backlog before the next exit-code check, so it
# bounds how late a worker that died at startup is reported
_PROBE_TIMEOUT_S = 0.5


def _worker_main(
    sock: socket.socket, index_dir: str
) -> None:  # pragma: no cover - exercised via ForkServer in tests
    """Build THIS process's searcher, then serve forever on the
    inherited socket; restore default SIGTERM so stop() ends us."""
    signal.signal(signal.SIGTERM, signal.SIG_DFL)

    from .http_server import PresetStore, make_handler, serve_pool
    from .serve import LocalSearcher

    handle = make_handler(LocalSearcher(index_dir), PresetStore(index_dir))
    for t in serve_pool(sock, handle):
        t.join()


class ForkServer:
    """N-process pre-fork server over one shared listening socket.

    SearchServer's constructor plus `workers`.  start() polls /health
    until every worker's pid has answered (bounded by `timeout`) and
    fails fast if a worker dies while starting; supervise=True re-forks
    a worker that dies later, as the reference keeps its runtimes alive
    for the process lifetime.  stop() SIGTERMs the workers and closes
    the socket."""

    def __init__(self, index_dir: str, workers: int | None = None,
                 host: str = "127.0.0.1", port: int = 0, supervise: bool = False):
        self.workers = workers or min(8, os.cpu_count() or 1)
        self._sock = listen(host, port)
        self.host = host
        self.port = self._sock.getsockname()[1]
        self.supervise = supervise
        self.refork_count = 0
        # supervision guard rails: a persistent failure (index dir
        # gone, corrupt serving image) would otherwise re-fork ~5/s
        # forever, each paying a full LocalSearcher build
        self.max_reforks = 50
        self.refork_backoff_start = 0.5
        self.refork_backoff_max = 30.0
        self.supervisor_gave_up = False
        # set by start(): distinct worker pids that answered /health
        # before the deadline; load harnesses assert it == workers
        self.ready_workers = 0
        # fork (not spawn): the workers inherit the listening fd and
        # skip a full reimport
        self._ctx = mp.get_context("fork")
        self._worker_args = (self._sock, index_dir)
        self._procs = [self._fork_one() for _ in range(self.workers)]
        self._supervisor: threading.Thread | None = None
        self._stopping = threading.Event()

    def _fork_one(self):
        return self._ctx.Process(target=_worker_main, args=self._worker_args, daemon=True)

    def _health_pid(self) -> int | None:
        try:
            with urllib.request.urlopen(
                f"http://{self.host}:{self.port}/health",
                timeout=_PROBE_TIMEOUT_S,
            ) as resp:
                if resp.status == 200:
                    return json.loads(resp.read())["pid"]
        except OSError:
            pass
        return None

    def _check_startup_deaths(self) -> None:
        dead = [p for p in self._procs if p.exitcode is not None]
        if dead:
            raise RuntimeError(
                f"{len(dead)}/{self.workers} worker(s) died during startup "
                f"(exitcodes {[p.exitcode for p in dead]}) — see worker stderr")

    def start(self, timeout: float = 60.0) -> "ForkServer":
        for p in self._procs:
            p.start()
        deadline = time.time() + timeout
        # Probe /health in concurrent bursts until every worker pid has
        # answered: a worker busy on one probe lets a sibling accept the
        # next.  A worker that died post-fork (bad index path, OOM)
        # never answers, so check exitcodes each lap (at most
        # _PROBE_TIMEOUT_S apart) and fail fast.
        seen: set[int] = set()
        n_probes = min(2 * self.workers, 16)
        with ThreadPoolExecutor(n_probes) as ex:
            while len(seen) < self.workers and time.time() < deadline:
                self._check_startup_deaths()
                burst = ex.map(lambda _: self._health_pid(), range(n_probes))
                seen.update(pid for pid in burst if pid is not None)
                if not seen:
                    time.sleep(0.05)
        if not seen:
            raise TimeoutError(f"no worker became healthy within {timeout}s")
        # fewer pids than workers, all alive: accept starvation on a
        # loaded box, not failure — proceed, but record the shortfall
        self.ready_workers = len(seen)
        if self.ready_workers < self.workers:
            log.warning(
                "ForkServer.start: only %d/%d workers answered /health before "
                "the %.0fs deadline (all alive: accept starvation, not failure)",
                self.ready_workers, self.workers, timeout)
        if self.supervise:
            self._supervisor = threading.Thread(target=self._supervise_loop, daemon=True)
            self._supervisor.start()
        return self

    def _supervise_loop(self, poll: float = 0.2) -> None:
        """Re-fork any worker that exits while serving; the parent keeps
        the listening socket open, so only the dead worker's in-flight
        requests are lost.  Rapid successive deaths back off (0.5 s
        doubling to 30 s), and after max_reforks reforks in one such
        streak the supervisor logs and stops.  A death after the last
        replacement served past the backoff window ends the streak and
        resets backoff and refork_count."""
        backoff = self.refork_backoff_start
        last_refork = 0.0
        while not self._stopping.wait(poll):
            for i, p in enumerate(self._procs):
                if p.exitcode is not None and not self._stopping.is_set():
                    streak = time.monotonic() - last_refork < backoff + poll
                    if not streak:
                        backoff = self.refork_backoff_start
                        self.refork_count = 0
                    if self.refork_count >= self.max_reforks:
                        self.supervisor_gave_up = True
                        log.error(
                            "ForkServer supervisor: %d reforks exhausted "
                            "(last exitcode %s), giving up; %d worker(s) "
                            "still serving", self.refork_count, p.exitcode,
                            self.alive_workers())
                        return
                    if streak:
                        # died again within the backoff window: wait
                        # and double (bounded), interruptible by stop()
                        if self._stopping.wait(backoff):
                            return
                        backoff = min(backoff * 2, self.refork_backoff_max)
                    p.join()  # reap
                    fresh = self._fork_one()
                    fresh.start()
                    self._procs[i] = fresh
                    self.refork_count += 1
                    last_refork = time.monotonic()

    def alive_workers(self) -> int:
        return sum(p.is_alive() for p in self._procs)

    def stop(self) -> None:
        self._stopping.set()
        if self._supervisor is not None:
            self._supervisor.join(timeout=5)
        for p in self._procs:
            if p.is_alive():
                p.terminate()
        for p in self._procs:
            p.join(timeout=10)
        self._sock.close()
