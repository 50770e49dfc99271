"""Pre-fork multi-process HTTP serving — N worker processes accepting
on ONE shared listening socket, each with its own interpreter (own
GIL), own LocalSearcher decoded caches, and own thread pool.

Why: the single-process ThreadingHTTPServer serves a warm query in
~3.5 ms of pure-Python/numpy work, but all handler threads share one
GIL, so under a 100-concurrent burst the p99 stacks up to seconds
(BENCH/BASELINE.md §load).  The reference's server runs one search
runtime per hardware thread over shared mmap'd state
(/root/reference/src/query_disk_index.rs:711-736 — a thread-per-core
tokio runtime); CPython's GIL makes the PROCESS the unit that scales
across cores, so the equivalent shape here is the classic pre-fork
accept model: the parent binds + listens once, forks N workers, and
every worker blocks in accept(2) on the SAME socket — the kernel hands
each incoming connection to exactly one waiting worker, no userspace
load balancer, no proxy hop.

Each worker constructs its own LocalSearcher AFTER the fork (pyarrow
handles are not fork-safe to share).  Every worker memory-maps the
same per-epoch serving image files, so the postings pages sit once in
the host's page cache; the decoded caches are per-worker: a cold term
is decoded once per worker rather than once per host.  That is the standard pre-fork
trade — N× warm memory for N× GIL throughput — and the caches are
byte-budgeted, so worst-case resident memory is workers × budget.
"""

from __future__ import annotations

import json
import multiprocessing as mp
import os
import signal
import socket
import threading
import time
import urllib.request
from http.server import ThreadingHTTPServer


def _worker_main(
    sock: socket.socket, index_dir: str
) -> None:  # pragma: no cover - exercised via ForkServer in tests
    """Worker body: build THIS process's searcher, then serve forever
    on the inherited listening socket."""
    # restore default SIGTERM so parent.stop() terminates us cleanly
    signal.signal(signal.SIGTERM, signal.SIG_DFL)

    from .http_server import PresetStore, make_handler
    from .serve import LocalSearcher

    searcher = LocalSearcher(index_dir)
    presets = PresetStore(index_dir)
    handler = make_handler(searcher, presets)

    class _Worker(ThreadingHTTPServer):
        daemon_threads = True

        def __init__(self):
            # bind_and_activate=False: adopt the parent's already
            # bound+listening socket instead of binding our own
            super().__init__(
                sock.getsockname(), handler, bind_and_activate=False
            )
            self.socket.close()  # the fresh unbound one
            self.socket = sock

        def server_close(self):
            pass  # shared socket: the parent owns its lifetime

    _Worker().serve_forever(poll_interval=0.5)


class ForkServer:
    """N-process pre-fork server over one shared listening socket.

    Same constructor surface as SearchServer plus `workers`; start()
    polls /health until every worker's pid has answered (bounded by
    `timeout`), fails fast if a worker dies while starting, and —
    with supervise=True — re-forks any worker that dies later (the
    reference keeps its per-thread runtimes alive for the process
    lifetime; here the process is the unit, so supervision is the
    analogue).  stop() SIGTERMs the workers and closes the socket."""

    def __init__(
        self,
        index_dir: str,
        workers: int | None = None,
        host: str = "127.0.0.1",
        port: int = 0,
        supervise: bool = False,
    ):
        self.workers = workers or min(8, os.cpu_count() or 1)
        self._sock = socket.socket(socket.AF_INET, socket.SOCK_STREAM)
        self._sock.setsockopt(socket.SOL_SOCKET, socket.SO_REUSEADDR, 1)
        self._sock.bind((host, port))
        self._sock.listen(128)  # match _Server.request_queue_size
        self.host = host
        self.port = self._sock.getsockname()[1]
        self.supervise = supervise
        self.refork_count = 0
        # supervision guard rails (ADVICE r07): a persistent failure
        # (index dir gone, corrupt serving image) would otherwise hot-loop
        # ~5 forks/s forever, each paying a full LocalSearcher build
        self.max_reforks = 50
        self.refork_backoff_start = 0.5
        self.refork_backoff_max = 30.0
        self.supervisor_gave_up = False
        # set by start(): how many distinct worker pids answered
        # /health before the deadline (== workers when coverage is
        # full; load harnesses assert on it instead of trusting a
        # silent shortfall)
        self.ready_workers = 0
        # fork (not spawn): the workers inherit the listening fd
        # directly and skip a full reimport; the child touches only
        # stdlib + pyarrow + numpy after the fork
        self._ctx = mp.get_context("fork")
        self._worker_args = (self._sock, index_dir)
        self._procs = [self._fork_one() for _ in range(self.workers)]
        self._supervisor: threading.Thread | None = None
        self._stopping = threading.Event()

    def _fork_one(self):
        return self._ctx.Process(
            target=_worker_main, args=self._worker_args, daemon=True
        )

    def _health_pid(self) -> int | None:
        try:
            with urllib.request.urlopen(
                f"http://{self.host}:{self.port}/health", timeout=5
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
                f"{len(dead)}/{self.workers} worker(s) died during "
                f"startup (exitcodes "
                f"{[p.exitcode for p in dead]}) — see worker stderr"
            )

    def start(self, timeout: float = 60.0) -> "ForkServer":
        from concurrent.futures import ThreadPoolExecutor

        for p in self._procs:
            p.start()
        deadline = time.time() + timeout
        # readiness = every worker pid has answered /health at least
        # once (bounded by `timeout`).  A worker that died post-fork
        # (bad index path, OOM) never answers — check exitcodes each
        # lap and fail FAST instead of timing out.
        seen: set[int] = set()
        while not seen:  # phase 1: socket live at all?
            self._check_startup_deaths()
            if time.time() > deadline:
                raise TimeoutError(
                    f"no worker became healthy within {timeout}s"
                )
            pid = self._health_pid()
            if pid is not None:
                seen.add(pid)
            else:
                time.sleep(0.05)
        # phase 2: cover every worker.  The kernel's accept wake-up is
        # ~LIFO, so a SERIAL probe stream revisits the same idle
        # worker forever; concurrent bursts force distribution (a
        # worker busy on one probe lets a sibling accept the next).
        with ThreadPoolExecutor(min(2 * self.workers, 16)) as ex:
            while len(seen) < self.workers and time.time() < deadline:
                self._check_startup_deaths()
                for pid in ex.map(
                    lambda _: self._health_pid(), range(4 * self.workers)
                ):
                    if pid is not None:
                        seen.add(pid)
        # len(seen) < workers at deadline with all alive = accept
        # starvation under a loaded box, not failure: socket is live
        # and every worker process is running — proceed, but RECORD the
        # shortfall (VERDICT r07 #5: returning silently hid it from
        # load harnesses, which must assert full coverage themselves).
        self.ready_workers = len(seen)
        if self.ready_workers < self.workers:
            import logging

            logging.getLogger(__name__).warning(
                "ForkServer.start: only %d/%d workers answered /health "
                "before the %.0fs deadline (all processes alive — "
                "accept starvation, not failure)",
                self.ready_workers, self.workers, timeout,
            )
        if self.supervise:
            self._supervisor = threading.Thread(
                target=self._supervise_loop, daemon=True
            )
            self._supervisor.start()
        return self

    def _supervise_loop(self, poll: float = 0.2) -> None:
        """Re-fork any worker that exits while serving.  The shared
        listening socket stays open in the parent, so a replacement
        worker joins the accept queue with zero connection loss for
        requests not in flight on the dead worker.

        Crash-loop protection (ADVICE r07): rapid successive deaths
        back off exponentially (0.5 s doubling to 30 s), and after
        max_reforks reforks in one such streak the supervisor stops and
        logs loudly instead of forking ~5/s against a persistent
        failure forever.  A death after the previous replacement served
        past the backoff window ends the streak: backoff and
        refork_count both reset, so sporadic deaths spread over weeks
        never exhaust the cap."""
        import logging

        log = logging.getLogger(__name__)
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
                            "ForkServer supervisor: %d reforks "
                            "exhausted (persistent worker failure, "
                            "last exitcode %s) — giving up; serving "
                            "continues on %d live worker(s)",
                            self.refork_count, p.exitcode,
                            self.alive_workers(),
                        )
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

    def __enter__(self) -> "ForkServer":
        return self.start()

    def __exit__(self, *exc) -> None:
        self.stop()
