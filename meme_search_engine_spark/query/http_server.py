"""HTTP query server — the reference's online API surface
(POST / with weighted terms: /root/reference/mse.py:37-47 and
src/main.rs:1044-1050 QueryRequest) re-hosted over LocalSearcher.

POST / takes {"query": "free text", "top_k": 10}, weighted terms
{"text": [["query terms", weight], ...], "top_k": 10} (the mse.py
subset), or {"preset": "name", "top_k": 10}: a named term-weight preset
stored in the index dir (the reference's predefined_embeddings,
src/main.rs:102-127,976-985), saved by {"save_preset": "name", "text":
[...]} and listed by GET /presets.  It answers {"matches": [{"rank",
"doc_id", "score", "score_fixed", "url"}, ...]}.

Serving core (stdlib socket + threading): POOL_THREADS threads loop on
accept(2) of one listening socket, as the reference serves from a
fixed set of runtime threads (query_disk_index.rs:711-736).  A thread
reads one request (request line, headers up to _MAX_HEAD bytes, a
Content-Length body) within _TIMEOUT_S, sends the HTTP/1.0 reply in one
sendall and closes the connection.  Against ThreadingHTTPServer (a
thread per connection, headers parsed by email.feedparser) server CPU
per sequential request fell 0.30 -> 0.07 ms for GET /health and 1.17 ->
0.83 ms for a warm query (medians of 6 runs on one pinned CPU of a
4-vCPU host, 6,000-page index).

Every POST and every unreadable request gets one reply and one count
in /metrics: 200 for an answer; 400 as kind="invalid" for a malformed
body (not a JSON object, bad top_k, unknown field or shape) or request
(garbled request line, no single integer Content-Length on a POST, a
body shorter than it, headers over the cap, unknown method); 404 for an
unknown preset; 500 as kind="internal" for any other failure.  A silent
client is closed uncounted at the timeout.  GET /metrics also carries
LocalSearcher.counts (decoded term cache, docmeta reloads).
"""

from __future__ import annotations

import errno
import json
import logging
import os
import socket
import threading
import time

from .serve import LocalSearcher

# request field that selects the query shape -> metrics kind, in
# routing priority order
_SHAPES = {"save_preset": "save_preset", "preset": "preset",
           "text": "weighted", "query": "simple"}
_FIELDS = frozenset(_SHAPES) | {"top_k"}
MAX_TOP_K = 10_000
# Accept-loop threads per process.  The GIL runs one at a time, so more
# add no CPU; 4 overlap socket waits, keep a few slow or silent clients
# (each held for at most _TIMEOUT_S) from stalling the rest, and match
# perfbench's client concurrency.
POOL_THREADS = 4
_TIMEOUT_S = 5.0  # per request, from accept to its last body byte
_MAX_HEAD = 64 * 1024
_MAX_BODY = 1 << 20
_REASONS = {200: b"OK", 400: b"Bad Request", 404: b"Not Found",
            500: b"Internal Server Error"}
log = logging.getLogger(__name__)


def listen(host: str, port: int) -> socket.socket:
    """A TCP socket on (host, port) with a listen backlog of 128: a
    backlog of 5 overflows under a 100-concurrent burst (perf_test.py)."""
    sock = socket.socket(socket.AF_INET, socket.SOCK_STREAM)
    sock.setsockopt(socket.SOL_SOCKET, socket.SO_REUSEADDR, 1)
    sock.bind((host, port))
    sock.listen(128)
    return sock


def _recv(conn: socket.socket, deadline: float) -> bytes:
    """The client's next bytes; b"" at EOF, reset or past `deadline`."""
    try:
        conn.settimeout(max(deadline - time.monotonic(), 1e-3))
        return conn.recv(65536)
    except OSError:
        return b""


def _read_request(conn: socket.socket) -> tuple[bytes, bytes, bytes] | None:
    """(method, path, body) of one request; None when the client sent
    nothing; ValueError when it is malformed or incomplete."""
    deadline = time.monotonic() + _TIMEOUT_S
    buf = b""
    while (end := buf.find(b"\r\n\r\n")) < 0 and len(buf) <= _MAX_HEAD:
        if not (chunk := _recv(conn, deadline)):
            if not buf:
                return None
            raise ValueError("request ended inside the header block")
        buf += chunk
    if not 0 <= end <= _MAX_HEAD:
        raise ValueError(f"header block over {_MAX_HEAD} bytes")
    request_line, *headers = buf[:end].split(b"\r\n")
    parts = request_line.split()
    if len(parts) != 3 or not parts[2].startswith(b"HTTP/"):
        raise ValueError("malformed request line")
    if parts[0] == b"GET":
        return b"GET", parts[1], b""
    if parts[0] != b"POST":
        raise ValueError("unsupported method")
    lengths = [
        int(value)  # ValueError when not an integer
        for name, _, value in (h.partition(b":") for h in headers)
        if name.strip().lower() == b"content-length"
    ]
    if len(lengths) != 1 or not 0 <= lengths[0] <= _MAX_BODY:
        raise ValueError(f"POST needs one Content-Length in [0, {_MAX_BODY}]")
    body = buf[end + 4:]
    while len(body) < lengths[0]:
        if not (chunk := _recv(conn, deadline)):
            raise ValueError("body ended before Content-Length")
        body += chunk
    return b"POST", parts[1], body[: lengths[0]]


def _reply(conn: socket.socket, code: int, body: bytes,
           ctype: bytes = b"application/json") -> None:
    conn.settimeout(_TIMEOUT_S)  # not what is left of the read deadline
    conn.sendall(b"HTTP/1.0 %d %s\r\nContent-Type: %s\r\nContent-Length: %d\r\n"
                 b"Connection: close\r\n\r\n%s"
                 % (code, _REASONS[code], ctype, len(body), body))


def _linger(conn: socket.socket) -> None:
    """Half-close, then drain what the client still sends (for at most
    1 s), so close() does not reset away a reply to a request that was
    rejected before it was read whole."""
    try:
        conn.shutdown(socket.SHUT_WR)
    except OSError:
        return
    deadline = time.monotonic() + 1.0
    while _recv(conn, deadline):
        pass


def _accept_loop(sock: socket.socket, handle) -> None:
    while True:
        try:
            conn, _ = sock.accept()
        except OSError as e:
            if e.errno in (errno.EINVAL, errno.EBADF):
                return  # the listening socket was shut down or closed
            time.sleep(0.01)  # e.g. out of fds: retry without spinning
            continue
        with conn:
            try:
                handle(conn)
            except (ConnectionError, TimeoutError):
                pass  # the client went away or stopped reading
            except Exception:
                log.exception("connection handler failed")


def serve_pool(sock: socket.socket, handle) -> list[threading.Thread]:
    """Start POOL_THREADS daemon threads that each accept on `sock` and
    run `handle(conn)` per connection, until `sock` is shut down."""
    threads = [threading.Thread(target=_accept_loop, args=(sock, handle), daemon=True)
               for _ in range(POOL_THREADS)]
    for t in threads:
        t.start()
    return threads


class PresetStore:
    """Named term-weight presets persisted next to the index —
    the reference's predefined_embeddings table (main.rs:102-127):
    register once, query by name forever."""

    def __init__(self, index_dir: str):
        self._path = os.path.join(index_dir, "presets.json")
        self._presets: dict[str, list] = {}
        # pool threads call save()/get() concurrently: guard the dict
        # and serialize writers so two saves can't interleave on the
        # same temp file and rename a torn JSON into place
        self._lock = threading.Lock()
        self._mtime_ns = -1
        self._reload_locked()

    def _reload_locked(self) -> None:
        """Refresh from disk when the file changed.  presets.json is
        the state pre-fork workers (mp_server) share, so every read
        re-checks its mtime (one stat) and sees any worker's save."""
        try:
            st = os.stat(self._path)
        except OSError:
            return
        if st.st_mtime_ns != self._mtime_ns:
            with open(self._path) as fh:
                self._presets = json.load(fh)
            self._mtime_ns = st.st_mtime_ns

    def names(self) -> list[str]:
        with self._lock:
            self._reload_locked()
            return sorted(self._presets)

    def get(self, name: str) -> list[tuple[str, float]] | None:
        with self._lock:
            self._reload_locked()
            if name not in self._presets:  # empty list != missing
                return None
            return [(str(t), float(w)) for t, w in self._presets[name]]

    def save(self, name: str, terms: list[tuple[str, float]]) -> None:
        with self._lock:
            # merge-on-save under an INTER-process lock, so two workers
            # saving different names never drop each other's entry.
            # flock a sidecar (os.replace swaps the data file's inode)
            # for the whole reload+write+swap.
            import fcntl

            with open(f"{self._path}.lock", "w") as lockfh:
                fcntl.flock(lockfh, fcntl.LOCK_EX)
                self._reload_locked()
                self._presets[name] = [[t, w] for t, w in terms]
                tmp = f"{self._path}.{os.getpid()}.{threading.get_ident()}.tmp"
                with open(tmp, "w") as fh:
                    json.dump(self._presets, fh, indent=1)
                os.replace(tmp, self._path)  # atomic swap, like the manifest
                try:
                    self._mtime_ns = os.stat(self._path).st_mtime_ns
                except OSError:
                    pass


class Metrics:
    """Process-local query metrics in Prometheus text exposition
    format — the reference's monitoring surface (main.rs
    QUERIES_COUNTER / TERMS_COUNTER and the axum /metrics route)."""

    def __init__(self):
        self._lock = threading.Lock()
        self._counts: dict[str, int] = {}
        self._lat_ms: list[float] = []  # bounded reservoir

    def observe(self, kind: str, ms: float, ok: bool) -> None:
        with self._lock:
            key = kind if ok else f"{kind}_error"
            self._counts[key] = self._counts.get(key, 0) + 1
            if ok:
                self._lat_ms.append(ms)
                if len(self._lat_ms) > 4096:
                    self._lat_ms = self._lat_ms[-2048:]

    def render(self, searcher_counts: dict[str, int]) -> str:
        """The exposition text; `searcher_counts` (LocalSearcher.counts)
        become one mse_<name>_total counter each."""
        with self._lock:
            lines = ["# TYPE mse_queries_total counter"]
            for key in sorted(self._counts):
                lines.append(f'mse_queries_total{{kind="{key}"}} {self._counts[key]}')
            for name, v in sorted(searcher_counts.items()):
                lines.append(f"# TYPE mse_{name}_total counter")
                lines.append(f"mse_{name}_total {v}")
            lat = sorted(self._lat_ms)
            if lat:
                lines.append("# TYPE mse_query_latency_ms summary")
                for q, name in ((0.5, "0.5"), (0.9, "0.9"), (0.99, "0.99")):
                    v = lat[min(int(q * len(lat)), len(lat) - 1)]
                    lines.append(f'mse_query_latency_ms{{quantile="{name}"}} {v:.3f}')
                lines.append(f"mse_query_latency_ms_count {len(lat)}")
            return "\n".join(lines) + "\n"


def make_handler(searcher: LocalSearcher, presets: PresetStore,
                 metrics: Metrics | None = None):
    """handle(conn): read one request from an accepted connection and
    send its one reply."""
    metrics = metrics or Metrics()

    def parse(raw: bytes) -> tuple[str, dict, int]:
        """(shape, request, k) of a POST body; ValueError/TypeError
        when it is malformed."""
        req = json.loads(raw or b"{}")
        if not isinstance(req, dict):
            raise ValueError("body must be a JSON object")
        unknown = sorted(set(req) - _FIELDS)
        shape = next((f for f in _SHAPES if f in req), None)
        if unknown or shape is None:
            raise ValueError(
                f"query shape not supported (unknown fields {unknown}); "
                "need 'text', 'query', or 'preset'"
            )
        k = int(req.get("top_k", 10))
        if not 1 <= k <= MAX_TOP_K:
            raise ValueError(f"top_k must be in [1, {MAX_TOP_K}]")
        return shape, req, k

    def answer(shape: str, req: dict, k: int) -> tuple[int, dict]:
        if shape == "save_preset":
            if "text" not in req:
                return 400, {"error": "save_preset needs 'text' terms"}
            terms = [(str(t), float(w)) for t, w in req["text"]]
            presets.save(str(req["save_preset"]), terms)
            return 200, {"saved": str(req["save_preset"])}
        if shape == "preset":
            terms = presets.get(str(req["preset"]))
            if terms is None:
                return 404, {"error": f"unknown preset {req['preset']!r}"}
            matches = searcher.search_weighted(terms, k, with_urls=True)
        elif shape == "text":
            terms = [(str(t), float(w)) for t, w in req["text"]]
            matches = searcher.search_weighted(terms, k, with_urls=True)
        else:
            matches = searcher.search(str(req["query"]), k, with_urls=True)
        return 200, {"matches": matches}

    def post(raw: bytes) -> tuple[int, dict]:
        kind, ms = "invalid", 0.0
        try:
            shape, req, k = parse(raw)
            kind = _SHAPES[shape]
            t0 = time.time()
            code, payload = answer(shape, req, k)
            ms = (time.time() - t0) * 1000.0
        except (TypeError, ValueError) as e:
            code, payload = 400, {"error": f"bad request: {e}"}
        except Exception as e:
            log.exception("query failed")
            kind = "internal"
            code, payload = 500, {"error": f"internal error: {type(e).__name__}"}
        metrics.observe(kind, ms, ok=code == 200)
        return code, payload

    def handle(conn: socket.socket) -> None:
        try:
            request = _read_request(conn)
        except ValueError as e:
            metrics.observe("invalid", 0.0, ok=False)
            _reply(conn, 400, json.dumps({"error": f"bad request: {e}"}).encode())
            return _linger(conn)
        if request is None:
            return  # connected and sent nothing: not a request
        method, path, body = request
        if method == b"POST":
            code, payload = post(body)
        elif path == b"/metrics":
            text = metrics.render(searcher.counts()).encode()
            return _reply(conn, 200, text, b"text/plain; version=0.0.4")
        elif path == b"/presets":
            code, payload = 200, {"presets": presets.names()}
        elif path == b"/health":
            code, payload = 200, {
                "status": "ok",
                # which process answered — observable worker spread
                # for the pre-fork server (mp_server)
                "pid": os.getpid(),
                "n_docs": searcher.stats["N"],
                "avgdl": searcher.stats["avgdl"],
            }
        else:
            code, payload = 404, {"error": "POST / with a JSON query"}
        _reply(conn, code, json.dumps(payload).encode())

    return handle


class SearchServer:
    """HTTP server over one LocalSearcher, served by a fixed pool of
    accept-loop threads (start()/stop()); the reference's axum/aiohttp
    server role."""

    def __init__(self, index_dir: str, host: str = "127.0.0.1", port: int = 0):
        self.searcher = LocalSearcher(index_dir)
        self.presets = PresetStore(index_dir)
        self._handle = make_handler(self.searcher, self.presets)
        self._sock = listen(host, port)
        self.port = self._sock.getsockname()[1]
        self._threads: list[threading.Thread] = []

    def start(self) -> "SearchServer":
        self._threads = serve_pool(self._sock, self._handle)
        return self

    def stop(self) -> None:
        """Stop accepting, join the pool threads (each first finishes its
        connection) and close the socket; also for a never-started server."""
        try:
            # wakes every thread blocked in accept() with EINVAL
            self._sock.shutdown(socket.SHUT_RDWR)
        except OSError:
            pass
        for t in self._threads:
            t.join(timeout=2 * _TIMEOUT_S)
        self._sock.close()


def main() -> None:  # pragma: no cover - manual entry point
    import argparse

    ap = argparse.ArgumentParser()
    ap.add_argument("--index", required=True)
    ap.add_argument("--host", default="127.0.0.1")
    ap.add_argument("--port", type=int, default=8080)
    args = ap.parse_args()
    server = SearchServer(args.index, args.host, args.port)
    print(f"serving BM25 queries on {args.host}:{server.port}")
    server.start()
    try:
        threading.Event().wait()
    except KeyboardInterrupt:
        server.stop()


if __name__ == "__main__":  # pragma: no cover
    main()
