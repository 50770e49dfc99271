"""HTTP query server — the reference's online API surface
(POST / with weighted terms: /root/reference/mse.py:37-47 and
src/main.rs:1044-1050 QueryRequest) re-hosted over LocalSearcher.

stdlib-only (http.server): no web framework in this environment.
Request JSON (mse.py-compatible subset):
    {"text": [["query terms", weight], ...], "top_k": 10}
or the simple form:
    {"query": "free text", "top_k": 10}
or a saved preset (the reference's predefined_embeddings — reusable
named query vectors registered server-side, src/main.rs:102-127,
976-985 — as named term-weight presets stored in the index dir):
    {"preset": "name", "top_k": 10}
Response JSON:
    {"matches": [{"rank", "doc_id", "score", "score_fixed"}, ...]}

GET /presets lists saved presets; PUT semantics via
{"save_preset": "name", "text": [[...], ...]} persist one.

Every POST gets exactly one reply and one count in /metrics: 200 for
an answer, 400 for a malformed body (not a JSON object, a bad top_k,
an unknown field or query shape), 404 for an unknown preset, and a
500 counted as kind="internal" for any other failure.  GET /metrics
also carries the searcher's decoded term cache counters
(mse_term_cache_{hits,misses,evictions}_total) and how often it
reloaded the resident docmeta (mse_docmeta_reloads_total).
"""

from __future__ import annotations

import json
import logging
import os
import threading
import time
from http.server import BaseHTTPRequestHandler, ThreadingHTTPServer

from .serve import LocalSearcher

# request field that selects the query shape -> metrics kind, in
# routing priority order
_SHAPES = {
    "save_preset": "save_preset",
    "preset": "preset",
    "text": "weighted",
    "query": "simple",
}
_FIELDS = frozenset(_SHAPES) | {"top_k"}
MAX_TOP_K = 10_000


class _Server(ThreadingHTTPServer):
    # socketserver's default listen backlog is 5: a 100-concurrent
    # client burst (the reference's perf_test.py shape) overflows it
    # and connections get RST before accept.  The reference's tokio
    # listener has no such cap; match it.
    request_queue_size = 128
    daemon_threads = True


class PresetStore:
    """Named term-weight presets persisted next to the index —
    the reference's predefined_embeddings table (main.rs:102-127):
    register once, query by name forever."""

    def __init__(self, index_dir: str):
        self._path = os.path.join(index_dir, "presets.json")
        self._presets: dict[str, list] = {}
        # ThreadingHTTPServer handlers call save()/get() concurrently:
        # guard the dict and serialize writers so two saves can't
        # interleave on the same temp file and rename a torn JSON into
        # place (ADVICE r02)
        self._lock = threading.Lock()
        self._mtime_ns = -1
        self._reload_locked()

    def _reload_locked(self) -> None:
        """Refresh from disk when the file changed.  presets.json is
        the shared state between pre-fork workers (mp_server): a save
        through one worker process must be visible to queries routed
        to any OTHER worker, so every read path re-checks the file's
        mtime (one stat) before answering."""
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
            # merge-on-save under an INTER-process lock: threading.Lock
            # only serializes threads of this worker, but presets.json
            # is shared across pre-fork workers (mp_server) — two
            # workers saving different names concurrently could both
            # reload, then the second os.replace would drop the first
            # worker's new entry.  flock a sidecar (not the data file:
            # os.replace swaps the inode the lock lives on) for the
            # whole reload+write+swap, so last-writer-wins is per NAME,
            # never a sibling's whole entry.
            import fcntl

            with open(f"{self._path}.lock", "w") as lockfh:
                fcntl.flock(lockfh, fcntl.LOCK_EX)
                self._reload_locked()
                self._presets[name] = [[t, w] for t, w in terms]
                tmp = (
                    f"{self._path}.{os.getpid()}.{threading.get_ident()}.tmp"
                )
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
            lines = [
                "# TYPE mse_queries_total counter",
            ]
            for key in sorted(self._counts):
                lines.append(
                    f'mse_queries_total{{kind="{key}"}} {self._counts[key]}'
                )
            for name, v in sorted(searcher_counts.items()):
                lines.append(f"# TYPE mse_{name}_total counter")
                lines.append(f"mse_{name}_total {v}")
            lat = sorted(self._lat_ms)
            if lat:
                lines.append("# TYPE mse_query_latency_ms summary")
                for q, name in ((0.5, "0.5"), (0.9, "0.9"), (0.99, "0.99")):
                    v = lat[min(int(q * len(lat)), len(lat) - 1)]
                    lines.append(
                        f'mse_query_latency_ms{{quantile="{name}"}} {v:.3f}'
                    )
                lines.append(f"mse_query_latency_ms_count {len(lat)}")
            return "\n".join(lines) + "\n"


def make_handler(
    searcher: LocalSearcher,
    presets: PresetStore,
    metrics: Metrics | None = None,
):
    metrics = metrics or Metrics()
    log = logging.getLogger(__name__)

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

    class Handler(BaseHTTPRequestHandler):
        def log_message(self, fmt, *args):  # quiet
            pass

        def _reply(self, code: int, payload: dict) -> None:
            body = json.dumps(payload).encode()
            self.send_response(code)
            self.send_header("Content-Type", "application/json")
            self.send_header("Content-Length", str(len(body)))
            self.end_headers()
            self.wfile.write(body)

        def do_POST(self):
            kind, ms = "invalid", 0.0
            try:
                length = int(self.headers.get("Content-Length", "0"))
                shape, req, k = parse(self.rfile.read(length))
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
            self._reply(code, payload)

        def do_GET(self):
            if self.path == "/metrics":
                body = metrics.render(searcher.counts()).encode()
                self.send_response(200)
                self.send_header(
                    "Content-Type", "text/plain; version=0.0.4"
                )
                self.send_header("Content-Length", str(len(body)))
                self.end_headers()
                self.wfile.write(body)
                return
            if self.path == "/presets":
                return self._reply(200, {"presets": presets.names()})
            if self.path == "/health":
                return self._reply(
                    200,
                    {
                        "status": "ok",
                        # which process answered — observable worker
                        # spread for the pre-fork server (mp_server)
                        "pid": os.getpid(),
                        "n_docs": searcher.stats["N"],
                        "avgdl": searcher.stats["avgdl"],
                    },
                )
            self._reply(404, {"error": "POST / with a JSON query"})

    return Handler


class SearchServer:
    """Threaded HTTP server wrapper (start()/stop()); the reference's
    axum/aiohttp server role."""

    def __init__(
        self,
        index_dir: str,
        host: str = "127.0.0.1",
        port: int = 0,
    ):
        self.searcher = LocalSearcher(index_dir)
        self.presets = PresetStore(index_dir)
        self._httpd = _Server(
            (host, port), make_handler(self.searcher, self.presets)
        )
        self._thread: threading.Thread | None = None

    @property
    def port(self) -> int:
        return self._httpd.server_address[1]

    def start(self) -> "SearchServer":
        self._thread = threading.Thread(
            target=self._httpd.serve_forever, daemon=True
        )
        self._thread.start()
        return self

    def stop(self) -> None:
        self._httpd.shutdown()
        if self._thread:
            self._thread.join(timeout=10)
        self._httpd.server_close()


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
