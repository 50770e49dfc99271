"""Concurrent HTTP load test — the analogue of the reference's
perf_test.py (/root/reference/perf_test.py:6-27: 1000 random queries,
k=10, 100 concurrent against localhost).

Drives the BM25 serving path with POST {"query": ...} bodies.

Usage:
    python tools/load_test.py [--index data/eval_idx_5000]
        [--n 1000] [--concurrency 100] [--k 10]

Prints ONE JSON line: {"qps": ..., "p50_ms": ..., "p99_ms": ...,
"errors": 0, ...}.  Needs a built index dir (tools/evaluate.py leaves
one under data/eval_idx_<docs>).
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time
import urllib.request
from concurrent.futures import ThreadPoolExecutor

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

DATA_DIR = os.path.join(
    os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "data"
)


def _cpu_control(n: int = 20_000_000) -> float:
    """Single-process Mops of a pure-Python integer loop — the same
    window-health control bench_scaling embeds: load numbers from
    different hypervisor windows are not comparable, so every JSON
    line carries the window's own reading (VERDICT r05 #7)."""
    t0 = time.time()
    s = 0
    for i in range(n):
        s += i * i
    return round(n / (time.time() - t0) / 1e6, 2)


def _client_worker(args) -> list[float]:
    """One load-client PROCESS's share of the request stream (module-
    level for multiprocessing pickling).  At ~1000+ QPS a single
    Python client process is itself GIL-bound and under-reports a
    multi-worker server's capacity — the measured ceiling must not be
    the measuring instrument's."""
    port, bodies, concurrency = args

    def one(body: dict) -> float:
        req = urllib.request.Request(
            f"http://127.0.0.1:{port}/",
            data=json.dumps(body).encode(),
            headers={"Content-Type": "application/json"},
            method="POST",
        )
        t0 = time.time()
        try:
            with urllib.request.urlopen(req, timeout=60) as resp:
                resp.read()
                if resp.status != 200:
                    return -1.0
        except Exception:
            return -1.0
        return time.time() - t0

    with ThreadPoolExecutor(concurrency) as ex:
        return list(ex.map(one, bodies))


def run_mode(
    srv,
    bodies: list[dict],
    concurrency: int,
    warm_rounds: int = 1,
    client_procs: int = 1,
) -> dict:
    lat: list[float] = []

    def one(body: dict) -> float:
        """Latency of one request; raises only during the warm pass —
        inside the timed run, failures count into `errors` and return
        -1 so the load keeps going and the report is honest."""
        req = urllib.request.Request(
            f"http://127.0.0.1:{srv.port}/",
            data=json.dumps(body).encode(),
            headers={"Content-Type": "application/json"},
            method="POST",
        )
        t0 = time.time()
        with urllib.request.urlopen(req, timeout=60) as resp:
            resp.read()
            assert resp.status == 200
        return time.time() - t0

    def one_counted(body: dict) -> float:
        # no shared counter mutation in pool threads — failures return
        # -1 and are COUNTED after the pool drains (a nonlocal += from
        # concurrent workers is a lost-update race, ADVICE r05)
        try:
            return one(body)
        except Exception:
            return -1.0

    # warm pass over the distinct bodies (cold decode paid once, like
    # a live server).  With a pre-fork server the decoded caches are
    # PER WORKER and the kernel routes each connection to any waiting
    # worker, so the warm set is replayed warm_rounds times (callers
    # pass ~4x workers) CONCURRENTLY — concurrency keeps many workers
    # in accept() so the replays spread across them.
    seen = set()
    distinct = []
    for b in bodies:
        if b["query"] not in seen:
            seen.add(b["query"])
            distinct.append(b)
    with ThreadPoolExecutor(max(2, min(32, warm_rounds * 2))) as ex:
        list(ex.map(one, distinct * warm_rounds))  # raises on failure
    t0 = time.time()
    if client_procs > 1:
        import multiprocessing as mp

        chunks = [
            (
                srv.port,
                bodies[i::client_procs],
                max(1, concurrency // client_procs),
            )
            for i in range(client_procs)
        ]
        with mp.get_context("fork").Pool(client_procs) as pool:
            results = [
                dt for sub in pool.map(_client_worker, chunks) for dt in sub
            ]
    else:
        with ThreadPoolExecutor(concurrency) as ex:
            results = list(ex.map(one_counted, bodies))
    wall = time.time() - t0
    lat = [dt for dt in results if dt >= 0]
    errors = len(results) - len(lat)
    lat.sort()
    if not lat:
        return {"qps": 0.0, "p50_ms": -1, "p99_ms": -1, "errors": errors}
    return {
        "qps": round(len(lat) / wall, 1),
        "p50_ms": round(1000 * lat[len(lat) // 2], 2),
        "p99_ms": round(1000 * lat[int(len(lat) * 0.99)], 2),
        "errors": errors,
    }


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument(
        "--index",
        default=os.path.join(DATA_DIR, "eval_idx_5000"),
    )
    ap.add_argument("--n", type=int, default=1000)
    ap.add_argument("--concurrency", type=int, default=100)
    ap.add_argument("--k", type=int, default=10)
    ap.add_argument(
        "--client-procs", type=int, default=1,
        help="load-client processes; >1 removes the client's own GIL "
        "ceiling when measuring a multi-worker server",
    )
    ap.add_argument(
        "--workers", type=int, default=0,
        help="0 = single-process SearchServer (one pool of accept threads); "
        "N>0 = pre-fork N worker processes on one shared socket",
    )
    args = ap.parse_args()

    from meme_search_engine_spark.datagen import generate_queries
    from meme_search_engine_spark.query.http_server import SearchServer

    with open(os.path.join(args.index, "stats.json")) as fh:
        n_docs = json.load(fh)["N"]
    qtexts = [q["text"] for q in generate_queries(n_docs)]
    # 1000 "random" queries = deterministic round-robin over the
    # reference query set (no wall-clock seeds anywhere)
    texts = [qtexts[i % len(qtexts)] for i in range(args.n)]

    if args.workers > 0:
        from meme_search_engine_spark.query.mp_server import ForkServer

        srv = ForkServer(args.index, workers=args.workers).start()
        # full readiness before the timed phase (VERDICT r07 #5):
        # an accept-starved start would otherwise time cold workers
        # inside the "warm" window and misreport the tier
        assert srv.ready_workers == args.workers, (
            f"only {srv.ready_workers}/{args.workers} workers ready"
        )
    else:
        srv = SearchServer(args.index).start()
    warm_rounds = max(1, 4 * args.workers)

    def emit(payload: dict) -> None:
        payload = {**payload, "cpu_control_mops": _cpu_control()}
        print(json.dumps(payload))

    try:
        common = {
            "n": args.n, "concurrency": args.concurrency, "k": args.k,
            "n_docs": n_docs, "workers": args.workers,
            "client_procs": args.client_procs,
        }
        r = run_mode(
            srv,
            [{"query": t, "top_k": args.k} for t in texts],
            args.concurrency,
            warm_rounds,
            args.client_procs,
        )
        emit({"metric": "http_load_text", **r, **common})
    finally:
        srv.stop()


if __name__ == "__main__":
    main()
