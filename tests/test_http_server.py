"""HTTP API parity: the reference's POST / query surface over
LocalSearcher (mse.py:37-47 request shape)."""

import json
import os
import urllib.request

import pytest

from meme_search_engine_spark.datagen import ensure_corpus, rare_term
from meme_search_engine_spark.index.builder import build_index
from meme_search_engine_spark.index.postings import IndexConfig
from meme_search_engine_spark.oracle import OracleIndex
from meme_search_engine_spark.query.http_server import SearchServer

N_DOCS = 300


@pytest.fixture(scope="module")
def server(spark, tmp_path_factory):
    base = tmp_path_factory.mktemp("http")
    pages_dir, _ = ensure_corpus(str(base), N_DOCS)
    idx = str(base / "idx")
    build_index(
        spark,
        spark.read.parquet(pages_dir),
        idx,
        IndexConfig(salt_shift=7, n_buckets=8, n_parts=2),
    )
    import duckdb

    rows = duckdb.sql(
        f"SELECT doc_id, text FROM '{pages_dir}/*.parquet' ORDER BY doc_id"
    ).fetchall()
    srv = SearchServer(idx).start()
    yield srv, OracleIndex.build(rows)
    srv.stop()


def _post(port: int, payload: dict) -> tuple[int, dict]:
    req = urllib.request.Request(
        f"http://127.0.0.1:{port}/",
        data=json.dumps(payload).encode(),
        headers={"Content-Type": "application/json"},
        method="POST",
    )
    try:
        with urllib.request.urlopen(req, timeout=30) as resp:
            return resp.status, json.loads(resp.read())
    except urllib.error.HTTPError as e:
        return e.code, json.loads(e.read())


def test_simple_query_matches_oracle(server):
    srv, oracle = server
    code, body = _post(srv.port, {"query": "term0001 term0100", "top_k": 5})
    assert code == 200
    got = [(m["rank"], m["doc_id"], m["score_fixed"]) for m in body["matches"]]
    expected = [
        (r, d, sf) for r, d, sf, _ in oracle.topk("term0001 term0100", 5)
    ]
    assert got == expected


def test_weighted_terms_request(server):
    srv, oracle = server
    code, body = _post(
        srv.port,
        {"text": [["term0001", 2.0], ["term0000", -0.5]], "top_k": 5},
    )
    assert code == 200
    got = [(m["rank"], m["doc_id"], m["score_fixed"]) for m in body["matches"]]
    expected = [
        (r, d, sf)
        for r, d, sf, _ in oracle.topk_weighted(
            [("term0001", 2.0), ("term0000", -0.5)], 5
        )
    ]
    assert got == expected


def test_named_presets_roundtrip(server):
    """Save a preset, list it, query by name — must equal the same
    weighted query sent inline (the reference's predefined_embeddings
    surface, main.rs:102-127,976-985)."""
    import urllib.request

    srv, _ = server
    terms = [["term0001", 2.0], ["term0100", 1.0]]
    code, body = _post(srv.port, {"save_preset": "fav", "text": terms})
    assert code == 200 and body["saved"] == "fav"
    with urllib.request.urlopen(
        f"http://127.0.0.1:{srv.port}/presets", timeout=30
    ) as resp:
        assert "fav" in json.loads(resp.read())["presets"]
    code, by_name = _post(srv.port, {"preset": "fav", "top_k": 5})
    code2, inline = _post(srv.port, {"text": terms, "top_k": 5})
    assert code == 200 and code2 == 200
    assert by_name["matches"] == inline["matches"]
    # unknown preset -> 404
    code, err = _post(srv.port, {"preset": "nope"})
    assert code == 404 and "unknown preset" in err["error"]
    # persistence: a fresh server over the same index dir sees it
    from meme_search_engine_spark.query.http_server import PresetStore

    store = PresetStore(_index_dir_of(srv))
    assert store.get("fav") == [("term0001", 2.0), ("term0100", 1.0)]


def _index_dir_of(srv):
    import os

    return os.path.dirname(srv.presets._path)


def test_health_and_errors(server):
    srv, _ = server
    with urllib.request.urlopen(
        f"http://127.0.0.1:{srv.port}/health", timeout=10
    ) as resp:
        health = json.loads(resp.read())
    assert health["n_docs"] == N_DOCS

    code, body = _post(srv.port, {"images": [["b64", 1.0]], "top_k": 5})
    assert code == 400 and "not supported" in body["error"]
    code, body = _post(srv.port, {"top_k": 5})
    assert code == 400
    code, body = _post(srv.port, {"query": "x", "top_k": 0})
    assert code == 400
    code, body = _post(srv.port, {"query": rare_term(7), "top_k": 3})
    assert code == 200 and body["matches"][0]["doc_id"] == 7


def _metrics(port: int) -> str:
    with urllib.request.urlopen(
        f"http://127.0.0.1:{port}/metrics", timeout=10
    ) as resp:
        return resp.read().decode()


def _counts(port: int) -> dict[str, int]:
    """mse_queries_total by kind, scraped from /metrics."""
    import re

    return {
        k: int(v)
        for k, v in re.findall(
            r'mse_queries_total\{kind="([^"]+)"\} (\d+)', _metrics(port)
        )
    }


def test_malformed_bodies_get_counted_400(server):
    """Malformed input gets a 400 reply and one counted error — never a
    dropped connection: a non-integer top_k, a JSON array body and an
    unknown field."""
    srv, _ = server
    before = _counts(srv.port)
    bodies = [
        {"query": "term0001", "top_k": "abc"},
        [{"query": "term0001"}],
        {"query": "term0001", "vector": [0.1, 0.2]},
    ]
    for body in bodies:
        code, resp = _post(srv.port, body)
        assert code == 400, body
        assert "bad request" in resp["error"]
    after = _counts(srv.port)
    assert after.get("invalid_error", 0) - before.get("invalid_error", 0) == 3
    # the server keeps answering
    code, _body = _post(srv.port, {"query": "term0001", "top_k": 3})
    assert code == 200


def test_internal_error_gets_counted_500(server, monkeypatch):
    """An I/O failure inside the searcher becomes a counted 500 with a
    JSON body, not a dropped connection."""
    srv, _ = server

    def broken(*args, **kwargs):
        raise OSError("segment read failed")

    monkeypatch.setattr(srv.searcher, "search", broken)
    before = _counts(srv.port)
    code, resp = _post(srv.port, {"query": "term0001", "top_k": 3})
    assert code == 500 and "OSError" in resp["error"]
    after = _counts(srv.port)
    assert after.get("internal_error", 0) - before.get("internal_error", 0) == 1


def test_serving_process_imports_no_spark(server):
    """The HTTP server and a served query load no pyspark."""
    import subprocess
    import sys

    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    code = (
        "import sys\n"
        f"sys.path.insert(0, {root!r})\n"
        "from meme_search_engine_spark.query.http_server import SearchServer\n"
        "assert 'pyspark' not in sys.modules, 'import'\n"
        f"srv = SearchServer({_index_dir_of(server[0])!r})\n"
        "assert srv.searcher.search('term0001 term0100', 5, with_urls=True)\n"
        "assert 'pyspark' not in sys.modules, 'query'\n"
        "srv._httpd.server_close()\n"
    )
    out = subprocess.run(
        [sys.executable, "-c", code], capture_output=True, text=True,
        timeout=120,
    )
    assert out.returncode == 0, out.stderr


def test_concurrent_requests(server):
    """The reference load-test shape (perf_test.py): concurrent
    queries against the threaded server."""
    import concurrent.futures

    srv, _ = server

    def one(i):
        code, body = _post(
            srv.port, {"query": f"term{i % 50:04d} term0001", "top_k": 10}
        )
        assert code == 200
        return len(body["matches"])

    with concurrent.futures.ThreadPoolExecutor(16) as ex:
        results = list(ex.map(one, range(64)))
    assert all(r > 0 for r in results)


def test_metrics_endpoint(server):
    """Prometheus text exposition — the reference's /metrics route
    (main.rs QUERIES_COUNTER)."""
    srv, _ = server
    _post(srv.port, {"query": "term0001", "top_k": 3})
    _post(srv.port, {"text": [["term0001", 1.0]], "top_k": 3})
    with urllib.request.urlopen(
        f"http://127.0.0.1:{srv.port}/metrics", timeout=10
    ) as resp:
        body = resp.read().decode()
        assert resp.headers["Content-Type"].startswith("text/plain")
    assert 'mse_queries_total{kind="simple"}' in body
    assert 'mse_queries_total{kind="weighted"}' in body
    assert "mse_query_latency_ms_count" in body


def _cache_counts(port: int) -> dict[str, int]:
    """The searcher's cache counters, scraped from /metrics."""
    import re

    return {
        k: int(v)
        for k, v in re.findall(
            r"^mse_(term_cache_\w+|docmeta_reloads)_total (\d+)$",
            _metrics(port),
            re.M,
        )
    }


def test_metrics_term_cache_counters(server):
    """One query sent twice: the first send misses the decoded term
    cache once per term, the second hits it once per term.  The
    resident docmeta is loaded once, not per request."""
    srv, _ = server
    terms = [rare_term(11), "term0211", "absentterm"]
    query = {"query": " ".join(terms), "top_k": 3}
    c0 = _cache_counts(srv.port)
    assert set(c0) == {
        "term_cache_hits",
        "term_cache_misses",
        "term_cache_evictions",
        "docmeta_reloads",
    }
    assert _post(srv.port, query)[0] == 200
    c1 = _cache_counts(srv.port)
    assert _post(srv.port, query)[0] == 200
    c2 = _cache_counts(srv.port)
    assert c1["term_cache_misses"] - c0["term_cache_misses"] == len(terms)
    assert c1["term_cache_hits"] == c0["term_cache_hits"]
    assert c2["term_cache_hits"] - c1["term_cache_hits"] == len(terms)
    assert c2["term_cache_misses"] == c1["term_cache_misses"]
    assert c2["term_cache_evictions"] == 0
    assert c2["docmeta_reloads"] == 1


def test_fork_server_parity_and_worker_spread(server):
    """Pre-fork multi-process server (mp_server.ForkServer): responses
    are IDENTICAL to the single-process server (each worker builds the
    same LocalSearcher over the same immutable index), and under
    concurrent load more than one worker process actually serves
    (distinct /health pids)."""
    from concurrent.futures import ThreadPoolExecutor

    from meme_search_engine_spark.query.mp_server import ForkServer

    srv, _ = server
    queries = [
        {"query": "term0001 term0100", "top_k": 5},
        {"text": [["term0002", 2.0], ["term0010", -1.0]], "top_k": 5},
        {"query": rare_term(7), "top_k": 3},
    ]
    want = [_post(srv.port, q) for q in queries]

    fork = ForkServer(_index_dir_of(srv), workers=3).start()
    try:
        got = [_post(fork.port, q) for q in queries]
        assert got == want

        def health(_):
            with urllib.request.urlopen(
                f"http://127.0.0.1:{fork.port}/health", timeout=10
            ) as resp:
                return json.loads(resp.read())["pid"]

        with ThreadPoolExecutor(16) as ex:
            pids = set(ex.map(health, range(64)))
        assert len(pids) >= 2, pids  # >1 process actually serving

        # concurrent query load across workers: correct and error-free
        def one(i):
            code, body = _post(fork.port, queries[i % len(queries)])
            assert code == 200
            return body

        with ThreadPoolExecutor(16) as ex:
            bodies = list(ex.map(one, range(48)))
        for i, b in enumerate(bodies):
            assert b == want[i % len(queries)][1]
    finally:
        fork.stop()


def test_preset_store_cross_process_saves_never_lost(tmp_path):
    """Two PROCESSES saving different preset names concurrently must
    both persist every entry: the read-modify-replace in save() holds
    an fcntl.flock on a sidecar for the whole cycle (ADVICE r06 — a
    threading.Lock is per-process, and pre-fork workers share only
    the file)."""
    import multiprocessing as mp

    from meme_search_engine_spark.query.http_server import PresetStore

    d = str(tmp_path)

    def save_many(prefix: str) -> None:
        store = PresetStore(d)
        for i in range(30):
            store.save(f"{prefix}{i}", [("t", 1.0)])

    ctx = mp.get_context("fork")
    procs = [
        ctx.Process(target=save_many, args=(p,)) for p in ("a", "b")
    ]
    for p in procs:
        p.start()
    for p in procs:
        p.join(timeout=60)
    assert all(p.exitcode == 0 for p in procs)
    assert len(PresetStore(d).names()) == 60


def test_fork_server_supervision_reforks_dead_worker(server):
    """supervise=True: SIGKILL one worker mid-serve; the supervisor
    must reap it, fork a replacement that joins the shared accept
    queue, and the server must keep answering with a full worker
    complement (VERDICT r06 #6)."""
    import os
    import signal
    import time

    from meme_search_engine_spark.query.mp_server import ForkServer

    srv, _ = server
    fork = ForkServer(_index_dir_of(srv), workers=2, supervise=True).start()
    try:
        assert fork.alive_workers() == 2
        os.kill(fork._procs[0].pid, signal.SIGKILL)
        deadline = time.time() + 30
        while time.time() < deadline and (
            fork.refork_count < 1 or fork.alive_workers() < 2
        ):
            time.sleep(0.05)
        assert fork.refork_count >= 1
        assert fork.alive_workers() == 2
        # the replacement needs its own LocalSearcher build; queries
        # keep succeeding throughout (the surviving worker serves,
        # then both)
        code, body = _post(fork.port, {"query": "term0001", "top_k": 3})
        assert code == 200 and len(body["matches"]) == 3
    finally:
        fork.stop()


def test_fork_server_refork_cap_decays(server):
    """Sporadic worker deaths, each after the replacement served past
    the backoff window, never exhaust max_reforks: the refork count
    resets with the backoff."""
    import signal
    import time

    from meme_search_engine_spark.query.mp_server import ForkServer

    srv, _ = server
    fork = ForkServer(_index_dir_of(srv), workers=1, supervise=True)
    fork.max_reforks = 2
    fork.refork_backoff_start = 0.1
    fork.start()
    try:
        for _ in range(fork.max_reforks + 2):
            pid = fork._procs[0].pid
            os.kill(pid, signal.SIGKILL)
            deadline = time.time() + 30
            while time.time() < deadline and (
                fork._procs[0].pid == pid or fork.alive_workers() < 1
            ):
                time.sleep(0.05)
            assert fork._procs[0].pid != pid
            time.sleep(1.0)  # serve well past the backoff window
        assert not fork.supervisor_gave_up
        assert fork.refork_count == 1
        code, body = _post(fork.port, {"query": "term0001", "top_k": 3})
        assert code == 200 and len(body["matches"]) == 3
    finally:
        fork.stop()


def test_fork_server_start_reports_startup_death(tmp_path):
    """A worker that dies during startup (here: nonexistent index dir)
    must surface as a fast RuntimeError from start(), not a 60 s
    timeout with sporadic connection errors later (ADVICE r06)."""
    import pytest as _pytest

    from meme_search_engine_spark.query.mp_server import ForkServer

    fork = ForkServer(str(tmp_path / "no_such_index"), workers=2)
    with _pytest.raises(RuntimeError, match="died during startup"):
        fork.start(timeout=30)
    fork.stop()


def test_fork_server_preset_coherence_across_workers(server):
    """A preset saved through ONE forked worker must be queryable
    through ANY worker: PresetStore re-checks presets.json's mtime per
    read, so the file is the shared state between processes."""
    from concurrent.futures import ThreadPoolExecutor

    from meme_search_engine_spark.query.mp_server import ForkServer

    srv, _ = server
    fork = ForkServer(_index_dir_of(srv), workers=3).start()
    try:
        code, _body = _post(
            fork.port,
            {"save_preset": "xworker", "text": [["term0001", 1.5]]},
        )
        assert code == 200

        def by_preset(_):
            return _post(fork.port, {"preset": "xworker", "top_k": 3})

        # enough concurrent hits to reach every worker with high
        # probability; ALL must resolve the preset (no 404s)
        with ThreadPoolExecutor(12) as ex:
            results = list(ex.map(by_preset, range(36)))
        assert all(c == 200 for c, _ in results), [c for c, _ in results]
        want = _post(srv.port, {"preset": "xworker", "top_k": 3})
        assert all(r == want for r in results)
    finally:
        fork.stop()
