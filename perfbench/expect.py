"""Expected answers from the package's pure-Python oracle.

`OracleIndex` is built over the full seeded corpus (the generated
`text` column, which equals `extract_text(html)` for these pages) and
answers every checked query.  Answers are cached by the seed, the corpus
size, the query set and a hash of `oracle.py` + `common/`, so a change
to the scoring code recomputes them.

Queries are answered by a small pool of forked workers that inherit the
built oracle copy-on-write; it runs before any Spark or server thread
exists in this process.
"""

from __future__ import annotations

import hashlib
import json
import multiprocessing
import os

_ORACLE = None  # read by forked workers only


def query_key(q: dict) -> str:
    """Stable key of one query payload: {"query": str} | {"text": [[t, w]]}
    plus k (the WAND batch's queries use "query" too)."""
    body = {"query": q["query"]} if "query" in q else {"text": q["text"]}
    return json.dumps([body, int(q.get("k", 10))], sort_keys=True)


def _answer(key: str) -> list[list[int]]:
    body, k = json.loads(key)
    if "query" in body:
        rows = _ORACLE.topk(body["query"], k)
    else:
        rows = _ORACLE.topk_weighted([(t, float(w)) for t, w in body["text"]], k)
    return [[int(doc), int(sf)] for _, doc, sf, _ in rows]


def _code_hash(root: str) -> str:
    pkg = os.path.join(root, "meme_search_engine_spark")
    paths = [os.path.join(pkg, "oracle.py")]
    common = os.path.join(pkg, "common")
    paths += sorted(
        os.path.join(common, f) for f in os.listdir(common) if f.endswith(".py")
    )
    h = hashlib.sha256()
    for p in paths:
        with open(p, "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()[:16]


def expected_answers(
    root: str, cache_dir: str, pages_dir: str, tag: str, keys: list[str],
    workers: int,
) -> dict[str, list[list[int]]]:
    global _ORACLE
    keys = sorted(set(keys))
    digest = hashlib.sha256(
        (_code_hash(root) + "\n" + "\n".join(keys)).encode()
    ).hexdigest()[:16]
    path = os.path.join(cache_dir, f"expected_{tag}_{digest}.json")
    if os.path.exists(path):
        with open(path) as fh:
            return json.load(fh)
    import pyarrow.parquet as pq

    from meme_search_engine_spark.oracle import OracleIndex

    t = pq.read_table(pages_dir, columns=["doc_id", "text"])
    _ORACLE = OracleIndex.build(
        list(zip(t.column("doc_id").to_pylist(), t.column("text").to_pylist()))
    )
    try:
        with multiprocessing.get_context("fork").Pool(workers) as pool:
            answers = pool.map(_answer, keys, chunksize=4)
    finally:
        _ORACLE = None
    out = dict(zip(keys, answers))
    tmp = f"{path}.tmp{os.getpid()}"
    with open(tmp, "w") as fh:
        json.dump(out, fh)
    os.replace(tmp, path)
    return out
