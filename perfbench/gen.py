"""Seeded inputs for the benchmark: a `pages` corpus and its query streams.

The corpus keeps the shape of the package's own synthetic corpus
(`meme_search_engine_spark.datagen`): Zipf(1.1) vocabulary
`term0001..term9999`, `term0000` injected into ~30 % of pages, one
unique `rareNNNNNNN` term as the last token of every page, and the same
`pages` schema.  Every random draw is a counter hashed through
splitmix64 with the seed mixed in, so one (seed, size) always yields the
same bytes and a different seed yields a different corpus and different
query streams.

Generated inputs are cached under `<checkout>/.perfbench_cache/`, keyed
by (seed, size); the program under test only ever sees the parquet pages
and the query lists.
"""

from __future__ import annotations

import os
from datetime import datetime, timedelta, timezone

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

VOCAB_SIZE = 10_000
ZIPF_S = 1.1
N_SITES = 50
HEAD_DOC_FRAC = 0.30
MIN_TOKENS, MAX_TOKENS = 20, 400
T0 = datetime(2024, 1, 1, tzinfo=timezone.utc)

# query vocabulary of the Zipf mixes: term0001..term2999
QUERY_VOCAB = 2999
# mid-df band paired with each first-touch rare term of the cold workload
MID_LO, MID_HI = 300, 1000

_M = np.uint64(0xFFFFFFFFFFFFFFFF)

PAGES_SCHEMA = pa.schema(
    [
        ("doc_id", pa.int64()),
        ("url", pa.string()),
        ("warc_ts", pa.timestamp("us", tz="UTC")),
        ("html", pa.binary()),
        ("text", pa.string()),
        ("lang", pa.string()),
    ]
)


def _splitmix64(x: np.ndarray) -> np.ndarray:
    z = (x.astype(np.uint64) + np.uint64(0x9E3779B97F4A7C15)) & _M
    z = (z ^ (z >> np.uint64(30))) * np.uint64(0xBF58476D1CE4E5B9) & _M
    z = (z ^ (z >> np.uint64(27))) * np.uint64(0x94D049BB133111EB) & _M
    return z ^ (z >> np.uint64(31))


class Draws:
    """Uniform [0, 1) draws from (seed, stream, counter)."""

    def __init__(self, seed: int):
        self.key = _splitmix64(np.array([seed], dtype=np.uint64))[0]

    def uniform(self, counter: np.ndarray, stream: int) -> np.ndarray:
        salt = _splitmix64(np.array([stream], dtype=np.uint64) ^ self.key)[0]
        h = _splitmix64(np.asarray(counter).astype(np.uint64) ^ salt)
        return (h >> np.uint64(11)).astype(np.float64) * 2.0**-53

    def ints(self, n: int, stream: int, hi: int) -> np.ndarray:
        return (self.uniform(np.arange(n), stream) * hi).astype(np.int64)


def rare_term(doc_id: int) -> str:
    return f"rare{doc_id:07d}"


def _zipf_ranks(u: np.ndarray, n_ranks: int) -> np.ndarray:
    """Zipf(ZIPF_S) over ranks 1..n_ranks."""
    w = 1.0 / np.arange(1, n_ranks + 1, dtype=np.float64) ** ZIPF_S
    cdf = np.cumsum(w) / w.sum()
    return np.minimum(np.searchsorted(cdf, u, side="right"), n_ranks - 1) + 1


def generate_pages(n_docs: int, seed: int) -> dict:
    r = Draws(seed)
    doc_ids = np.arange(n_docs, dtype=np.int64)
    lens = MIN_TOKENS + (
        r.uniform(doc_ids, 1) * (MAX_TOKENS - MIN_TOKENS + 1)
    ).astype(np.int64)
    total = int(lens.sum())
    doc_of_tok = np.repeat(doc_ids, lens)
    starts = np.concatenate(([0], np.cumsum(lens)[:-1]))
    pos = np.arange(total, dtype=np.int64) - starts[doc_of_tok]

    ranks = _zipf_ranks(r.uniform(np.arange(total), 2), VOCAB_SIZE - 1)
    head_docs = r.uniform(doc_ids, 3) < HEAD_DOC_FRAC
    ranks[head_docs[doc_of_tok] & np.isin(pos, (0, 7, 13))] = 0
    rare_tok = pos == lens[doc_of_tok] - 1

    u_lang = r.uniform(doc_ids, 4)
    langs = np.where(u_lang < 0.95, "en", np.where(u_lang < 0.975, "de", "fr"))
    w_site = 1.0 / np.arange(1, N_SITES + 1, dtype=np.float64) ** 1.2
    site_ids = np.searchsorted(
        np.cumsum(w_site) / w_site.sum(), r.uniform(doc_ids, 5), side="right"
    )
    path_hash = _splitmix64(doc_ids.astype(np.uint64) ^ r.key)

    vocab = np.array([f"term{i:04d}" for i in range(VOCAB_SIZE)])
    toks = vocab[ranks].astype("<U16")
    toks[rare_tok] = np.array([rare_term(int(d)) for d in doc_of_tok[rare_tok]])

    texts, htmls, urls, tss = [], [], [], []
    for d in range(n_docs):
        t = toks[starts[d] : starts[d] + lens[d]]
        paras = [" ".join(t[i : i + 60]) for i in range(0, len(t), 60)]
        body = "".join(f"<p>{p}</p>" for p in paras)
        htmls.append(
            (
                f'<html><head><title>Doc {d}</title><meta charset="utf-8"/>'
                f"<style>p{{margin:0}}</style></head><body>"
                f'<nav><a href="/">Home</a> | <a href="/about">About</a></nav>'
                f"<header>Example Site {site_ids[d]}</header>{body}"
                f"<script>trackPageView({d});</script>"
                f"<footer>&copy; 2024 example{site_ids[d]}.test</footer>"
                f"</body></html>"
            ).encode("utf-8")
        )
        texts.append(" ".join(paras))
        urls.append(f"https://example{site_ids[d]}.test/{path_hash[d]:016x}")
        tss.append(T0 + timedelta(seconds=7 * d))
    return {
        "doc_id": doc_ids,
        "url": urls,
        "warc_ts": tss,
        "html": htmls,
        "text": texts,
        "lang": langs.tolist(),
    }


def _write_pages(out_dir: str, cols: dict, n_files: int = 8) -> None:
    """Doc-id-range files, so `doc_id < cut` prunes whole files."""
    table = pa.table(
        {k: pa.array(v, type=PAGES_SCHEMA.field(k).type) for k, v in cols.items()},
        schema=PAGES_SCHEMA,
    )
    n = table.num_rows
    per = -(-n // n_files)
    os.makedirs(out_dir, exist_ok=True)
    for f in range(n_files):
        part = table.slice(f * per, per)
        if part.num_rows:
            pq.write_table(part, os.path.join(out_dir, f"part-{f:03d}.parquet"))


def _zipf_text(r: Draws, stream: int, i: int) -> list[str]:
    """1-3 distinct Zipf(1.1) terms over term0001..term2999."""
    u = r.uniform(np.arange(4) + 4 * i, stream)
    n_terms = 1 + int(u[0] * 3)
    ranks = _zipf_ranks(u[1 : 1 + n_terms], QUERY_VOCAB)
    return [f"term{x:04d}" for x in dict.fromkeys(int(x) for x in ranks)]


def batch_queries(n_docs: int, seed: int, n_mix: int) -> list[dict]:
    """The package's reference query set plus a seeded Zipf mix."""
    from meme_search_engine_spark.datagen import generate_queries

    qs = [dict(q) for q in generate_queries(n_docs)]
    r = Draws(seed)
    base = len(qs)
    for i in range(n_mix):
        qs.append(
            {"query_id": base + i, "text": " ".join(_zipf_text(r, 20, i)), "k": 10}
        )
    return qs


def _strata(r: Draws, n: int, stream: int) -> np.ndarray:
    """n uniforms, one in each of the n strata [i/n, (i+1)/n), in a seeded
    order: whatever the seed, the sample covers [0, 1) evenly."""
    order = np.argsort(r.uniform(np.arange(n), stream), kind="stable")
    return (order + r.uniform(np.arange(n), stream + 1)) / n


def hot_pool(seed: int, size: int, weighted_share: float) -> list[dict]:
    """Fixed pool of Zipf queries; weighted_share of them are weighted
    `text` queries, the rest simple `query` ones.  The number of terms and
    each term's rank are stratified over the pool (a Latin hypercube), so
    every seed's pool holds the same mix of cheap and costly queries."""
    r = Draws(seed)
    kinds = _strata(r, size, 31)
    u = np.stack([_strata(r, size, 40 + 2 * d) for d in range(4)], axis=1)
    weights = (0.5, 1.0, 2.0)
    pool = []
    for i in range(size):
        n_terms = 1 + int(u[i, 0] * 3)
        ranks = _zipf_ranks(u[i, 1 : 1 + n_terms], QUERY_VOCAB)
        terms = [f"term{x:04d}" for x in dict.fromkeys(int(x) for x in ranks)]
        if kinds[i] < weighted_share:
            wi = r.ints(len(terms), 1000 + i, len(weights))
            pool.append({"text": [[t, weights[j]] for t, j in zip(terms, wi)]})
        else:
            pool.append({"query": " ".join(terms)})
    return pool


def hot_order(seed: int, pool_size: int, n: int) -> list[int]:
    """n pool indices: seeded permutations of the pool, one after another,
    so any run of pool_size requests sends each query about once."""
    r = Draws(seed)
    rounds = -(-n // pool_size)
    perms = [
        np.argsort(r.uniform(np.arange(pool_size), 200 + k), kind="stable")
        for k in range(rounds)
    ]
    return np.concatenate(perms)[:n].tolist()


def cold_stream(n_docs: int, seed: int, n: int) -> list[dict]:
    """n queries, each a never-repeated rare term + one mid-df term.
    Rare doc ids are a seeded permutation prefix (without replacement)."""
    r = Draws(seed)
    order = np.argsort(r.uniform(np.arange(n_docs), 50), kind="stable")[:n]
    mids = MID_LO + r.ints(n, 51, MID_HI - MID_LO)
    return [
        {"query": f"{rare_term(int(d))} term{int(m):04d}"}
        for d, m in zip(order, mids)
    ]


def ensure_pages(cache_dir: str, n_docs: int, seed: int) -> str:
    """(Cached) pages parquet dir for (seed, n_docs)."""
    out = os.path.join(cache_dir, f"pages_s{seed}_n{n_docs}")
    marker = os.path.join(out, "_SUCCESS")
    if not os.path.exists(marker):
        tmp = f"{out}.tmp{os.getpid()}"
        _write_pages(tmp, generate_pages(n_docs, seed))
        with open(os.path.join(tmp, "_SUCCESS"), "w") as fh:
            fh.write("ok")
        if os.path.isdir(out):
            import shutil

            shutil.rmtree(out)
        os.replace(tmp, out)
    return out
