"""Deterministic synthetic `pages` corpus + reference query set.

Schemas fixed by FIXTURES.md / BASELINE.json input_hint:
  pages(url:string, warc_ts:timestamp, html:binary, text:string, lang:string)
plus a dense ``doc_id`` column (the engine would otherwise derive it as
xxhash64(url); dense ids make oracle bookkeeping and delta coding easy
to eyeball).

Determinism: NO library RNG — every random draw is a counter hashed
through splitmix64, vectorized in numpy, so the corpus is bit-stable
across numpy versions, platforms, and partitionings.  (The reference
seeds explicitly for the same reason: rng in dump_processor.rs:154,
kmeans sampling kmeans.py:152.)

Skew fixture: ``term0000`` is injected into ~30% of all documents —
the head-term hot key that the salted posting merge must handle.
Every doc also carries a unique ``rare_{doc_id}`` term so each doc is
reachable by a dedicated query.
"""

from __future__ import annotations

import os
from datetime import datetime, timedelta, timezone

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

from .common.textproc import extract_text  # noqa: F401  (identity asserted in tests)

VOCAB_SIZE = 10_000
ZIPF_S = 1.1
N_SITES = 50
HEAD_TERM = "term0000"
HEAD_TERM_DOC_FRAC = 0.30
MIN_TOKENS, MAX_TOKENS = 20, 400


def rare_term(doc_id: int) -> str:
    """Per-doc unique term (single alphanumeric token — the tokenizer
    splits on '_', so no underscore)."""
    return f"rare{doc_id:07d}"
T0 = datetime(2024, 1, 1, tzinfo=timezone.utc)
TS_STRIDE_S = 7  # constant stride per row — no wall clock anywhere

_MASK = np.uint64(0xFFFFFFFFFFFFFFFF)


def _splitmix64(x: np.ndarray) -> np.ndarray:
    """Counter -> uint64 hash (public splitmix64 finalizer)."""
    z = (x.astype(np.uint64) + np.uint64(0x9E3779B97F4A7C15)) & _MASK
    z = (z ^ (z >> np.uint64(30))) * np.uint64(0xBF58476D1CE4E5B9) & _MASK
    z = (z ^ (z >> np.uint64(27))) * np.uint64(0x94D049BB133111EB) & _MASK
    return z ^ (z >> np.uint64(31))


def _uniform(counter: np.ndarray, stream: int) -> np.ndarray:
    """Deterministic uniforms in [0,1) from (stream, counter)."""
    h = _splitmix64(counter.astype(np.uint64) ^ np.uint64(stream * 0x9E3779B97F4A7C15 & 0xFFFFFFFFFFFFFFFF))
    return (h >> np.uint64(11)).astype(np.float64) * 2.0**-53


def _zipf_cdf() -> np.ndarray:
    w = 1.0 / np.arange(1, VOCAB_SIZE, dtype=np.float64) ** ZIPF_S
    return np.cumsum(w) / w.sum()


def generate_pages(n_docs: int) -> dict[str, np.ndarray | list]:
    """Generate the corpus columns (vectorized).  Returns plain columns;
    writers below turn them into Arrow tables."""
    doc_ids = np.arange(n_docs, dtype=np.int64)

    lens = MIN_TOKENS + (
        _uniform(doc_ids, 1) * (MAX_TOKENS - MIN_TOKENS + 1)
    ).astype(np.int64)
    total = int(lens.sum())
    tok_counter = np.arange(total, dtype=np.uint64)
    doc_of_tok = np.repeat(doc_ids, lens)
    starts = np.concatenate(([0], np.cumsum(lens)[:-1]))
    pos_in_doc = np.arange(total, dtype=np.int64) - starts[doc_of_tok]

    # base vocabulary draw: Zipf over ranks 1..VOCAB_SIZE-1 (term0001..)
    cdf = _zipf_cdf()
    ranks = np.searchsorted(cdf, _uniform(tok_counter, 2), side="right") + 1

    # head-term injection: ~30% of docs get term0000 at 3 fixed slots
    head_docs = _uniform(doc_ids, 3) < HEAD_TERM_DOC_FRAC
    head_tok = head_docs[doc_of_tok] & np.isin(pos_in_doc, (0, 7, 13))
    ranks[head_tok] = 0

    # unique rare term in the last slot of every doc
    rare_tok = pos_in_doc == (lens[doc_of_tok] - 1)

    # language: 95% en, remainder split de/fr
    u_lang = _uniform(doc_ids, 4)
    langs = np.where(u_lang < 0.95, "en", np.where(u_lang < 0.975, "de", "fr"))

    # site ids: Zipf(1.2) over 50 sites
    w_site = 1.0 / np.arange(1, N_SITES + 1, dtype=np.float64) ** 1.2
    site_cdf = np.cumsum(w_site) / w_site.sum()
    site_ids = np.searchsorted(site_cdf, _uniform(doc_ids, 5), side="right")

    path_hash = _splitmix64(doc_ids.astype(np.uint64) ^ np.uint64(0xC0FFEE))

    # materialize token strings per doc (string work is the only
    # non-vectorized part; generation is test/bench-side only).
    # NB: widen the dtype before assigning rare terms — numpy fixed-width
    # strings silently truncate otherwise.
    vocab = np.array([f"term{r:04d}" for r in range(VOCAB_SIZE)])
    tok_strings = vocab[ranks].astype("<U16")
    rare_docs = doc_of_tok[rare_tok]
    tok_strings[rare_tok] = np.array([rare_term(int(d)) for d in rare_docs])

    texts: list[str] = []
    htmls: list[bytes] = []
    urls: list[str] = []
    tss: list[datetime] = []
    for d in range(n_docs):
        toks = tok_strings[starts[d] : starts[d] + lens[d]]
        # paragraphs of up to 60 tokens
        paras = [
            " ".join(toks[i : i + 60]) for i in range(0, len(toks), 60)
        ]
        text = " ".join(paras)
        body = "".join(f"<p>{p}</p>" for p in paras)
        html = (
            f'<html><head><title>Doc {d}</title><meta charset="utf-8"/>'
            f"<style>p{{margin:0}}</style></head><body>"
            f'<nav><a href="/">Home</a> | <a href="/about">About</a></nav>'
            f"<header>Example Site {site_ids[d]}</header>"
            f"{body}"
            f"<script>trackPageView({d});</script>"
            f"<footer>&copy; 2024 example{site_ids[d]}.test</footer>"
            f"</body></html>"
        )
        texts.append(text)
        htmls.append(html.encode("utf-8"))
        urls.append(f"https://example{site_ids[d]}.test/{path_hash[d]:016x}")
        tss.append(T0 + timedelta(seconds=TS_STRIDE_S * d))

    return {
        "doc_id": doc_ids,
        "url": urls,
        "warc_ts": tss,
        "html": htmls,
        "text": texts,
        "lang": langs.tolist(),
    }


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


def write_pages(out_dir: str, n_docs: int, n_files: int = 8) -> str:
    """Write the corpus as a multi-file parquet dataset (Iceberg-style
    bucketed layout stand-in: files are hash buckets of doc_id)."""
    os.makedirs(out_dir, exist_ok=True)
    cols = generate_pages(n_docs)
    table = pa.table(
        {k: pa.array(v, type=PAGES_SCHEMA.field(k).type) for k, v in cols.items()},
        schema=PAGES_SCHEMA,
    )
    bucket = _splitmix64(np.asarray(cols["doc_id"], dtype=np.uint64)) % np.uint64(n_files)
    for f in range(n_files):
        part = table.filter(pa.array(bucket == f))
        pq.write_table(part, os.path.join(out_dir, f"bucket={f:03d}.parquet"))
    return out_dir


# ------------------------------------------------------------------ queries
def generate_queries(n_docs: int) -> list[dict]:
    """The reference query set (FIXTURES.md §2): head/mid/rare singles,
    conjunctions (incl. head+rare WAND-pruning cases), absent terms,
    case/diacritic-normalization forms."""
    qs: list[dict] = []
    qid = 0

    def add(text: str, k: int = 10):
        nonlocal qid
        qs.append({"query_id": qid, "text": text, "k": k})
        qid += 1

    # head-term singles (k=1 for the first few)
    for i in range(5):
        add(f"term{i:04d}", k=1)
    for i in range(5, 10):
        add(f"term{i:04d}")
    # mid-frequency singles
    for r in range(100, 1000, 30):
        add(f"term{r:04d}")
    # rare singles: unique per-doc terms (always exactly one hit)
    for d in range(0, min(n_docs, 15) * 37, 37):
        if d < n_docs:
            add(rare_term(d))
    # conjunctions — incl. head+rare (the WAND pruning stressor)
    add("term0000 term0100")
    add("term0000 term0500 term1000")
    add(f"term0000 {rare_term(min(7, n_docs - 1))}")
    add("term0001 term0002 term0003 term0004")
    add(f"{rare_term(min(3, n_docs - 1))} term2000")
    add("term0050 term0051")
    add("term0200 term0300 term0400")
    add("term0000 term0000 term0001")  # duplicate query term
    # absent terms (empty result + mixed present/absent)
    for i in range(4):
        add(f"zzzmissing{i}")
    add("term0010 zzzmissing9")
    # normalization forms
    add("TERM0005")
    add("Térm0123")
    add("term0042, term0043!")
    # big-k
    while qid < 100:
        add(f"term{(qid * 53) % 3000:04d}", k=100)
    return qs


QUERIES_SCHEMA = pa.schema(
    [("query_id", pa.int32()), ("text", pa.string()), ("k", pa.int32())]
)


def write_queries(out_path: str, n_docs: int) -> str:
    qs = generate_queries(n_docs)
    table = pa.table(
        {
            "query_id": pa.array([q["query_id"] for q in qs], pa.int32()),
            "text": pa.array([q["text"] for q in qs], pa.string()),
            "k": pa.array([q["k"] for q in qs], pa.int32()),
        },
        schema=QUERIES_SCHEMA,
    )
    os.makedirs(os.path.dirname(out_path) or ".", exist_ok=True)
    pq.write_table(table, out_path)
    return out_path


def ensure_corpus(base_dir: str, n_docs: int, n_files: int = 8) -> tuple[str, str]:
    """Idempotently materialize (pages_dir, queries_path) for a scale."""
    pages_dir = os.path.join(base_dir, f"pages_{n_docs}")
    queries_path = os.path.join(base_dir, f"queries_{n_docs}.parquet")
    marker = os.path.join(pages_dir, "_SUCCESS")
    if not os.path.exists(marker):
        write_pages(pages_dir, n_docs, n_files)
        with open(marker, "w") as fh:
            fh.write("ok")
    if not os.path.exists(queries_path):
        write_queries(queries_path, n_docs)
    return pages_dir, queries_path

