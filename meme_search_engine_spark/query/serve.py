"""Driver-local low-latency query serving over a built index.

The reference serves queries from a dedicated online process
(src/query_disk_index.rs: mmap'd fixed-size records,
one offset lookup per term) rather than re-entering the batch engine.
Same split here: the INDEX is built by Spark; SERVING memory-maps one
serving image per segment epoch — no Spark job, no scheduler latency —
and scores from ONE decode-once per-term cache of (doc_ids, float
contributions) with the SAME fixed-point contribution arithmetic as
the distributed engines — results are rank- and score-identical
(pytest-verified).

The serving image (`segments/epoch=E/_serving.arrow`, written at
every commit by write_serving_image) is an uncompressed Arrow IPC file
derived from the epoch's parquet segments: one record batch per
term-hash bucket, rows sorted by (term_hash, unsigned min_doc_id).
The `_` prefix hides it from Spark and pyarrow.dataset.  An epoch
without one gets it built in memory by the same writer.

Per-query cost: an uncached term costs one searchsorted per epoch
into the mapped bucket's term_hash column and a zero-copy slice of
its rows; a query's slices are decoded in one batched varbyte pass,
and cached terms are a pure numpy accumulate.  URLs and quality
priors come from the docmeta sidecar held resident as doc_id-sorted
arrays (a searchsorted + take, like the reference's filename
projection, query_disk_index.rs:531-541).

A searcher serves the snapshot it opened — the images mapped then,
scored with that manifest's stats — until it is rebuilt: a mapping
stays readable after a compaction unlinks its file, and postings
appended later need a new searcher.
"""

from __future__ import annotations

import json
import os
import threading
import uuid
from collections import OrderedDict

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.dataset as ds

from ..common.bm25 import FIXED_POINT_SCALE, bm25_idf, contribs_float
from ..common.codecs import decode_blocks_batch
from ..common.hashing import term_hash
from ..common.textproc import tokenize
from ..common.topk import partial_topk_indices

SERVING_IMAGE = "_serving.arrow"
_BLOCK_COLUMNS = ["term_hash", "n_docs", "min_doc_id", "doc_ids", "tfs", "dls"]
_IMAGE_SCHEMA = pa.schema(
    [
        ("term_hash", pa.int64()),
        ("n_docs", pa.int32()),
        ("min_doc_id", pa.int64()),
        ("doc_ids", pa.binary()),
        ("tfs", pa.binary()),
        ("dls", pa.binary()),
    ]
)
_DOCMETA_COLUMNS = ["doc_id", "distinct_ratio", "stopword_ratio", "url"]
_EMPTY = np.empty(0, dtype=np.int64)


def _bucket_batch(bucket_dir: str) -> pa.RecordBatch:
    """One bucket's block rows, sorted by (term_hash, unsigned
    min_doc_id) — a term's blocks are doc-range-disjoint, so the order
    is total and the batch is a pure function of the rows."""
    if os.path.isdir(bucket_dir):
        t = ds.dataset(bucket_dir, format="parquet").to_table(
            columns=_BLOCK_COLUMNS
        )
    else:
        t = _IMAGE_SCHEMA.empty_table()
    order = np.lexsort(
        (
            t.column("min_doc_id").to_numpy().astype(np.uint64),
            t.column("term_hash").to_numpy(),
        )
    )
    t = t.take(order)
    return pa.record_batch(
        [t.column(c).combine_chunks() for c in _BLOCK_COLUMNS],
        schema=_IMAGE_SCHEMA,
    )


def write_serving_image(seg_dir: str, n_buckets: int, sink=None) -> None:
    """Write the serving image of one segment epoch dir: one record
    batch per bucket 0..n_buckets-1 (an empty bucket gets an empty
    batch), read and written one bucket at a time, so memory is
    bounded by the largest bucket.  With no `sink` it is committed as
    `seg_dir/_serving.arrow` through a hidden tmp file + os.replace,
    like the manifest."""
    if sink is None:
        tmp = os.path.join(seg_dir, f".{SERVING_IMAGE}.{uuid.uuid4().hex}.tmp")
        with pa.OSFile(tmp, "wb") as fh:
            write_serving_image(seg_dir, n_buckets, fh)
        os.replace(tmp, os.path.join(seg_dir, SERVING_IMAGE))
        return
    with pa.ipc.new_file(sink, _IMAGE_SCHEMA) as w:
        for b in range(n_buckets):
            w.write_batch(_bucket_batch(os.path.join(seg_dir, f"bucket={b}")))


def _open_image(seg_dir: str, n_buckets: int) -> list[tuple]:
    """[(term_hash int64 view, batch)] per bucket of one epoch: its
    committed image memory-mapped, or one built in memory from its
    segments when the epoch has none."""
    try:
        src = pa.memory_map(os.path.join(seg_dir, SERVING_IMAGE))
    except FileNotFoundError:
        if not os.path.isdir(seg_dir):
            raise
        sink = pa.BufferOutputStream()
        write_serving_image(seg_dir, n_buckets, sink)
        src = pa.BufferReader(sink.getvalue())
    reader = pa.ipc.open_file(src)
    if reader.num_record_batches != n_buckets:
        raise ValueError(
            f"{seg_dir}: serving image has {reader.num_record_batches} "
            f"buckets, the manifest says {n_buckets}"
        )
    batches = [reader.get_batch(b) for b in range(n_buckets)]
    return [(b.column(0).to_numpy(), b) for b in batches]


def index_epochs(index_dir: str) -> list[int]:
    """Sorted epoch ids present under segments/."""
    seg_dir = os.path.join(index_dir, "segments")
    if not os.path.isdir(seg_dir):
        return []
    return sorted(
        int(d.split("=", 1)[1])
        for d in os.listdir(seg_dir)
        if d.startswith("epoch=")
    )


def _path_fingerprint(path: str) -> tuple:
    """Cheap rewrite fingerprint for a table/index path: a single
    file's stat, or the top-level directory listing with sizes +
    mtimes (Spark rewrites add/replace part files and the _SUCCESS /
    manifest markers, all of which change this).  Resident decoded
    caches re-check it per access and rebuild when it moves, so a
    server running across an append/compact never serves stale
    docmeta (ADVICE r05)."""
    try:
        st = os.stat(path)
        if not os.path.isdir(path):
            return (st.st_mtime_ns, st.st_size)
        entries = []
        with os.scandir(path) as it:
            for e in it:
                s = e.stat(follow_symlinks=False)
                entries.append((e.name, s.st_mtime_ns, s.st_size))
        return tuple(sorted(entries))
    except OSError:
        return ("missing",)


def _lookup(ids: np.ndarray, doc_ids: np.ndarray) -> tuple:
    """(positions, found mask) of `doc_ids` in the ascending `ids`."""
    if not len(ids):
        return np.zeros(len(doc_ids), np.int64), np.zeros(len(doc_ids), bool)
    pos = np.minimum(np.searchsorted(ids, doc_ids), len(ids) - 1)
    return pos, ids[pos] == doc_ids


class LocalSearcher:
    """Low-latency top-k BM25 search over an index's mapped serving
    images."""

    def __init__(self, index_dir: str):
        with open(os.path.join(index_dir, "manifest.json")) as fh:
            self.manifest = json.load(fh)
        self.cfg = self.manifest["config"]
        self.stats = self.manifest["stats"]
        # every epoch's serving image, mapped once here: the searcher
        # serves this snapshot's postings for its whole life
        self._images = [
            _open_image(
                os.path.join(index_dir, "segments", f"epoch={e}"),
                self.cfg["n_buckets"],
            )
            for e in index_epochs(index_dir)
        ]
        self._docmeta_dir = os.path.join(index_dir, "docmeta")
        # decoded per-term postings cache: hash -> (doc_ids int64[],
        # float contribs) over all epochs, None = probed and absent
        # (negative cache) — the driver-local analogue of the
        # reference's DECODE-FREE fixed-record index (its mmap'd shard
        # pays no per-query decode either, query_disk_index.rs:73-81).
        # Entries derive from the images and the manifest stats, both
        # fixed at open, so they need no invalidation.
        # LRU (evict-oldest at cap), never a clear(): that would dump
        # every warm term at the cap crossing and serve a latency
        # cliff to concurrent traffic (r4 advice #4).  Bounded by total
        # cached postings (head terms dominate) AND entry count
        # (absent terms cost zero postings and would otherwise grow
        # unboundedly under diverse junk-term traffic).  Guarded by a
        # lock: the HTTP server's pool threads search concurrently.
        self._scored_cache: OrderedDict[int, tuple | None] = OrderedDict()
        self._scored_postings = 0
        self._scored_postings_cap = 50_000_000  # ~0.8 GB worst case
        self._scored_entries_cap = 200_000
        self._cache_lock = threading.Lock()
        # /metrics counters, guarded by _cache_lock
        self._counts = dict.fromkeys(
            (
                "term_cache_hits",
                "term_cache_misses",
                "term_cache_evictions",
                "docmeta_reloads",
            ),
            0,
        )

    def counts(self) -> dict[str, int]:
        """Snapshot of the decoded-cache and docmeta-reload counters."""
        with self._cache_lock:
            return dict(self._counts)

    def _read_terms(self, hashes: list[int]) -> dict[int, tuple | None]:
        """Decoded entries for `hashes`: per hash and epoch, one
        searchsorted into the mapped bucket's term_hash column and a
        zero-copy slice of its rows, then every fetched block decoded
        in one varbyte pass.  df is recomputed as the global per-term
        sum(n_docs) — exact on any epoch layout (epoch-local stored df
        is never trusted; see builder._finalize_epoch)."""
        nb = self.cfg["n_buckets"]
        pieces = []
        for h in hashes:
            for image in self._images:
                th, batch = image[h % nb]
                lo = int(th.searchsorted(h))
                hi = int(th.searchsorted(h, side="right"))
                if hi > lo:
                    pieces.append(batch.slice(lo, hi - lo))
        entries: dict[int, tuple | None] = dict.fromkeys(hashes)
        if not pieces:
            return entries
        t = pa.Table.from_batches(pieces)
        th = t.column("term_hash").to_numpy()
        # blocks grouped by term, each term's in unsigned min_doc_id
        # order (blocks are doc-range-disjoint, so its doc_ids come out
        # strictly increasing — _accumulate_fixed relies on it)
        order = np.lexsort(
            (t.column("min_doc_id").to_numpy().astype(np.uint64), th)
        )
        th = th[order]
        n = t.column("n_docs").to_numpy().astype(np.int64)
        d, tfs, dls = decode_blocks_batch(
            {
                "n": n,
                "doc_ids": t.column("doc_ids").to_pylist(),
                "tfs": t.column("tfs").to_pylist(),
                "dls": t.column("dls").to_pylist(),
            },
            order,
        )
        row_starts = np.flatnonzero(np.r_[True, th[1:] != th[:-1]])
        bounds = np.r_[0, np.cumsum(n[order])][np.r_[row_starts, len(th)]]
        for h, lo, hi in zip(th[row_starts].tolist(), bounds[:-1], bounds[1:]):
            idf = bm25_idf(int(hi - lo), self.stats["N"])
            c = contribs_float(
                idf, tfs[lo:hi], dls[lo:hi],
                self.cfg["k1"], self.cfg["b"], self.stats["avgdl"],
            )
            entries[h] = (d[lo:hi].copy(), c)
        return entries

    def _terms(self, hashes: list[int]) -> dict[int, tuple | None]:
        """{hash: (doc_ids, float contribs) | None} for a query's term
        hashes: cached entries plus one batched _read_terms for the
        rest.  The query scores from the RETURNED entries, never the
        shared cache, so a concurrent eviction cannot drop a term it
        still needs."""
        with self._cache_lock:
            got = {}
            for h in hashes:
                if h in self._scored_cache:
                    self._scored_cache.move_to_end(h)
                    got[h] = self._scored_cache[h]
            self._counts["term_cache_hits"] += len(got)
            self._counts["term_cache_misses"] += len(hashes) - len(got)
        missing = [h for h in hashes if h not in got]
        if not missing:
            return got
        fetched = self._read_terms(missing)
        got.update(fetched)
        with self._cache_lock:
            for h, entry in fetched.items():
                # another thread may have inserted h while we read:
                # keep its entry and DON'T re-add the postings to the
                # counter (the drift triggered early whole-cache
                # eviction — r4 ADVICE) — identical content either way
                if h in self._scored_cache:
                    continue
                self._scored_cache[h] = entry
                if entry is not None:
                    self._scored_postings += len(entry[0])
            # LRU eviction, oldest-first, until BOTH caps hold; the
            # newest entry stays even when it alone exceeds the budget
            while len(self._scored_cache) > 1 and (
                len(self._scored_cache) > self._scored_entries_cap
                or self._scored_postings > self._scored_postings_cap
            ):
                _, old = self._scored_cache.popitem(last=False)
                self._counts["term_cache_evictions"] += 1
                if old is not None:
                    self._scored_postings -= len(old[0])
        return got

    def _accumulate_fixed(self, parts: list[tuple]):
        """[(doc_ids, fixed_contribs)] -> (uniq_doc_ids, int64 sums),
        uniq ascending.  A term's doc_ids are already sorted strictly
        increasing (range-disjoint ascending blocks; appends are
        monotonic), so one term needs no work at all; several terms
        accumulate via bincount over a dense id space (O(n), exact:
        per-posting fixed contribs are < 2^38 and a query has few
        terms, far below float64's 2^53 integer range) with an
        argsort+reduceat fallback for sparse/huge id spaces."""
        if len(parts) == 1:
            return parts[0]
        ids = np.concatenate([p[0] for p in parts])
        cs = np.concatenate([p[1] for p in parts])
        lo, hi = int(ids.min()), int(ids.max())
        # the bincount fast path accumulates int64 in float64: exact
        # only while every per-doc SUM stays < 2^53.  Bound it by
        # max|contrib| * n_terms (a doc appears once per term);
        # weighted queries with huge weights overflow this and take
        # the exact int64 reduceat path instead.
        exact_in_f64 = (
            int(np.abs(cs).max()) < (1 << 52) // max(len(parts), 1)
        )
        if lo >= 0 and hi < max(4 * len(ids), 1 << 22) and exact_in_f64:
            sums_f = np.bincount(
                ids, weights=cs.astype(np.float64), minlength=hi + 1
            )
            # presence mask, NOT sums!=0: a matching doc whose weighted
            # contributions cancel to exactly 0 still outranks negative
            # totals (negative weights exist in the weighted path)
            present = np.bincount(ids, minlength=hi + 1)
            nz = np.flatnonzero(present)
            return nz.astype(np.int64), sums_f[nz].astype(np.int64)
        order = np.argsort(ids, kind="stable")
        sid, sc = ids[order], cs[order]
        starts = np.concatenate(([0], np.flatnonzero(np.diff(sid)) + 1))
        return sid[starts], np.add.reduceat(sc, starts)

    def _scored_fixed(self, weights: dict[int, float]) -> tuple:
        """(doc_ids int64 ASCENDING, int64 sums) of weight * BM25 over
        every posting of the weighted term hashes.  The weight
        multiplies the FLOAT contribution, THEN the round — the same
        association as bm25_topk_weighted (x * 1.0 == x exactly, so
        unweighted search shares it).  Arrays, not a dict: at index
        scale a head term scores ~10k+ docs per query and the Python
        dict build + sorted() ranking was 69% of warm service time
        (profiled at 100k docs)."""
        hashes = sorted(weights)
        entries = self._terms(hashes)
        parts = []
        for h in hashes:
            e = entries[h]
            if e is None:
                continue
            c = e[1] * weights[h]
            fixed = np.floor(c * float(FIXED_POINT_SCALE) + 0.5)
            parts.append((e[0], fixed.astype(np.int64)))
        if not parts:
            return _EMPTY, _EMPTY
        return self._accumulate_fixed(parts)

    def _bm25_fixed_all(self, text: str) -> tuple:
        """(doc_ids int64 ASCENDING, fixed-point BM25 int64) over every
        posting of every query term."""
        return self._scored_fixed(
            dict.fromkeys({term_hash(t) for t in tokenize(text)}, 1.0)
        )

    def _ranked(
        self, doc_ids: np.ndarray, sums: np.ndarray, k: int, with_urls: bool
    ) -> list[dict]:
        """Top-k result dicts: O(n) threshold selection (tie-exact at
        the boundary: smallest ids win), then rank only the k — a full
        lexsort over every scored doc grew with head-term df."""
        if not len(doc_ids):
            return []
        kk = min(k, len(doc_ids))
        sel = partial_topk_indices(sums[:, None], doc_ids, kk)[:, 0]
        order = sel[np.lexsort((doc_ids[sel], -sums[sel]))]
        results = [
            {
                "rank": i + 1,
                "doc_id": int(doc_ids[j]),
                "score_fixed": int(sums[j]),
                "score": int(sums[j]) / float(FIXED_POINT_SCALE),
            }
            for i, j in enumerate(order)
        ]
        if with_urls:
            urls = self.urls_for([r["doc_id"] for r in results])
            for r in results:
                r["url"] = urls.get(r["doc_id"])
        return results

    def search(self, text: str, k: int = 10, with_urls: bool = False) -> list[dict]:
        """-> [{rank, doc_id, score_fixed, score}] — rank-identical to
        the Spark engines and the oracle."""
        return self._ranked(*self._bm25_fixed_all(text), k, with_urls)

    def search_weighted(
        self, terms: list[tuple[str, float]], k: int = 10,
        with_urls: bool = False,
    ) -> list[dict]:
        """Weighted multi-term query (reference query algebra,
        common.rs:215-274): each (text, weight) contributes
        weight * BM25_term; weights may be negative.  Exhaustive over
        the query terms' postings (block-max pruning is only valid for
        all-positive weights, so the weighted path never prunes)."""
        weights: dict[int, float] = {}
        for text, w in terms:
            for t in tokenize(text):
                h = term_hash(t)
                weights[h] = weights.get(h, 0.0) + w
        return self._ranked(*self._scored_fixed(weights), k, with_urls)

    def search_quality(
        self,
        text: str,
        k: int = 10,
        w_distinct: float = 0.5,
        w_stopword: float = -0.25,
        with_urls: bool = False,
    ) -> list[dict]:
        """BM25 + quality-prior ranking — the reference's query-time
        score channels (query_disk_index.rs:135-142,463-473).  The
        prior shifts θ per doc, so block-max pruning is not sound
        as-is; candidates are scored exhaustively over the query
        terms' postings (same tradeoff as search_weighted), then the
        docmeta prior is added before ranking.  Rank-identical to
        bm25_topk_with_prior (pytest)."""
        doc_ids, sums = self._bm25_fixed_all(text)
        priors = self._priors_fixed_for(doc_ids, w_distinct, w_stopword)
        if priors is not None:
            sums = sums + priors
        return self._ranked(doc_ids, sums, k, with_urls)

    # docmeta (doc_id-ascending ids, quality channels, urls), decoded
    # ONCE per docmeta rewrite and shared by every searcher over the
    # same index (fingerprinted like every resident cache in this
    # module).  Above the row cap the resident form would cost real
    # memory (~24 B/doc + the url bytes) and the per-query filtered
    # read is the right trade again.
    _DOCMETA_CHANNELS_CACHE: dict[str, tuple] = {}
    _DOCMETA_LOCK = threading.Lock()
    _DOCMETA_RESIDENT_MAX_ROWS = 20_000_000

    def _read_docmeta(self, doc_ids=None) -> tuple:
        """(doc_ids int64 ASCENDING, distinct_ratio f64, stopword_ratio
        f64, url pa.Array) — every docmeta row, or only `doc_ids`'s."""
        filt = None if doc_ids is None else pc.field("doc_id").isin(doc_ids)
        meta = ds.dataset(
            self._docmeta_dir, format="parquet", partitioning="hive"
        ).to_table(columns=_DOCMETA_COLUMNS, filter=filt)
        ids = meta.column("doc_id").to_numpy().astype(np.int64)
        order = np.argsort(ids, kind="stable")
        return (
            ids[order],
            meta.column("distinct_ratio").to_numpy()[order],
            meta.column("stopword_ratio").to_numpy()[order],
            meta.column("url").take(order).combine_chunks(),
        )

    def _docmeta_channels(self):
        """The resident docmeta entry (see _read_docmeta), reloaded
        when the docmeta dir's fingerprint moves; None when the index
        is over the resident cap."""
        if self.stats.get("N", 0) > self._DOCMETA_RESIDENT_MAX_ROWS:
            return None
        cache = LocalSearcher._DOCMETA_CHANNELS_CACHE
        fp = _path_fingerprint(self._docmeta_dir)
        hit = cache.get(self._docmeta_dir)
        if hit is not None and hit[0] == fp:
            return hit[1]
        # one reload at a time: concurrent first requests wait for it
        # instead of each reading the whole sidecar
        with LocalSearcher._DOCMETA_LOCK:
            hit = cache.get(self._docmeta_dir)
            if hit is not None and hit[0] == fp:
                return hit[1]
            entry = self._read_docmeta()
            cache[self._docmeta_dir] = (fp, entry)
            with self._cache_lock:
                self._counts["docmeta_reloads"] += 1
        return entry

    def _docmeta_for(self, doc_ids: np.ndarray):
        """docmeta rows covering `doc_ids`: the resident entry, or one
        filtered read of just these rows over the resident cap; None
        when the index has no docmeta."""
        if not len(doc_ids) or not os.path.isdir(self._docmeta_dir):
            return None
        meta = self._docmeta_channels()
        if meta is None:
            meta = self._read_docmeta(doc_ids.tolist())
        return meta

    def urls_for(self, doc_ids: list[int]) -> dict[int, str]:
        """doc_id -> url (docmeta rows only) by a searchsorted + take
        on the resident docmeta — the reference's filename projection,
        query_disk_index.rs:531-541."""
        q = np.asarray(doc_ids, dtype=np.int64)
        meta = self._docmeta_for(q)
        if meta is None:
            return {}
        pos, found = _lookup(meta[0], q)
        urls = meta[3].take(pos[found]).to_pylist()
        return dict(zip(q[found].tolist(), urls))

    def _priors_fixed_for(
        self, doc_ids, w_distinct: float, w_stopword: float
    ):
        """int64 fixed-point quality priors ALIGNED with `doc_ids`
        (0 where a doc has no docmeta row) — same formula/rounding as
        gate.quality_prior_fixed, vectorized: channel gather is a
        searchsorted join against the sorted docmeta arrays, never a
        Python dict over every scored doc (that dict build scaled with
        head-term df and was the last O(df)-Python serving term —
        VERDICT r07)."""
        meta = self._docmeta_for(doc_ids)
        if meta is None:
            return None
        pos, found = _lookup(meta[0], doc_ids)
        if not found.any():
            return None
        prior = np.floor(
            (w_distinct * meta[1][pos] + w_stopword * meta[2][pos])
            * float(FIXED_POINT_SCALE)
            + 0.5
        ).astype(np.int64)
        prior[~found] = 0
        return prior
