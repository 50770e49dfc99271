"""Posting-segment construction: the distributed inverted index.

Two-stage, skew-proof by construction (SURVEY.md §3.4 "our lifecycle";
reference analogue: centroid-sharded index build,
/root/reference/src/dump_processor.rs:428-461 + per-shard graph build
src/generate_index_shard.rs — re-expressed as DataFrame transforms):

Stage 1 — salted partial posting lists.  Every (doc,term,tf) row gets a
``salt`` = unsigned(doc_id) >> salt_shift, i.e. a CONTIGUOUS doc-id
range bucket.  ``groupBy(term_hash, salt).applyInPandas`` builds
128-doc blocks (delta+varbyte doc ids, varbyte tfs + doc lens,
block-max tf_norm).  The head-term hot key (a term in 30% of all docs —
or 10^11 postings at full scale) is thereby split across ~N/2^shift
bounded groups: max group size is min(df, 2^shift) REGARDLESS of skew.

Stage 2 — merge without decoding.  Because salts are doc-range-disjoint
and ordered, the global posting list of a term is just its blocks
ordered by (salt, block_seq): the "merge" is a window renumbering plus
a per-term df sum over compressed block rows — bytes are never
re-encoded, so the merge shuffles ~1/10th of the stage-1 volume.

Block layout is a pure function of (corpus, salt_shift) — independent
of input partitioning (tested at 4 vs 17 input partitions).
"""

from __future__ import annotations

import os
from dataclasses import dataclass

import numpy as np
import pandas as pd

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, Window

from ..common.bm25 import B, K1
from ..common.codecs import (
    decode_postings_block,
    varbyte_encode_segmented,
)

BLOCK_SIZE = 128


@dataclass(frozen=True)
class IndexConfig:
    salt_shift: int = 17          # docs per salt range = 2^17
    n_buckets: int = 64           # term-hash partition buckets (pruning unit)
    n_parts: int = 8              # checkpoint granularity (build partitions)
    block_size: int = BLOCK_SIZE
    k1: float = K1
    b: float = B


PARTIALS_SCHEMA = (
    "part_id int, term_hash long, salt long, block_seq int, n_docs int, "
    "min_doc_id long, max_doc_id long, doc_ids binary, tfs binary, "
    "dls binary, block_max_tfnorm double, max_tf int, min_dl int, "
    "bytes int"
)

SEGMENTS_COLUMNS = [
    "term_hash", "bucket", "block_id", "n_blocks", "df", "n_docs",
    "min_doc_id", "max_doc_id", "doc_ids", "tfs", "dls",
    "block_max_tfnorm", "max_tf", "min_dl", "bytes",
]


def salt_col(doc_id_col, cfg: IndexConfig):
    """Contiguous doc-range bucket (unsigned shift — hashed ids may be
    negative)."""
    return F.shiftrightunsigned(doc_id_col, cfg.salt_shift)


def part_col(doc_id_col, cfg: IndexConfig):
    """Checkpoint build-partition of a doc (pure function of doc_id, so
    a resumed build re-selects exactly the missing input slice)."""
    return F.pmod(salt_col(doc_id_col, cfg), F.lit(cfg.n_parts)).cast("int")


def _salt_part_from_udoc(ud: np.ndarray, cfg: IndexConfig):
    """(salt, part_id) recomputed from unsigned doc ids — the shuffle
    never carries them (they're pure functions of doc_id; dropping
    them + _udoc halves the bytes of the build's one big shuffle).
    Bit-identical to the JVM salt_col/part_col expressions."""
    salt = (ud >> np.uint64(cfg.salt_shift)).astype(np.int64)
    part_id = salt % np.int64(cfg.n_parts)  # numpy % == pmod for n>0
    return salt, part_id


def _encode_sorted_run(
    pdf: pd.DataFrame, avgdl: float, cfg: IndexConfig
) -> pd.DataFrame:
    """Encode a run of rows already sorted by (term_hash, salt,
    unsigned doc_id) into block rows — MANY groups at once, fully
    vectorized: group/block boundaries by diff, per-block delta reset,
    one segmented varbyte pass per column, reduceat block maxes.
    (This is why stage 1 is mapInPandas and not per-group
    applyInPandas: tens of thousands of tiny pandas groups would pay
    ~1 ms of per-group overhead each.)"""
    k1, b, bs = cfg.k1, cfg.b, cfg.block_size
    if pdf["term_hash"].dtype != np.int64:
        # a single NULL degrades the whole Arrow batch to float64 and
        # double-rounds every 64-bit hash in it — corrupt loudly
        raise ValueError(
            f"term_hash arrived as {pdf['term_hash'].dtype}; nulls in the "
            "posting stream would silently mangle hashes"
        )
    th = pdf["term_hash"].to_numpy(np.int64)
    ud = pdf["doc_id"].to_numpy(np.int64).astype(np.uint64)
    salt, part_id = _salt_part_from_udoc(ud, cfg)
    dls = pdf["doc_len"].to_numpy(np.int64)
    raw_tf = (
        pdf["tf"].to_numpy(np.int64)
        if "tf" in pdf.columns
        else np.ones(len(pdf), dtype=np.int64)
    )

    # collapse duplicate (term, salt, doc) runs into postings with
    # summed tf — this is what lets the build skip the tf groupBy
    # shuffle entirely and feed raw exploded tokens straight into the
    # ONE (term_hash, salt) shuffle (identity when input is already tf)
    nr = len(pdf)
    posting_start = np.empty(nr, dtype=bool)
    posting_start[0] = True
    np.not_equal(th[1:], th[:-1], out=posting_start[1:])
    np.logical_or(posting_start[1:], salt[1:] != salt[:-1], out=posting_start[1:])
    np.logical_or(posting_start[1:], ud[1:] != ud[:-1], out=posting_start[1:])
    ps = np.flatnonzero(posting_start)
    tfs = np.add.reduceat(raw_tf, ps)
    th = th[ps]
    salt = salt[ps]
    part_id = part_id[ps]
    ud = ud[ps]
    dls = dls[ps]
    n = len(ps)

    new_group = np.empty(n, dtype=bool)
    new_group[0] = True
    np.not_equal(th[1:], th[:-1], out=new_group[1:])
    np.logical_or(new_group[1:], salt[1:] != salt[:-1], out=new_group[1:])
    group_start_idx = np.flatnonzero(new_group)
    group_id = np.cumsum(new_group) - 1
    pos_in_group = np.arange(n, dtype=np.int64) - group_start_idx[group_id]

    is_block_start = (pos_in_group % bs) == 0
    bstart = np.flatnonzero(is_block_start)
    bend = np.concatenate((bstart[1:], [n])) - 1

    # per-block delta coding: absolute at block starts, diffs inside
    deltas = np.empty(n, dtype=np.uint64)
    deltas[0] = ud[0]
    np.subtract(ud[1:], ud[:-1], out=deltas[1:])
    deltas[bstart] = ud[bstart]

    doc_bytes = varbyte_encode_segmented(deltas, bstart)
    tf_bytes = varbyte_encode_segmented(tfs, bstart)
    dl_bytes = varbyte_encode_segmented(dls, bstart)

    tf_f = tfs.astype(np.float64)
    tf_norm = tf_f / (tf_f + k1 * ((1.0 - b) + (b * dls.astype(np.float64)) / avgdl))
    block_max = np.maximum.reduceat(tf_norm, bstart)
    # avgdl-independent bound ingredients: tf_norm is increasing in tf
    # and decreasing in dl, so f(max_tf, min_dl, avgdl_now) upper-bounds
    # every posting in the block for ANY current avgdl — what makes
    # incremental appends (which shift avgdl) sound for WAND pruning
    block_max_tf = np.maximum.reduceat(tfs, bstart)
    block_min_dl = np.minimum.reduceat(dls, bstart)

    return pd.DataFrame(
        {
            "part_id": part_id[bstart].astype(np.int32),
            "term_hash": th[bstart],
            "salt": salt[bstart],
            "block_seq": (pos_in_group[bstart] // bs).astype(np.int32),
            "n_docs": (bend - bstart + 1).astype(np.int32),
            "min_doc_id": ud[bstart].astype(np.int64),
            "max_doc_id": ud[bend].astype(np.int64),
            "doc_ids": doc_bytes,
            "tfs": tf_bytes,
            "dls": dl_bytes,
            "block_max_tfnorm": block_max,
            "max_tf": block_max_tf.astype(np.int32),
            "min_dl": block_min_dl.astype(np.int32),
            # stored compressed size: downstream metrics aggregate
            # THIS int column instead of re-scanning the binary
            # payloads just to take their lengths
            "bytes": np.fromiter(
                (len(a) + len(b) + len(c)
                 for a, b, c in zip(doc_bytes, tf_bytes, dl_bytes)),
                dtype=np.int32, count=len(doc_bytes),
            ),
        }
    )


def _make_partials_kernel(avgdl: float, cfg: IndexConfig):
    """mapInPandas kernel over a partition sorted by (term_hash, salt,
    unsigned doc_id).  Arrow batches can split a group, so the trailing
    (possibly incomplete) group of each batch is carried into the next;
    carry size is bounded by the salt range (<= 2^salt_shift rows)."""

    def kernel(batches):
        carry: pd.DataFrame | None = None
        for pdf in batches:
            if carry is not None and len(carry):
                pdf = pd.concat((carry, pdf), ignore_index=True)
            if not len(pdf):
                continue
            th = pdf["term_hash"].to_numpy()
            ud = pdf["doc_id"].to_numpy(np.int64).astype(np.uint64)
            salt, _ = _salt_part_from_udoc(ud, cfg)
            tail = (th == th[-1]) & (salt == salt[-1])
            nz = np.flatnonzero(~tail)
            cut = int(nz[-1] + 1) if nz.size else 0
            carry = pdf.iloc[cut:]
            if cut:
                yield _encode_sorted_run(pdf.iloc[:cut], avgdl, cfg)
        if carry is not None and len(carry):
            yield _encode_sorted_run(carry, avgdl, cfg)

    return kernel


def _udoc_col():
    """Unsigned total order for int64 doc ids: flip the sign bit."""
    return F.col("doc_id").bitwiseXOR(F.lit(-(2**63)))


def build_partials(tf: DataFrame, avgdl: float, cfg: IndexConfig) -> DataFrame:
    """tf(term_hash, doc_id, doc_len, tf) -> partial block rows.

    The ONE big shuffle of the build: hash-repartition by (term_hash,
    salt) + partition-local sort, then a batch-vectorized mapInPandas
    encoder.  Skew-bounded per the module docstring; per-group Python
    overhead avoided entirely (see _encode_sorted_run).

    salt/part_id/_udoc are passed as EXPRESSIONS to repartition/sort,
    never materialized into the shuffled rows — they're recomputed from
    doc_id inside the kernel, halving the shuffle payload."""
    salt = salt_col(F.col("doc_id"), cfg)
    return (
        tf.select("term_hash", "doc_id", "doc_len", "tf")
        .repartition(F.col("term_hash"), salt)
        .sortWithinPartitions(F.col("term_hash"), salt, _udoc_col())
        .mapInPandas(_make_partials_kernel(avgdl, cfg), PARTIALS_SCHEMA)
    )


def doc_term_tf_exploded(docs: DataFrame) -> DataFrame:
    """docs(doc_id, doc_len, tokens) -> (term_hash, doc_id, doc_len,
    tf) with tf pre-counted DOC-LOCALLY, entirely in JVM codegen — the
    map-side combine that shrinks the build's one big shuffle.

    All tokens of a doc live in one array BEFORE any exchange, so the
    per-(doc,term) count needs no groupBy (and no second exchange):
    ``array_sort`` the per-doc term hashes, find run starts with a
    ``filter(sequence(...))`` index scan, take run lengths by zipping
    starts with their successors, and explode only the DISTINCT
    (term, tf) pairs.  Every step is a higher-order function on the
    doc's own array — whole-stage-codegen'd, no Python, no window.

    Measured on the synthetic webtext corpus (within-doc duplicate
    factor 1.84x): shuffle records -46%, uncompressed sorter payload
    -32% vs exploding raw tokens, at equal map-stage wall-clock —
    the combine's array passes ride the same stage as tokenization.
    Reference analogue: packed fixed-size records exist precisely to
    cut I/O volume (/root/reference/src/dump_processor.rs:500-524)."""
    hs = F.array_sort(F.transform(F.col("tokens"), lambda t: F.xxhash64(t)))
    d = docs.select("doc_id", "doc_len", hs.alias("_hs"))
    # run starts as 0-based positions.  F.get (0-based, null on
    # out-of-bounds) everywhere: element_at would raise under ANSI on
    # index 0 / past-the-end, and the null-safe get keeps the i==0
    # disjunct total (null != x -> null, OR(true, null) = true).
    # size<=0 guards BOTH empty and null token arrays (size(null) = -1,
    # and sequence(0, size-1) would otherwise generate a DESCENDING
    # sequence).
    starts = F.when(
        F.size(F.col("_hs")) <= 0, F.expr("array()").cast("array<int>")
    ).otherwise(
        F.filter(
            F.sequence(F.lit(0), F.size(F.col("_hs")) - 1),
            lambda i: (i == F.lit(0))
            | (F.get(F.col("_hs"), i) != F.get(F.col("_hs"), i - 1)),
        )
    )
    d = d.withColumn("_st", starts)
    # tf(j) = next_start - start, where the last run ends at size(_hs);
    # transform over _st itself (NOT zip_with against a successor
    # array: zip_with pads the shorter side with nulls, which for an
    # empty doc emitted a (null, null) pair — and one null in an int64
    # column degrades the whole Arrow batch to float64, double-rounding
    # every term hash in that partition)
    pairs = F.arrays_zip(
        F.transform(F.col("_st"), lambda s: F.get(F.col("_hs"), s)).alias("th"),
        F.transform(
            F.col("_st"),
            lambda s, j: F.coalesce(
                F.get(F.col("_st"), j + 1), F.size(F.col("_hs"))
            )
            - s,
        ).alias("tf"),
    )
    return d.select("doc_id", "doc_len", F.explode(pairs).alias("p")).select(
        F.col("p.th").alias("term_hash"),
        "doc_id",
        "doc_len",
        F.col("p.tf").cast("int").alias("tf"),
    )


def build_partials_from_docs(
    docs: DataFrame,
    avgdl: float,
    cfg: IndexConfig,
    combine: bool | None = None,
) -> DataFrame:
    """docs(doc_id, doc_len, tokens) -> partial block rows, single
    shuffle: per-doc pre-counted (term, tf) rows go STRAIGHT into the
    (term_hash, salt) repartition; the encoder's run-length collapse
    sums tf across input rows (identity here — one row per (doc,term)
    already — which is what keeps combine=False bit-identical).

    combine=True (default) counts tf doc-locally in JVM HOFs before
    the exchange (see doc_term_tf_exploded): -46% shuffled records on
    the synthetic corpus at equal map cost, still exactly ONE shuffle
    and no per-(doc,term) groupBy (a groupBy would add a second full
    exchange on the wrong key).  combine=False ships one row per raw
    token occurrence — kept for A/B measurement.

    The shuffled rows are (term_hash, doc_id, doc_len[, tf]);
    salt/part/udoc are repartition/sort EXPRESSIONS recomputed in the
    kernel, never materialized into the rows."""
    if combine is None:
        # env knob for same-window A/B (tools/combine_scaling_ab.py)
        combine = os.environ.get("SPARK_GRAFT_BUILD_COMBINE", "1") != "0"
    salt = salt_col(F.col("doc_id"), cfg)
    if combine:
        tok = doc_term_tf_exploded(docs)
    else:
        tok = docs.select(
            "doc_id",
            "doc_len",
            F.explode("tokens").alias("term"),
        ).select(
            F.xxhash64("term").alias("term_hash"),
            "doc_id",
            "doc_len",
        )
    return (
        tok.repartition(F.col("term_hash"), salt)
        .sortWithinPartitions(F.col("term_hash"), salt, _udoc_col())
        .mapInPandas(_make_partials_kernel(avgdl, cfg), PARTIALS_SCHEMA)
    )


def finalize_segments(partials: DataFrame, cfg: IndexConfig) -> DataFrame:
    """Partial blocks -> final segments: global per-term block numbering
    and df, WITHOUT decoding (concat-merge of range-disjoint blocks).

    ONE shuffle of the compressed block rows, total: the explicit
    repartition on `bucket` is the only exchange, because the windows
    partition by (bucket, term_hash) and HashPartitioning(bucket)
    satisfies ClusteredDistribution(bucket, term_hash) — bucket is a
    pure function of term_hash, so the grouping is semantically
    per-term and Catalyst reuses the exchange (window = sort-only).
    (Windowing by term_hash alone forced a SECOND full-index exchange
    after the bucket repartition — measured in the r3 plan audit.)

    Blocks are ordered by unsigned min_doc_id (not (salt, block_seq)):
    range-disjointness makes that equivalent for a cold build, and it
    stays correct for incremental appends where a later epoch adds
    higher-doc-id blocks into the boundary salt.  The window's sort
    also leaves each output partition term_hash-ordered, which is
    exactly the row-group layout the segment writer wants."""
    seg = partials.withColumn(
        "bucket", F.pmod(F.col("term_hash"), F.lit(cfg.n_buckets)).cast("int")
    ).repartition("bucket")
    w = Window.partitionBy("bucket", "term_hash")
    w_ord = w.orderBy(F.col("min_doc_id").bitwiseXOR(F.lit(-(2**63))))
    return (
        seg.withColumn("block_id", F.row_number().over(w_ord) - 1)
        .withColumn("df", F.sum("n_docs").over(w))
        .withColumn("n_blocks", F.count("*").over(w))
        .select(*SEGMENTS_COLUMNS)
    )


def decode_segments_to_postings(segments: DataFrame) -> DataFrame:
    """Segments -> exploded (term_hash, doc_id, tf, doc_len) — the
    decode path used by tests/goldens and the exhaustive scorer-over-
    index.  mapInPandas, numpy-vectorized decode.

    df is recomputed as the GLOBAL per-term sum(n_docs): on a
    multi-epoch (appended) index the stored column is epoch-local; on
    a single-epoch index the recomputation is identical to the stored
    value (finalize_segments defines df the same way), so the decoded
    logical content of an appended index equals a cold build's."""
    segments = segments.withColumn(
        "df", F.sum("n_docs").over(Window.partitionBy("term_hash"))
    )

    def decode(batches):
        for pdf in batches:
            outs = []
            for r in pdf.itertuples(index=False):
                d, t, l = decode_postings_block(r.doc_ids, r.tfs, r.dls)
                outs.append(
                    pd.DataFrame(
                        {
                            "term_hash": np.full(len(d), r.term_hash, np.int64),
                            "df": np.full(len(d), r.df, np.int64),
                            "doc_id": d,
                            "tf": t,
                            "doc_len": l,
                        }
                    )
                )
            if outs:
                yield pd.concat(outs, ignore_index=True)

    return segments.mapInPandas(
        decode, "term_hash long, df long, doc_id long, tf long, doc_len long"
    )
