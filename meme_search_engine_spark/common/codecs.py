"""Posting-list compression codecs: delta + varbyte, numpy-vectorized.

Role analogue in the reference: the packed fixed-record index codec
(bitcode + u16 length prefix, /root/reference/src/dump_processor.rs:500-521)
and the PQ byte codes (dump_processor.rs:523).  Ours is the classic
inverted-index pairing — per-block delta-encoded doc ids, varbyte
(7-bits-per-byte, MSB continuation) packed — implemented with whole-array
numpy ops so the encode/decode running inside Arrow-batched pandas UDFs
never touches per-row Python (BASELINE.json input_hint requirement).
"""

from __future__ import annotations

import numpy as np

_MAX_VARBYTE_LEN = 10  # ceil(64 / 7)


def varbyte_encode(values: np.ndarray) -> bytes:
    """Encode a non-negative int array to varbyte bytes (LSB group
    first, 0x80 continuation bit = more bytes follow)."""
    arr = np.ascontiguousarray(values, dtype=np.uint64)
    if arr.size == 0:
        return b""
    # byte length of each value = number of 7-bit groups
    lengths = np.ones(arr.shape, dtype=np.int64)
    rest = arr >> np.uint64(7)
    while rest.any():
        lengths += (rest > 0).astype(np.int64)
        rest >>= np.uint64(7)
    offsets = np.concatenate(([0], np.cumsum(lengths)[:-1]))
    out = np.zeros(int(lengths.sum()), dtype=np.uint8)
    for b in range(_MAX_VARBYTE_LEN):
        mask = lengths > b
        if not mask.any():
            break
        chunk = (arr[mask] >> np.uint64(7 * b)) & np.uint64(0x7F)
        cont = (lengths[mask] > b + 1).astype(np.uint8) << 7
        out[offsets[mask] + b] = chunk.astype(np.uint8) | cont
    return out.tobytes()


def varbyte_decode(data: bytes) -> np.ndarray:
    """Decode varbyte bytes back to an int64 array (vectorized)."""
    raw = np.frombuffer(data, dtype=np.uint8)
    if raw.size == 0:
        return np.empty(0, dtype=np.int64)
    if raw.max() < 0x80:
        # fast path: no continuation bits anywhere (every value < 128 —
        # the overwhelmingly common case for tfs and tight doc-id
        # deltas), so each byte IS a value: one cast instead of the
        # ~10-array-op general path.  Dominates serve-path latency,
        # where blocks are small and per-call numpy overhead is the
        # cost (cProfile: varbyte_decode was ~35% of warm query time).
        return raw.astype(np.int64)
    is_start = np.empty(raw.shape, dtype=bool)
    is_start[0] = True
    np.less(raw[:-1] & 0x80, 0x80, out=is_start[1:])
    value_id = np.cumsum(is_start) - 1
    starts = np.flatnonzero(is_start)
    pos = np.arange(raw.size, dtype=np.int64) - starts[value_id]
    contrib = (raw & np.uint8(0x7F)).astype(np.uint64) << (
        np.uint64(7) * pos.astype(np.uint64)
    )
    # 7-bit groups are disjoint, so OR == ADD and the segment sum can
    # use reduceat (an order of magnitude faster than bitwise_or.at)
    return np.add.reduceat(contrib, starts).astype(np.int64)


def varbyte_encode_segmented(
    values: np.ndarray, seg_starts: np.ndarray
) -> list[bytes]:
    """Encode one flat value array into per-segment varbyte byte strings
    in a single vectorized pass (segments = posting blocks).

    Equivalent to ``[varbyte_encode(values[s:e]) for s, e in pairs]`` but
    the per-value work is whole-array numpy; Python only slices bytes.
    """
    arr = np.ascontiguousarray(values, dtype=np.uint64)
    n = arr.size
    if n == 0:
        return []
    lengths = np.ones(arr.shape, dtype=np.int64)
    rest = arr >> np.uint64(7)
    while rest.any():
        lengths += (rest > 0).astype(np.int64)
        rest >>= np.uint64(7)
    offsets = np.concatenate(([0], np.cumsum(lengths)))
    out = np.zeros(int(offsets[-1]), dtype=np.uint8)
    for b in range(_MAX_VARBYTE_LEN):
        mask = lengths > b
        if not mask.any():
            break
        chunk = (arr[mask] >> np.uint64(7 * b)) & np.uint64(0x7F)
        cont = (lengths[mask] > b + 1).astype(np.uint8) << 7
        out[offsets[:-1][mask] + b] = chunk.astype(np.uint8) | cont
    raw = out.tobytes()
    seg_byte_bounds = offsets[
        np.concatenate((seg_starts, [n])).astype(np.int64)
    ]
    return [
        raw[seg_byte_bounds[i] : seg_byte_bounds[i + 1]]
        for i in range(len(seg_starts))
    ]


def delta_encode(sorted_values: np.ndarray) -> np.ndarray:
    """First value absolute, then successive differences.  Input must be
    sorted ascending (posting doc ids are)."""
    arr = np.ascontiguousarray(sorted_values, dtype=np.int64)
    if arr.size == 0:
        return arr
    out = np.empty_like(arr)
    out[0] = arr[0]
    np.subtract(arr[1:], arr[:-1], out=out[1:])
    return out


def delta_decode(deltas: np.ndarray) -> np.ndarray:
    arr = np.ascontiguousarray(deltas, dtype=np.int64)
    return np.cumsum(arr, dtype=np.int64)


def encode_postings_block(doc_ids: np.ndarray, tfs: np.ndarray, dls: np.ndarray):
    """One posting block: delta+varbyte doc ids, varbyte tfs and doc
    lengths.  Returns (doc_ids_bytes, tfs_bytes, dls_bytes)."""
    return (
        varbyte_encode(delta_encode(doc_ids)),
        varbyte_encode(tfs),
        varbyte_encode(dls),
    )


def decode_postings_block(doc_ids_bytes: bytes, tfs_bytes: bytes, dls_bytes: bytes):
    """Inverse of encode_postings_block -> (doc_ids, tfs, dls)."""
    return (
        delta_decode(varbyte_decode(doc_ids_bytes)),
        varbyte_decode(tfs_bytes),
        varbyte_decode(dls_bytes),
    )


def decode_blocks_batch(t: dict, sel: list[int]) -> tuple:
    """Decode the selected blocks of ONE term in a single varbyte pass
    per stream (varbyte is self-delimiting, so concatenated buffers
    decode to concatenated values), instead of 3 decode calls + a
    cumsum PER BLOCK.  Per-block delta->absolute doc ids fall out of
    the global cumsum minus each block's prefix offset (the first delta
    of a block is its absolute min doc id, i.e. a delta from 0).

    This is the serve-latency hot path: a head-term query decodes
    hundreds of blocks, and per-block numpy fixed overhead (~6 array
    calls x n_blocks) dominated p50 at a 100k-doc index."""
    counts = t["n"][sel]
    deltas = varbyte_decode(b"".join(t["doc_ids"][i] for i in sel))
    tfs = varbyte_decode(b"".join(t["tfs"][i] for i in sel))
    dls = varbyte_decode(b"".join(t["dls"][i] for i in sel))
    cum = np.cumsum(deltas, dtype=np.int64)
    starts = np.concatenate(([0], np.cumsum(counts)[:-1]))
    offsets = np.where(starts > 0, cum[np.maximum(starts - 1, 0)], 0)
    d = cum - np.repeat(offsets, counts)
    return d, tfs, dls
