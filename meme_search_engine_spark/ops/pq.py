"""Product quantization (PQ) for embedding columns — the reference's
compressed-vector storage for ANN shards.

Reference analogue: /root/reference/diskann/aopq_train.py trains
64-subspace x 256-centroid codebooks (8 bits/code) optimized for inner
product, and the DiskANN shards score PQ codes with a per-query lookup
table (ADC) before full-precision rerank.  Spark-first re-expression:

- `train_pq`: classic per-subspace Lloyd k-means on a deterministic
  driver-side sample (the reference also trains on a sample of the
  corpus, not the full 1e9 vectors — the codebook is m*ksub*dsub
  floats, i.e. tiny, so driver-side training is the right altitude;
  the FULL corpus is only ever touched by the distributed encode).
- `pq_encode`: Arrow-batched mapInPandas — one GEMM per (batch,
  subspace), emits m uint8 codes packed as an m-byte binary column.
  At 1152 dims fp32 -> 64 bytes that is a 72x footprint cut for the
  dominant column of an embedding table.
- `pq_adc_topk`: asymmetric distance computation — each query builds
  an (m, ksub) inner-product lookup table once; scanning a vector is
  m table lookups + a sum, no decode.  Distributed exactly like
  cosine_topk_gemm: per-partition partial top-k, tiny global merge.

Vectors are l2-normalized BEFORE encoding, so the ADC inner product
against a normalized query estimates the true cosine; recall vs the
exact ranking is property-tested (tests/test_pq.py).
"""

from __future__ import annotations

import numpy as np
import pandas as pd

from ..common.vecmath import l2_normalize

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, Window


def _collect_sample(
    embeddings: DataFrame, sample_size: int, col: str
) -> np.ndarray:
    """Deterministic driver-side training sample: the `sample_size`
    vectors with the smallest xxhash64(vec_id) (an unbiased, seedless
    corpus sample — same idiom as the f6 hash-sample gate),
    l2-normalized."""
    sample = (
        embeddings.select("vec_id", col)
        .orderBy(F.xxhash64("vec_id"), F.col("vec_id"))
        .limit(sample_size)
        .collect()
    )
    return l2_normalize(np.array([r[col] for r in sample], dtype=np.float64))


def train_opq_rotation(
    embeddings: DataFrame,
    m: int = 8,
    sample_size: int = 50_000,
    col: str = "embedding",
) -> np.ndarray:
    """Parametric OPQ rotation (d, d): eigen-decompose the sample
    covariance and allocate principal directions to the m subspaces so
    each subspace carries a balanced share of the variance (OPQ-P,
    Ge et al. 2013 — the closed-form counterpart of the reference's
    gradient-trained projection, diskann/aopq_train.py `projection`).
    Encode/query rotate by R first; R is orthogonal, so cosines are
    preserved exactly and only the quantization grid changes."""
    x = _collect_sample(embeddings, sample_size, col)
    d = x.shape[1]
    assert d % m == 0, f"dim {d} not divisible by m={m}"
    dsub = d // m
    cov = (x.T @ x) / max(len(x), 1)
    evals, evecs = np.linalg.eigh(cov)  # ascending
    order = np.argsort(-evals, kind="stable")
    evals, evecs = evals[order], evecs[:, order]
    # greedy balanced allocation: next-largest eigenvalue goes to the
    # non-full subspace with the smallest variance product so far
    logs = np.log(np.maximum(evals, 1e-12))
    bucket_sum = np.zeros(m)
    bucket_fill = np.zeros(m, dtype=np.int64)
    assign: list[list[int]] = [[] for _ in range(m)]
    for i in range(d):
        open_b = np.flatnonzero(bucket_fill < dsub)
        b = open_b[np.argmin(bucket_sum[open_b])]
        assign[b].append(i)
        bucket_sum[b] += logs[i]
        bucket_fill[b] += 1
    perm = [i for bucket in assign for i in bucket]
    return np.ascontiguousarray(evecs[:, perm])


def train_pq(
    embeddings: DataFrame,
    m: int = 8,
    ksub: int = 256,
    n_iters: int = 10,
    sample_size: int = 50_000,
    col: str = "embedding",
    rotation: np.ndarray | None = None,
) -> np.ndarray:
    """Train per-subspace codebooks -> (m, ksub, dim/m) float64.

    Deterministic: the sample is the `sample_size` vectors with the
    smallest xxhash64(vec_id) (an unbiased, seedless corpus sample —
    same idiom as the f6 hash-sample gate), and k-means init is the
    first ksub sample rows per subspace.  Empty clusters keep their
    previous centroid (same convention as ops/kmeans).

    rotation: optional (d, d) OPQ matrix (train_opq_rotation) applied
    to the sample before subspace training — pass the SAME matrix to
    pq_encode/adc_tables."""
    assert ksub <= 256, "codes are uint8: ksub must be <= 256"
    x = _collect_sample(embeddings, sample_size, col)
    if rotation is not None:
        x = x @ rotation
    n, d = x.shape
    assert d % m == 0, f"dim {d} not divisible by m={m}"
    assert n >= ksub, f"sample ({n}) smaller than ksub ({ksub})"
    dsub = d // m
    books = np.empty((m, ksub, dsub), dtype=np.float64)
    for j in range(m):
        sub = x[:, j * dsub : (j + 1) * dsub]
        cents = sub[:ksub].copy()
        for _ in range(n_iters):
            # L2 assignment via the expand: ||v-c||^2 = ||v||^2 - 2vc + ||c||^2
            d2 = (
                -2.0 * (sub @ cents.T)
                + (cents * cents).sum(axis=1)[None, :]
            )
            assign = np.argmin(d2, axis=1)
            sums = np.zeros_like(cents)
            np.add.at(sums, assign, sub)
            counts = np.bincount(assign, minlength=ksub).astype(np.float64)
            nz = counts > 0
            cents[nz] = sums[nz] / counts[nz, None]
        books[j] = cents
    return books


def _encode_matrix(vm: np.ndarray, codebooks: np.ndarray) -> np.ndarray:
    """(B, d) float -> (B, m) uint8 codes (nearest-L2 per subspace)."""
    m, ksub, dsub = codebooks.shape
    codes = np.empty((vm.shape[0], m), dtype=np.uint8)
    for j in range(m):
        sub = vm[:, j * dsub : (j + 1) * dsub]
        cents = codebooks[j]
        d2 = -2.0 * (sub @ cents.T) + (cents * cents).sum(axis=1)[None, :]
        codes[:, j] = np.argmin(d2, axis=1).astype(np.uint8)
    return codes


def pq_encode(
    df: DataFrame,
    codebooks: np.ndarray,
    col: str = "embedding",
    out: str = "pq_code",
    rotation: np.ndarray | None = None,
) -> DataFrame:
    """array<float> column -> m-byte binary PQ codes (vector dropped).

    The input vector is l2-normalized before coding, so codes always
    represent unit vectors and ADC inner products estimate cosine.
    rotation: the OPQ matrix the codebooks were trained with."""
    books = np.ascontiguousarray(codebooks)
    rot = None if rotation is None else np.ascontiguousarray(rotation)

    @F.pandas_udf("binary")
    def enc(s: pd.Series) -> pd.Series:
        if not len(s):
            return pd.Series([], dtype=object)
        vm = l2_normalize(np.stack(s.to_numpy()).astype(np.float64))
        if rot is not None:
            vm = vm @ rot
        codes = _encode_matrix(vm, books)
        buf = codes.tobytes()
        m = books.shape[0]
        return pd.Series(
            [buf[i * m : (i + 1) * m] for i in range(len(s))], dtype=object
        )

    return df.withColumn(out, enc(F.col(col))).drop(col)


def pq_decode(
    df: DataFrame,
    codebooks: np.ndarray,
    col: str = "pq_code",
    out: str = "embedding",
    rotation: np.ndarray | None = None,
) -> DataFrame:
    """Reconstruct the (unit-norm, quantized) vectors from codes,
    rotated back into the original basis when an OPQ matrix is given."""
    books = np.ascontiguousarray(codebooks, dtype=np.float64)
    rot_t = None if rotation is None else np.ascontiguousarray(rotation.T)
    m, _, dsub = books.shape

    @F.pandas_udf("array<float>")
    def dec(s: pd.Series) -> pd.Series:
        if not len(s):
            return pd.Series([], dtype=object)
        codes = np.frombuffer(b"".join(s.to_numpy()), dtype=np.uint8)
        codes = codes.reshape(len(s), m)
        recon = np.empty((len(s), m * dsub), dtype=np.float64)
        for j in range(m):
            recon[:, j * dsub : (j + 1) * dsub] = books[j][codes[:, j]]
        if rot_t is not None:
            recon = recon @ rot_t
        return pd.Series(list(recon.astype(np.float32)), dtype=object)

    return df.withColumn(out, dec(F.col(col))).drop(col)


def adc_tables(
    codebooks: np.ndarray,
    queries: np.ndarray,
    rotation: np.ndarray | None = None,
) -> np.ndarray:
    """(Q, d) queries -> (Q, m, ksub) inner-product lookup tables.
    With an OPQ rotation, <x, q> == <Rx, Rq>, so rotating the query
    into codebook space keeps ADC an exact inner-product estimate."""
    qn = l2_normalize(np.asarray(queries, dtype=np.float64))
    if rotation is not None:
        qn = qn @ rotation
    m, ksub, dsub = codebooks.shape
    luts = np.empty((qn.shape[0], m, ksub), dtype=np.float64)
    for j in range(m):
        luts[:, j, :] = qn[:, j * dsub : (j + 1) * dsub] @ codebooks[j].T
    return luts


def score_codes(
    codes: np.ndarray, luts: np.ndarray, qidx: np.ndarray
) -> np.ndarray:
    """ADC scores for (B, m) codes against luts[(Q, m, ksub)] where
    qidx (B,) maps each row to its query's lut row."""
    m = codes.shape[1]
    return luts[qidx[:, None], np.arange(m)[None, :], codes].sum(axis=1)


def pq_adc_topk(
    codes_df: DataFrame,
    codebooks: np.ndarray,
    queries_pd: pd.DataFrame,
    k: int = 10,
    rotation: np.ndarray | None = None,
    quantize_scale: float | None = None,
) -> DataFrame:
    """Approximate cosine top-k over PQ codes, no decode: per-batch ADC
    lookups then the same partial-top-k/merge shape as
    cosine_topk_gemm.  Returns (query_id, rank, vec_id, cosine) where
    `cosine` is the ADC estimate (quantized).

    quantize_scale: when set, each PER-SUBSPACE lookup-table entry is
    rounded (HALF_UP away from zero) to 1/scale fixed point BEFORE
    summation, so ADC scores are exact integer sums — the ranking is
    then bit-stable across engines (float sums over subspaces have
    unspecified association in SQL engines and can flip near-tied
    ranks: the CLAUDE.md multi-channel invariant, applied per
    subspace).  The oracle-gated path uses scale=1e4."""
    books = np.ascontiguousarray(codebooks)
    qids = queries_pd["query_id"].to_numpy(np.int64)
    luts = adc_tables(books, np.stack(queries_pd["qvec"].to_numpy()), rotation)
    if quantize_scale is not None:
        x = luts * float(quantize_scale)
        luts = np.sign(x) * np.floor(np.abs(x) + 0.5)
    nq, m = len(qids), books.shape[0]

    def kernel(batches):
        for pdf in batches:
            if not len(pdf):
                continue
            codes = np.frombuffer(
                b"".join(pdf["pq_code"].to_numpy()), dtype=np.uint8
            ).reshape(len(pdf), m)
            vec_ids = pdf["vec_id"].to_numpy(np.int64)
            # (B, Q): one LUT gather per subspace, not one pass per query
            scores = np.zeros((len(pdf), nq), dtype=np.float64)
            for j in range(m):
                scores += luts[:, j, codes[:, j]].T
            kk = min(k, scores.shape[0])
            # tie-exact partial top-k: equal PQ codes score EQUAL, so
            # boundary ties are the common case here, and argpartition
            # would keep an arbitrary one (nondeterministic under
            # repartitioning, wrong vs the vec_id tie-break)
            from ..common.topk import partial_topk_indices

            idx = partial_topk_indices(scores, vec_ids, kk)
            top = np.take_along_axis(scores, idx, axis=0).T.ravel()
            if quantize_scale is not None:
                # integer-valued sums -> exact division back to cosine
                # units (monotone, tie-preserving)
                top = top / float(quantize_scale)
            yield pd.DataFrame(
                {
                    "query_id": np.repeat(qids, kk),
                    "vec_id": vec_ids[idx].T.ravel(),
                    "cosine": top,
                }
            )

    partial = codes_df.mapInPandas(
        kernel, "query_id long, vec_id long, cosine double"
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("cosine"), F.asc("vec_id"))
    return (
        partial.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "rank", "vec_id", "cosine")
    )
