"""Similarity search over an embedding column (array<float>).

- brute-force cosine top-k: two flavors — pure JVM expressions
  (zip_with/aggregate fold, the correctness baseline) and an
  Arrow-batched numpy matmul (the throughput path; one BLAS GEMM per
  batch, the moral equivalent of the reference's sgemm rerank,
  /root/reference/src/query_disk_index.rs:486-511).
- IVF-style bucketed ANN: deterministic hash-free centroid selection,
  assign-to-nearest as a pandas UDF, probe top-p lists only — the
  scale path (reference analogue: centroid shard routing,
  src/dump_processor.rs:438-455 + query_disk_index.rs:447-450).
"""

from __future__ import annotations

import numpy as np
import pandas as pd

from ..common.topk import partial_topk_indices
from ..common.vecmath import l2_normalize

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession, Window


def _dot(a: str, b: str):
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x * y),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )


def cosine_topk_exact(
    embeddings: DataFrame, queries: DataFrame, k: int = 10
) -> DataFrame:
    """Brute-force cosine top-k, JVM expressions only.

    queries(query_id, qvec: array<float>) is broadcast; score every
    (query, vector) pair; rank with a per-query window.  Deterministic:
    ties break on vec_id."""
    scored = embeddings.crossJoin(F.broadcast(queries)).withColumn(
        "cosine",
        _dot("embedding", "qvec")
        / F.greatest(
            F.sqrt(_dot("embedding", "embedding"))
            * F.sqrt(_dot("qvec", "qvec")),
            F.lit(1e-30),  # all-zero vector -> cosine 0, not NaN
        ),
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("cosine"), F.asc("vec_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "rank", "vec_id", "cosine")
    )


def cosine_topk_gemm(
    embeddings: DataFrame, queries_pd: pd.DataFrame, k: int = 10
) -> DataFrame:
    """Throughput path: queries as a broadcast numpy matrix, one GEMM
    per Arrow batch, per-partition top-k then global top-k merge.

    Scale shape: no shuffle until the final tiny top-k union — each
    partition emits at most k rows per query."""
    qids = queries_pd["query_id"].to_numpy(np.int64)
    qm = np.stack(queries_pd["qvec"].to_numpy())  # (Q, D)
    qm = l2_normalize(qm)

    def kernel(batches):
        for pdf in batches:
            if not len(pdf):
                continue
            vm = np.stack(pdf["embedding"].to_numpy()).astype(np.float64)
            vm = l2_normalize(vm)
            sims = vm @ qm.T  # (B, Q)
            vec_ids = pdf["vec_id"].to_numpy(np.int64)
            kk = min(k, sims.shape[0])
            # per-batch partial top-k per query (tie-exact at the
            # boundary — see partial_topk_indices)
            idx = partial_topk_indices(sims, vec_ids, kk)
            out = {
                "query_id": np.repeat(qids, kk),
                "vec_id": vec_ids[idx].T.ravel(),
                "cosine": np.take_along_axis(sims, idx, axis=0).T.ravel(),
            }
            yield pd.DataFrame(out)

    partial = embeddings.mapInPandas(
        kernel, "query_id long, vec_id long, cosine double"
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("cosine"), F.asc("vec_id"))
    return (
        partial.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "rank", "vec_id", "cosine")
    )


# ------------------------------------------------------------------ fp16

def pack_embeddings_fp16(
    embeddings: DataFrame, col: str = "embedding"
) -> DataFrame:
    """array<float> column -> packed fp16 binary (`<col>_fp16`) — the
    reference's half-precision vector storage (common.rs:98-108); 2x
    the footprint cut for the dominant column of an embedding table.
    Arrow-batched numpy cast, one matrix op per batch."""
    import pyarrow  # noqa: F401  (documents the Arrow path)

    from ..common.codecs import fp16_encode

    @F.pandas_udf("binary")
    def pack(s: pd.Series) -> pd.Series:
        if not len(s):
            return pd.Series([], dtype=object)
        arrs = s.to_numpy()
        dims = np.fromiter((len(v) for v in arrs), dtype=np.int64, count=len(arrs))
        if (dims == dims[0]).all():
            # one stack + one astype + one tobytes per BATCH; Python
            # then only slices the flat buffer (memcpy, no per-row cast)
            buf = np.stack(arrs).astype("<f2").tobytes()
            w = int(dims[0]) * 2
            return pd.Series(
                [buf[i * w : (i + 1) * w] for i in range(len(arrs))],
                dtype=object,
            )
        return pd.Series([fp16_encode(v) for v in arrs], dtype=object)

    return embeddings.withColumn(f"{col}_fp16", pack(F.col(col))).drop(col)


def unpack_embeddings_fp16(
    df: DataFrame, col: str = "embedding_fp16", out: str = "embedding"
) -> DataFrame:
    """Inverse of pack_embeddings_fp16 -> array<float> column."""
    from ..common.codecs import fp16_decode

    @F.pandas_udf("array<float>")
    def unpack(s: pd.Series) -> pd.Series:
        if not len(s):
            return pd.Series([], dtype=object)
        bufs = s.to_numpy()
        widths = np.fromiter(
            (len(b) for b in bufs), dtype=np.int64, count=len(bufs)
        )
        if (widths == widths[0]).all():
            m = np.frombuffer(b"".join(bufs), dtype="<f2").astype(np.float32)
            m = m.reshape(len(bufs), widths[0] // 2)
            return pd.Series(list(m), dtype=object)
        return pd.Series([fp16_decode(b) for b in bufs], dtype=object)

    return df.withColumn(out, unpack(F.col(col))).drop(col)


# ------------------------------------------------------------------- int8

def train_int8_scales(
    embeddings: DataFrame,
    sample_size: int = 50_000,
    col: str = "embedding",
    cutoff: float = 5e-4,
) -> tuple[np.ndarray, np.ndarray]:
    """Per-dimension quantile-clipped [smin, smax] bounds for uint8
    scalar quantization — the reference's scheme verbatim in spirit
    (diskann/scalar_quantize.py:14-17: per-component quantiles at
    1e-3/2 tails).  Trained on the deterministic hash sample of the
    NORMALIZED vectors (quantization always sees unit vectors)."""
    from .pq import _collect_sample

    x = _collect_sample(embeddings, sample_size, col)
    smin = np.quantile(x, cutoff, axis=0)
    smax = np.quantile(x, 1.0 - cutoff, axis=0)
    rng = np.maximum(smax - smin, 1e-12)
    return smin, smin + rng


def pack_embeddings_int8(
    embeddings: DataFrame,
    smin: np.ndarray,
    smax: np.ndarray,
    col: str = "embedding",
) -> DataFrame:
    """array<float> -> per-dim uint8 codes (`<col>_int8`): 4x the
    footprint cut of fp32, 2x of fp16, with clipped-quantile scales.
    One vectorized quantize per Arrow batch."""
    lo = np.asarray(smin, dtype=np.float64)
    scale = 255.0 / (np.asarray(smax, dtype=np.float64) - lo)

    @F.pandas_udf("binary")
    def pack(s: pd.Series) -> pd.Series:
        if not len(s):
            return pd.Series([], dtype=object)
        vm = l2_normalize(np.stack(s.to_numpy()).astype(np.float64))
        q = np.clip(np.round((vm - lo) * scale), 0, 255).astype(np.uint8)
        buf = q.tobytes()
        w = q.shape[1]
        return pd.Series(
            [buf[i * w : (i + 1) * w] for i in range(len(s))], dtype=object
        )

    return embeddings.withColumn(f"{col}_int8", pack(F.col(col))).drop(col)


def unpack_embeddings_int8(
    df: DataFrame,
    smin: np.ndarray,
    smax: np.ndarray,
    col: str = "embedding_int8",
    out: str = "embedding",
) -> DataFrame:
    """Inverse of pack_embeddings_int8 -> array<float> (approximate:
    dequantized to the 256-step grid of the stored scales)."""
    lo = np.asarray(smin, dtype=np.float64)
    step = (np.asarray(smax, dtype=np.float64) - lo) / 255.0

    @F.pandas_udf("array<float>")
    def unpack(s: pd.Series) -> pd.Series:
        if not len(s):
            return pd.Series([], dtype=object)
        d = len(lo)
        q = np.frombuffer(b"".join(s.to_numpy()), dtype=np.uint8)
        q = q.reshape(len(s), d).astype(np.float64)
        m = (lo + q * step).astype(np.float32)
        return pd.Series(list(m), dtype=object)

    return df.withColumn(out, unpack(F.col(col))).drop(col)


# ------------------------------------------------------------------- IVF

def ivf_assign(
    embeddings: DataFrame, centroids: np.ndarray, spill: int = 1
) -> DataFrame:
    """Assign each vector to its top-`spill` nearest centroids (cosine).
    Mirrors the reference's SHARD_SPILL=2 multi-assignment
    (dump_processor.rs:134,452-455)."""
    cm = l2_normalize(centroids)

    def kernel(batches):
        for pdf in batches:
            if not len(pdf):
                continue
            vm = np.stack(pdf["embedding"].to_numpy()).astype(np.float64)
            vm = l2_normalize(vm)
            sims = vm @ cm.T
            # stable: ties break toward the lower list_id, matching the
            # SQL oracle's row_number(ORDER BY cos DESC, list_id)
            top = np.argsort(-sims, axis=1, kind="stable")[:, :spill]
            n = len(pdf)
            yield pd.DataFrame(
                {
                    "vec_id": np.repeat(pdf["vec_id"].to_numpy(np.int64), spill),
                    "embedding": pdf["embedding"].iloc[
                        np.repeat(np.arange(n), spill)
                    ].to_numpy(),
                    "list_id": top.ravel().astype(np.int32),
                }
            )

    return embeddings.mapInPandas(
        kernel, "vec_id long, embedding array<float>, list_id int"
    )


def deterministic_centroids(
    embeddings: DataFrame, n_lists: int
) -> np.ndarray:
    """Hash-free deterministic 'training': the n_lists vectors with the
    smallest vec_id (good enough as a seedless stand-in for k-means;
    the reference trains real balanced k-means, kmeans.py — pluggable)."""
    rows = (
        embeddings.orderBy("vec_id").limit(n_lists).select("embedding").collect()
    )
    return np.array([r["embedding"] for r in rows], dtype=np.float64)


def ivf_topk(
    spark: SparkSession,
    embeddings: DataFrame,
    queries_pd: pd.DataFrame,
    k: int = 10,
    n_lists: int = 8,
    n_probe: int = 3,
    spill: int = 1,
    centroids: np.ndarray | None = None,
) -> DataFrame:
    """IVF ANN: build lists once, probe only the n_probe nearest lists
    per query.  Returns (query_id, rank, vec_id, cosine).  Approximate;
    recall vs brute force is property-tested.

    centroids: pass a trained matrix (ops.kmeans.train_balanced_kmeans
    — the production path: balanced lists keep probe cost uniform);
    default falls back to the deterministic first-N stand-in, which the
    SQL correctness oracle can replay."""
    cents = (
        centroids
        if centroids is not None
        else deterministic_centroids(embeddings, n_lists)
    )
    assigned = ivf_assign(embeddings, cents, spill)

    qm = np.stack(queries_pd["qvec"].to_numpy()).astype(np.float64)
    qm_n = l2_normalize(qm)
    cm = l2_normalize(cents)
    probe = np.argsort(-(qm_n @ cm.T), axis=1, kind="stable")[:, :n_probe]
    probe_rows = [
        (int(queries_pd["query_id"].iloc[i]), [float(x) for x in qm[i]], int(l))
        for i in range(len(queries_pd))
        for l in probe[i]
    ]
    probe_df = spark.createDataFrame(
        probe_rows, "query_id long, qvec array<float>, list_id int"
    )
    cand = assigned.join(F.broadcast(probe_df), "list_id")
    scored = cand.withColumn(
        "cosine",
        _dot("embedding", "qvec")
        / F.greatest(
            F.sqrt(_dot("embedding", "embedding"))
            * F.sqrt(_dot("qvec", "qvec")),
            F.lit(1e-30),  # all-zero vector -> cosine 0, not NaN
        ),
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("cosine"), F.asc("vec_id"))
    return (
        scored.groupBy("query_id", "vec_id")
        .agg(F.max("cosine").alias("cosine"))
        .withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "rank", "vec_id", "cosine")
    )
