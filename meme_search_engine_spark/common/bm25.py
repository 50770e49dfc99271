"""BM25 scoring math — one source of truth for the Spark engine, the
WAND pruner, the pytest oracle, and (as SQL text) the DuckDB oracle.

Formula (Lucene-flavored, idf always positive):

    idf(t)        = ln( (N - df + 0.5) / (df + 0.5) + 1 )
    tf_norm(t, d) = tf / (tf + k1 * (1 - b + b * dl / avgdl))
    score(q, d)   = sum_t idf(t) * (k1 + 1) * tf_norm(t, d)

Rank determinism: floating-point summation order varies with Spark
partitioning, so per-term contributions are converted to fixed-point
int64 (score * 2^32, half-up) and summed as integers — exact, associative,
partitioning-independent.  Adopted from the reference's fixed-point i64
score trick (/root/reference/diskann/src/vector.rs:45-47,408-416 and
src/query_disk_index.rs:539).
"""

from __future__ import annotations

import math

import numpy as np

K1 = 1.2
B = 0.75
FIXED_POINT_SCALE = 2**32


def bm25_idf(df: int, n_docs: int) -> float:
    return math.log((n_docs - df + 0.5) / (df + 0.5) + 1.0)


def bm25_tf_norm(tf: float, dl: float, avgdl: float, k1: float = K1, b: float = B) -> float:
    return tf / (tf + k1 * (1.0 - b + b * dl / avgdl))


def bm25_score(
    tf: float, df: int, dl: float, n_docs: int, avgdl: float,
    k1: float = K1, b: float = B,
) -> float:
    """Single-term contribution to a document's score."""
    return bm25_idf(df, n_docs) * (k1 + 1.0) * bm25_tf_norm(tf, dl, avgdl, k1, b)


def to_fixed(score: float) -> int:
    """Fixed-point int64 (half-up, matches SQL floor(x*2^32 + 0.5))."""
    return math.floor(score * FIXED_POINT_SCALE + 0.5)


def contribs_float(
    idf: float, tfs: np.ndarray, dls: np.ndarray, k1: float, b: float, avgdl: float
) -> np.ndarray:
    """Unrounded per-posting BM25 contribution — the association order
    here IS the cross-engine contract (see CLAUDE.md); every fixed-
    point path rounds THIS value, possibly after a weight multiply."""
    tfs_f = tfs.astype(np.float64)
    dls_f = dls.astype(np.float64)
    tf_norm = tfs_f / (tfs_f + k1 * ((1.0 - b) + (b * dls_f) / avgdl))
    return idf * (k1 + 1.0) * tf_norm


def contribs_fixed(
    idf: float, tfs: np.ndarray, dls: np.ndarray, k1: float, b: float, avgdl: float
) -> np.ndarray:
    contrib = contribs_float(idf, tfs, dls, k1, b, avgdl)
    return np.floor(contrib * float(FIXED_POINT_SCALE) + 0.5).astype(np.int64)


# SQL fragments kept next to the math they mirror, so a formula change
# can't silently diverge from the oracle_sql() side of the gate.
SQL_IDF = "ln(({N} - df + 0.5) / (df + 0.5) + 1.0)"
SQL_TF_NORM = "(tf / (tf + {k1} * (1.0 - {b} + {b} * dl / {avgdl})))"
