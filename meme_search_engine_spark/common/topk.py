"""Tie-exact partial top-k selection shared by the BM25 serving paths
and the offline ANN kernels."""

from __future__ import annotations

import numpy as np


def partial_topk_indices(
    scores: np.ndarray, ids: np.ndarray, kk: int
) -> np.ndarray:
    """Column-wise top-kk row indices of ``scores`` (B, Q) honoring the
    GLOBAL tie-break (score desc, id asc) at the k-boundary: ties at
    the threshold keep the smallest ids, so every partition emits a
    superset of its contribution to the exact global top-k.  A plain
    argpartition keeps an ARBITRARY tied element — wrong the moment
    scores tie exactly (equal BM25 sums are common on short docs).
    O(B) per query via a threshold partition, not a full sort."""
    n, q = scores.shape
    kk = min(kk, n)  # cannot return more rows than exist
    idx = np.empty((kk, q), dtype=np.int64)
    if kk == n:
        idx[:] = np.arange(n)[:, None]
        return idx
    for qi in range(q):
        sc = scores[:, qi]
        thr = np.partition(sc, n - kk)[n - kk]
        above = np.flatnonzero(sc > thr)
        need = kk - len(above)
        tied = np.flatnonzero(sc == thr)
        tied = tied[np.argsort(ids[tied], kind="stable")[:need]]
        idx[:, qi] = np.concatenate([above, tied])
    return idx
