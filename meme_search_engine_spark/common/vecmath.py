"""Shared vector math for the ANN/k-means kernels.

One place for L2 row-normalization so every cosine kernel treats
zero-norm vectors identically: a zero row stays zero (cosine 0 against
everything) instead of becoming NaN and poisoning centroid sums /
argmax results downstream.
"""

from __future__ import annotations

import numpy as np

_EPS = 1e-12


def l2_normalize(m: np.ndarray, axis: int = 1) -> np.ndarray:
    """Row-normalize (axis=1) or flat-normalize a matrix, clamping the
    norm at eps so zero vectors map to zero vectors, never NaN."""
    norm = np.linalg.norm(m, axis=axis, keepdims=True)
    return m / np.maximum(norm, _EPS)

