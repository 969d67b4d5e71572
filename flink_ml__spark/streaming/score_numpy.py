"""Numpy replica of the per-window scoring math, used by the
Structured-Streaming stateful wrappers (Arrow-batched pandas path).

It mirrors, and is tested against, the batch operator's Catalyst
expressions: ``OnlineAHP`` (``/root/reference/.../OnlineAHP.java:94-172``,
note ``k = 1/ln(#cols)``).
"""

from __future__ import annotations

import math

import numpy as np


def score_window_ahp(x: np.ndarray, indicator_types: list[int],
                     ahp_w: list[float]) -> np.ndarray:
    """Window-local entropy-weight AHP scores for an (n, m) matrix."""
    x = np.asarray(x, dtype=float)
    mx, mn = x.max(axis=0), x.min(axis=0)
    t = np.asarray(indicator_types)
    with np.errstate(divide="ignore", invalid="ignore"):
        norm = np.where(t == 1, (x - mn) / (mx - mn), (mx - x) / (mx - mn))
        s = norm.sum(axis=0)
        p = norm / s
        plogp = np.where(p == 0, 0.0, p * np.log(np.where(p == 0, 1.0, p)))
    e = plogp.sum(axis=0)
    k = 1.0 / math.log(x.shape[1])
    d = 1 + k * e
    w = d / d.sum()
    return norm @ (w * np.asarray(ahp_w))

