"""Numpy kernels shared by the Arrow-vectorized scorers (the
``pandas_udf`` and ``mapInPandas`` bodies in ``similarity`` and ``pq``,
and the driver-side IVF probe), and ``forget_zip_finders``, which every
engine Python body calls first.

Each scorer is pinned bit-identical to the interpreted Spark fold it
replaces, so every kernel here reproduces that fold's IEEE-754
operation sequence:

- accumulators run LEFT TO RIGHT over dimensions, vectorized across
  rows (``acc = acc + X[:, j] * w[j]``) — never ``X @ w``, ``np.dot`` or
  ``np.sum``, whose blocked or pairwise summation changes the rounding;
- ``round_spark`` replicates Spark's ``Round``.

The scorers cannot tell a NULL element from NaN: the Arrow-to-numpy
conversion turns a NULL element into NaN, so a vector with one takes
the NaN path (NaN dot, norm and similarity) where the fold would
propagate NULL.
"""

from __future__ import annotations

import sys
import zipimport
from decimal import ROUND_HALF_UP, Decimal

import numpy as np


def forget_zip_finders() -> None:
    """Drop the ``zipimporter`` finders from ``sys.path_importer_cache``.

    A Python worker calls ``importlib.invalidate_caches()`` at the start
    of every task (``pyspark.worker_util.setup_spark_files``), and on
    CPython 3.10+ that makes each cached ``zipimporter`` re-read its
    whole archive directory. A reused worker holds 16 of them
    (pyspark.zip 12 times, the spark-core jar and py4j twice each, on
    PySpark 4.1 and CPython 3.11): on a 4-vCPU host an identity
    ``pandas_udf`` job over 500 embeddings took 240 ms with them and
    90 ms without. Without the finders the next task's invalidation has
    nothing to re-read; a later import through one of those paths
    rebuilds its finder from zipimport's own directory cache, without
    touching the archive.

    Every engine ``pandas_udf``/``udf``/``mapInPandas``/
    ``applyInPandasWithState`` body calls this as its first statement,
    by name (``tests/test_zip_finders.py`` guards that)."""
    cache = sys.path_importer_cache
    for path in [
        p for p, f in cache.items() if isinstance(f, zipimport.zipimporter)
    ]:
        del cache[path]


def round_spark(a: np.ndarray, digits: int) -> np.ndarray:
    """Spark's ``round(x, digits)`` elementwise: BigDecimal HALF_UP on
    the shortest-repr decimal. Fast path ``floor(x*10^d + 0.5)``; values
    within 1e-5 of a .5 boundary (where the scaled double can disagree
    with the decimal digits) are re-rounded exactly via
    ``Decimal(repr(x))`` — Python's ``repr`` and Java's
    ``Double.toString`` both emit the unique shortest round-trip
    decimal, so that path IS Spark's rounding. Non-finite values pass
    through."""
    q = Decimal(1).scaleb(-digits)
    sc = 10.0**digits
    scaled = a * sc
    fl = np.floor(scaled)
    out = np.where(np.isfinite(a), (fl + (scaled - fl >= 0.5)) / sc, a)
    risky = np.isfinite(a) & (np.abs(scaled - fl - 0.5) < 1e-5)
    if risky.any():
        flat, src = out.ravel(), a.ravel()
        for i in np.flatnonzero(risky.ravel()):
            flat[i] = float(
                Decimal(repr(float(src[i]))).quantize(q, rounding=ROUND_HALF_UP)
            )
    return out


def dot_lr(X: np.ndarray, w: np.ndarray) -> np.ndarray:
    """Dot product of each row of ``X`` with ``w`` (one vector, or a
    matrix shaped like ``X`` for row-by-row pairs), accumulated left to
    right — the ``similarity.dot`` fold's sequence."""
    acc = np.zeros(X.shape[0])
    for j in range(X.shape[1]):
        acc = acc + X[:, j] * w[..., j]
    return acc


def sumsq_lr(X: np.ndarray) -> np.ndarray:
    """Sum of squares of each row of ``X``, left to right — the
    ``l2_norm``/``l2sq`` folds before their ``sqrt``."""
    return dot_lr(X, X)


def valid_rows(vals: list, dim: int) -> list[int]:
    """Positions of the non-NULL vectors of length ``dim``: the rows a
    scorer computes. Every other row keeps its NULL (or default)
    result."""
    return [i for i, v in enumerate(vals) if v is not None and len(v) == dim]


def stack(vals: list, rows: list[int], dim: int) -> np.ndarray:
    """The vectors at ``rows`` as a float64 ``(len(rows), dim)`` matrix."""
    return np.asarray(
        [np.asarray(vals[i], dtype=np.float64) for i in rows]
    ).reshape(len(rows), dim)


def centroid_cosines(
    X: np.ndarray, C: np.ndarray, cn: np.ndarray
) -> tuple[np.ndarray, np.ndarray]:
    """Round-9 cosine of every row of ``X`` against every centroid row of
    ``C`` (``cn`` holds the centroid norms), shaped ``(len(C), len(X))``,
    and the row norms of ``X``: the ``cosine_sim_given_norms`` fold's
    sequence (left-to-right dot and norms, ``max(vn*cn, 1e-12)``
    denominator, Spark's round-9)."""
    vn = np.sqrt(sumsq_lr(X))
    sims = [
        dot_lr(X, C[c]) / np.maximum(vn * cn[c], 1e-12)
        for c in range(C.shape[0])
    ]
    S = np.stack(sims) if sims else np.empty((0, X.shape[0]))
    return round_spark(S, 9), vn


def assign_nearest(
    X: np.ndarray, C: np.ndarray, cn: np.ndarray
) -> tuple[np.ndarray, np.ndarray, np.ndarray]:
    """Position in ``C`` of each row's max-cosine centroid, with the
    rounded cosines and row norms of ``centroid_cosines``. ``C`` is in
    centroid-id order; ties go to the LAST (largest-id) centroid and a
    NaN similarity counts as +inf, as in the ``nearest_centroid`` fold,
    where Spark orders NaN above every value and ``NaN >= NaN`` holds."""
    Sr, vn = centroid_cosines(X, C, cn)
    S2 = np.where(np.isnan(Sr), np.inf, Sr)
    best = (S2.shape[0] - 1) - np.argmax(S2[::-1], axis=0)
    return best, Sr, vn


def pq_codes(X: np.ndarray, codebooks: list[np.ndarray]) -> np.ndarray:
    """The ``(len(X), M)`` int32 PQ codes of the rows of ``X``: per
    subspace, the first codeword with the least round-9 squared L2
    distance (``sumsq_lr`` of the difference, the ``l2sq`` fold's
    sequence). A NaN distance never wins; a row whose distances are all
    NaN takes code 0, the fold's initial code."""
    sub_dim = codebooks[0].shape[1]
    codes = np.empty((X.shape[0], len(codebooks)), dtype=np.int32)
    for m, cb_m in enumerate(codebooks):
        Xm = X[:, m * sub_dim : (m + 1) * sub_dim]
        D = round_spark(np.stack([sumsq_lr(Xm - cw) for cw in cb_m]), 9)
        D[np.isnan(D)] = np.inf
        codes[:, m] = np.argmin(D, axis=0)
    return codes


def adc_sum(
    tables: np.ndarray, which: np.ndarray, codes: np.ndarray
) -> np.ndarray:
    """Round-9 asymmetric distance of each code row against its ADC
    table ``tables[which[i]]`` (``tables`` is ``(T, M, k)``): the M
    looked-up entries summed left to right from 0.0, the ADC fold's
    sequence."""
    acc = np.zeros(codes.shape[0])
    for m in range(codes.shape[1]):
        acc = acc + tables[which, m, codes[:, m]]
    return round_spark(acc, 9)
