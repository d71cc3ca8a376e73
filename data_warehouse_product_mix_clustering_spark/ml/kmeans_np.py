"""Driver-side NumPy k-means for small feature matrices.

The reference clusters with sklearn ``KMeans(n_init=10)`` (k-means++ init,
Lloyd iterations, keep the lowest-inertia restart) on an in-memory pandas
matrix (reference src/pipelines/clustering.py:125-133). The clustered
matrices are dimension-sized, so ml/pipelines.py collects them and fits
here: the reference's algorithm in vectorized NumPy, with no
per-iteration Spark jobs (whose cost at these sizes is scheduler
latency, not compute). Inputs above ``DRIVER_ROWS_CAP`` rows are refused.

Everything here is deterministic: seeded ``RandomState`` per restart,
exact inertia comparison with earliest-index tie-break.
"""

from __future__ import annotations

import numpy as np

# ml/pipelines.py refuses (ValueError) a matrix above this row count; no
# other clustering path exists. 1M rows x 8 float64 features is ~64 MB on
# the driver; the largest clustered matrix on the test data is 20,000 rows.
DRIVER_ROWS_CAP = 1_000_000
# Lloyd stopping rule, sklearn's defaults: at most MAX_ITER iterations per
# restart, stop once the centers move by at most TOL (scaled as below).
MAX_ITER = 300
TOL = 1e-4


def _pairwise_sq_dists(X: np.ndarray, centers: np.ndarray, x_sq: np.ndarray) -> np.ndarray:
    """||x - c||^2 via the expanded form; one BLAS GEMM per call."""
    d2 = x_sq[:, None] + (centers**2).sum(1)[None, :] - 2.0 * (X @ centers.T)
    np.maximum(d2, 0.0, out=d2)  # FP cancellation can dip slightly negative
    return d2


def _kmeanspp_init(
    X: np.ndarray, k: int, rng: np.random.RandomState, x_sq: np.ndarray
) -> np.ndarray:
    """k-means++ seeding: each next center sampled ∝ D²(x)."""
    n = X.shape[0]
    centers = np.empty((k, X.shape[1]), dtype=np.float64)
    centers[0] = X[int(rng.randint(n))]
    closest = _pairwise_sq_dists(X, centers[:1], x_sq)[:, 0]
    for c in range(1, k):
        total = closest.sum()
        if total > 0:
            probs = closest / total
            idx = int(rng.choice(n, p=probs))
        else:  # all points coincide with existing centers
            idx = int(rng.randint(n))
        centers[c] = X[idx]
        d = _pairwise_sq_dists(X, centers[c : c + 1], x_sq)[:, 0]
        np.minimum(closest, d, out=closest)
    return centers


def _lloyd(
    X: np.ndarray,
    centers: np.ndarray,
    x_sq: np.ndarray,
    tol_abs: float,
) -> tuple[np.ndarray, np.ndarray, float]:
    """Lloyd iterations with sklearn-style empty-cluster repair
    (an emptied cluster is re-seeded on the point farthest from its
    current assignment, farthest-first, so k non-empty clusters survive).
    """
    k = centers.shape[0]
    n = X.shape[0]
    labels = np.zeros(n, dtype=np.int64)
    for _ in range(MAX_ITER):
        d2 = _pairwise_sq_dists(X, centers, x_sq)
        labels = d2.argmin(1)
        counts = np.bincount(labels, minlength=k)
        empties = np.flatnonzero(counts == 0)
        if empties.size:
            # Steal only from clusters with >1 member: taking a SOLE
            # member just moves the hole, and the unchecked division
            # below then yields NaN centers that poison every later
            # iteration AND the best-restart comparison (review r9).
            assigned_d2 = d2[np.arange(n), labels]
            far_order = iter(np.argsort(-assigned_d2, kind="stable"))
            for cid in empties:
                for idx in far_order:
                    if counts[labels[idx]] > 1:
                        counts[labels[idx]] -= 1
                        labels[idx] = cid
                        counts[cid] = 1
                        break
            counts = np.bincount(labels, minlength=k)
        # Per-feature bincount beats np.add.at ~10× here: add.at is a
        # generic scatter-add (one Python-level ufunc dispatch per element
        # group), while bincount with float weights is a single C pass —
        # and this line dominates the Lloyd loop at dimension-table sizes.
        new_centers = np.empty_like(centers)
        for j in range(X.shape[1]):
            new_centers[:, j] = np.bincount(labels, weights=X[:, j], minlength=k)
        # n < k leaves genuinely unfillable clusters: keep their previous
        # center instead of dividing by zero
        nonzero = counts > 0
        new_centers[nonzero] /= counts[nonzero, None]
        new_centers[~nonzero] = centers[~nonzero]
        shift = float(((new_centers - centers) ** 2).sum())
        centers = new_centers
        if shift <= tol_abs:
            break
    d2 = _pairwise_sq_dists(X, centers, x_sq)
    labels = d2.argmin(1)
    inertia = float(d2[np.arange(n), labels].sum())
    return labels, centers, inertia


def kmeans_fit(
    X: np.ndarray, k: int, seed: int, n_init: int = 10
) -> tuple[np.ndarray, np.ndarray]:
    """sklearn-shaped k-means returning (labels, centers).

    n_init k-means++ restarts, keep lowest inertia. Deterministic:
    restart i uses RandomState(seed + i); the winner is the exact-lowest
    inertia with earliest restart index breaking ties.
    """
    X = np.ascontiguousarray(X, dtype=np.float64)
    x_sq = (X**2).sum(1)
    # sklearn scales tol by the mean per-feature variance of the data.
    tol_abs = TOL * float(X.var(axis=0).mean())
    best: tuple[float, int, np.ndarray, np.ndarray] | None = None
    for i in range(n_init):
        rng = np.random.RandomState(seed + i)
        centers = _kmeanspp_init(X, k, rng, x_sq)
        labels, fitted, inertia = _lloyd(X, centers, x_sq, tol_abs)
        if best is None or (inertia, i) < (best[0], best[1]):
            best = (inertia, i, labels, fitted)
    assert best is not None
    return best[2], best[3]
