"""Pure-numpy C-SVC dual solver (SMO) with one-vs-one multiclass.

Clean-room replacement for the LibSVM solver the reference calls via
``LibSVM_modified.buildClassifier`` (cascade_svm/Midcascade.java:121-122;
parameter block at Midcascade.java:62-94: C-SVC, RBF kernel,
γ = 1/max_feature_index, C=1, eps=1e-3, probability off).
Multiclass is one-vs-one — N(N−1)/2 binary machines, matching LibSVM
(PDF slide 6) — with LibSVM's vote + lowest-class tie-break.

Solver: SMO with LibSVM's second-order working-set selection (WSS2 of
Fan, Chen & Lin 2005, "Working Set Selection Using Second Order
Information for Training SVM", JMLR 6 — public literature). The full
kernel matrix is precomputed: per-bucket problems in this engine are
a few thousand rows by design (that is the entire premise of
cascade/bagging/iterative partitioned training), so O(n²) memory is
the right trade against per-iteration kernel recomputation.

This module is driver/executor-agnostic pure numpy — Spark never
imports it directly; ``ml.trainer`` wraps it in applyInPandas.
"""

from __future__ import annotations

import os
import warnings
from concurrent.futures import ThreadPoolExecutor

import numpy as np

TAU = 1e-12


def _n_cpus() -> int:
    """Cores this process may run on (its affinity set where the OS
    exposes one)."""
    try:
        return len(os.sched_getaffinity(0))
    except AttributeError:
        return os.cpu_count() or 1


def rbf_kernel(X1: np.ndarray, X2: np.ndarray, gamma: float) -> np.ndarray:
    """K(a,b) = exp(-γ ||a-b||²), computed blockwise-vectorized."""
    sq1 = np.sum(X1 * X1, axis=1)[:, None]
    sq2 = np.sum(X2 * X2, axis=1)[None, :]
    d2 = np.maximum(sq1 + sq2 - 2.0 * (X1 @ X2.T), 0.0)
    return np.exp(-gamma * d2)


def _rbf_gram(X: np.ndarray, gamma: float, pool: ThreadPoolExecutor,
              rows: int = 64) -> np.ndarray:
    """``rbf_kernel(X, X, gamma)``, bit for bit: the matrix product
    stays one BLAS call, and the elementwise passes — two thirds of the
    Gram's time at 1-3k rows — run in row blocks on ``pool``, each
    element through the same operations in the same order."""
    sq = np.sum(X * X, axis=1)
    K = X @ X.T

    def block(r: slice) -> None:
        # in place but for one temporary: freed blocks stay in the
        # threads' malloc arenas, so every temporary adds resident size
        k = K[r]
        k *= 2.0
        np.subtract(sq[r, None] + sq[None, :], k, out=k)
        np.maximum(k, 0.0, out=k)
        k *= -gamma
        np.exp(k, out=k)

    list(pool.map(block, [slice(i, i + rows)
                          for i in range(0, len(X), rows)]))
    return K


def linear_kernel(X1: np.ndarray, X2: np.ndarray, gamma: float = 0.0) -> np.ndarray:
    return X1 @ X2.T


KERNELS = {"rbf": rbf_kernel, "linear": linear_kernel}


def smo_solve(K: np.ndarray, y: np.ndarray, C: float = 1.0,
              eps: float = 1e-3, max_iter: int | None = None):
    """Solve min ½αᵀQα − eᵀα, 0 ≤ α ≤ C, yᵀα = 0 with Q=yyᵀ∘K.

    Returns (alpha, rho) with LibSVM's sign convention:
    decision(x) = Σ αᵢ yᵢ K(xᵢ,x) − rho.

    max_iter None → clamp(100·n, 10⁴, 250·10³): on degenerate duals
    (rank-deficient kernels over near-random data) SMO zigzags with
    ~0 objective progress per step; an unscaled ceiling turns one such
    sub-problem into minutes of spin for an α no better than the
    capped one. The absolute ceiling only binds for single problems
    past ~2.5k rows, which under the engine's bucket-sizing contract
    occur only in the no-SV-reduction degenerate regime (where more
    iterations don't help either); convergent problems stop on the
    eps gap long before any cap.

    LibSVM's active-set heuristic (on in the reference,
    cascade_svm/Midcascade.java:74) is left out: it pays because
    LibSVM computes kernel rows on demand, and freezing bound
    variables saves row work. This solver precomputes the Gram
    matrix, so there is no row work to save, and the α it reaches is
    eps-KKT either way.

    The loop runs compiled when the host can build it, else as
    ``_smo_solve_general`` (``_smo_native.load`` warns once per process
    when it cannot). In numpy the per-iteration cost is ufunc dispatch,
    not arithmetic: ~12 short vector ops whose fixed overhead dominates
    at bucket sizes. The C loop is a bit-for-bit port of the numpy one
    (same ops, same operand order, IEEE doubles, no FMA contraction —
    ``_smo_native`` docstring), so both return the same (alpha, rho).
    """
    n = len(y)
    if max_iter is None:
        max_iter = max(10_000, min(100 * n, 250_000))
    from parallel_svms_spark.ml import _smo_native
    lib = _smo_native.load()
    if lib is not None:
        return _smo_solve_noshrink_native(lib, K, y, C, eps, max_iter)
    return _smo_solve_general(K, y, C, eps, max_iter)


def _smo_solve_general(K: np.ndarray, y: np.ndarray, C: float,
                       eps: float, max_iter: int):
    """The SMO loop in numpy: the fallback when the compiled loop is
    unavailable, and the reference the tests pin the compiled loop
    against bit for bit. ``_smo_native.C_SOURCE`` ports it one
    floating-point operation at a time, so every op and its operand
    order must stay as they are."""
    n = len(y)
    y = np.asarray(y, dtype=np.float64)
    alpha = np.zeros(n)
    Kd = np.ascontiguousarray(np.diag(K)).astype(np.float64)
    NEG_INF, POS_INF = -np.inf, np.inf
    grad = -np.ones(n)                  # ∇f(α) = Qα − e, α=0 ⇒ −e

    for _ in range(max_iter):
        yg = -y * grad
        # feasible-direction masks as single fused selects
        up = np.where(y > 0, alpha < C, alpha > 0.0)
        low = np.where(y > 0, alpha > 0.0, alpha < C)
        yg_up = np.where(up, yg, NEG_INF)
        li = int(np.argmax(yg_up))
        m = yg_up[li]
        yg_low = np.where(low, yg, POS_INF)
        M = yg_low.min()
        stalled = (m == NEG_INF) or (M == POS_INF) or (m - M < eps)
        lj = -1
        if not stalled:
            # second-order j selection among violators, row-vectorized
            Krow_i = K[li]
            b = m - yg
            a = Kd[li] + Kd - (2.0 * y[li]) * (y * Krow_i)
            np.maximum(a, TAU, out=a)
            obj = np.where(low & (b > TAU), -(b * b) / a, POS_INF)
            lj = int(np.argmin(obj))
            stalled = obj[lj] == POS_INF
        if stalled:
            break

        # two-variable analytic update (keep yᵀα constant, box-clip)
        Krow_j = K[lj]
        quad = max(Kd[li] + Kd[lj]
                   - 2.0 * y[li] * y[lj] * Krow_i[lj], TAU)
        delta = (m - yg[lj]) / quad  # step along (y_i e_i − y_j e_j)
        old_ai, old_aj = alpha[li], alpha[lj]
        ai = old_ai + y[li] * delta
        # clip to the box while preserving the equality constraint
        s = y[li] * old_ai + y[lj] * old_aj
        ai = min(max(ai, 0.0), C)
        aj = y[lj] * (s - y[li] * ai)
        if aj < 0.0:
            aj = 0.0
            ai = y[li] * (s - y[lj] * aj)
        elif aj > C:
            aj = C
            ai = y[li] * (s - y[lj] * aj)
        dai, daj = ai - old_ai, aj - old_aj
        if abs(dai) < TAU and abs(daj) < TAU:
            break
        alpha[li], alpha[lj] = ai, aj
        grad += (y * Krow_i) * (y[li] * dai) + (y * Krow_j) * (y[lj] * daj)

    return alpha, _rho_epilogue(y, alpha, grad, C)


def _rho_epilogue(y: np.ndarray, alpha: np.ndarray, grad: np.ndarray,
                  C: float) -> float:
    """Shared rho computation over the final (alpha, grad) iterate:
    the average of y∇f over free SVs, else the midpoint (LibSVM's
    calculate_rho). One implementation so the reference, numpy and
    native loops cannot drift."""
    yg_f = y * grad
    free = (alpha > TAU) & (alpha < C - TAU)
    if free.any():
        return yg_f[free].mean()
    up_ = ((y > 0) & (alpha < C)) | ((y < 0) & (alpha > 0))
    low_ = ((y < 0) & (alpha < C)) | ((y > 0) & (alpha > 0))
    ub = yg_f[up_].max() if up_.any() else 0.0
    lb = yg_f[low_].min() if low_.any() else 0.0
    return (ub + lb) / 2.0


def _smo_solve_noshrink_native(lib, K: np.ndarray, y: np.ndarray,
                               C: float, eps: float, max_iter: int):
    import ctypes
    n = len(y)
    y = np.ascontiguousarray(np.asarray(y, dtype=np.float64))
    Kc = np.ascontiguousarray(K, dtype=np.float64)
    Kd = np.ascontiguousarray(np.diag(Kc)).astype(np.float64)
    alpha = np.empty(n)
    grad = np.empty(n)
    p = ctypes.POINTER(ctypes.c_double)
    rc = lib.smo_noshrink_loop(
        Kc.ctypes.data_as(p), Kd.ctypes.data_as(p), y.ctypes.data_as(p),
        alpha.ctypes.data_as(p), grad.ctypes.data_as(p),
        n, float(C), float(eps), int(max_iter))
    if rc != 0:  # scratch allocation failed — numpy computes the same
        warnings.warn("native SMO loop could not allocate its scratch "
                      f"buffers (n={n}); solving this dual with the numpy "
                      "loop", RuntimeWarning)
        return _smo_solve_general(K, y, C, eps, max_iter)
    return alpha, _rho_epilogue(y, alpha, grad, C)


class SVCModel:
    """One-vs-one multiclass C-SVC model (LibSVM-equivalent surface).

    Attributes mirror LibSVM's svm_model (cascade_svm/Lastcascade.java:33-104
    writes these fields): classes (ordered), support vectors, per-pair
    dual coefficients and rho, kernel params.
    """

    def __init__(self, classes, X_sv, sv_labels, pair_coefs, rhos,
                 kernel="rbf", gamma=0.0, C=1.0, sv_orig_idx=None):
        self.classes = np.asarray(classes)
        self.X_sv = np.asarray(X_sv)
        self.sv_labels = np.asarray(sv_labels)
        self.pair_coefs = pair_coefs  # {(ci,cj): (idx_into_sv, coef)} with ci<cj
        self.rhos = rhos              # {(ci,cj): rho}
        self.kernel = kernel
        self.gamma = gamma
        self.C = C
        # positions of the SVs in the training arrays (M2: sv_indices,
        # cascade_svm/Midcascade.java:123-128) — caller-relative
        self.sv_orig_idx = (np.asarray(sv_orig_idx)
                            if sv_orig_idx is not None else None)

    @property
    def n_sv(self) -> int:
        return len(self.X_sv)

    def predict(self, X: np.ndarray) -> np.ndarray:
        """OvO vote; ties → lowest class index (LibSVM's argmax-first).

        Every pair's decision comes from one GEMM, ``K_sv @ W - rho``,
        against a dense (n_sv × pairs) coefficient matrix ``W``. Its
        decision values may round differently from a per-pair gather
        ``K_sv[:, idx] @ coef``, so the predictions are what is pinned,
        not the floats.
        """
        if len(X) == 0:
            return np.empty(0, dtype=self.classes.dtype)
        K_sv = KERNELS[self.kernel](np.asarray(X, dtype=np.float64),
                                    self.X_sv, self.gamma)
        k = len(self.classes)
        pairs = [(a, b) for a in range(k) for b in range(a + 1, k)]
        W = np.zeros((self.n_sv, len(pairs)))
        for p, pair in enumerate(pairs):
            idx, coef = self.pair_coefs[pair]
            W[idx, p] = coef
        pos = K_sv @ W - np.array([self.rhos[p] for p in pairs]) > 0
        votes = np.zeros((len(X), k), dtype=np.int64)
        for p, (a, b) in enumerate(pairs):
            votes[:, a] += pos[:, p]
            votes[:, b] += ~pos[:, p]
        return self.classes[np.argmax(votes, axis=1)]

    def to_dict(self) -> dict:
        return {
            "classes": self.classes.tolist(),
            "X_sv": self.X_sv.tolist(),
            "sv_labels": self.sv_labels.tolist(),
            "pair_coefs": {f"{a},{b}": [idx.tolist(), coef.tolist()]
                           for (a, b), (idx, coef) in self.pair_coefs.items()},
            "rhos": {f"{a},{b}": r for (a, b), r in self.rhos.items()},
            "kernel": self.kernel, "gamma": self.gamma, "C": self.C,
        }


def train_svc(X: np.ndarray, y: np.ndarray, C: float = 1.0,
              gamma: float | str | None = None, kernel: str = "rbf",
              eps: float = 1e-3) -> SVCModel:
    """Train one-vs-one C-SVC (reference defaults: C=1, γ=1/n_features,
    eps=1e-3 — cascade_svm/Midcascade.java:62-81).

    gamma: numeric, None → 1/n_features (the reference's
    γ=1/max_feature_index, Midcascade.java:70), or "scale" →
    1/(n_features·Var[X]) — needed when features are unit-normalized
    (then pairwise ‖a−b‖²≈2 and 1/n_features makes the kernel nearly
    constant).

    Classes are ordered by sorted value (LibSVM orders by first
    appearance; sorted is deterministic under any partitioning —
    documented semantic delta, SURVEY §7).

    The N(N−1)/2 pair duals, and the RBF Gram's elementwise passes,
    run on a thread pool sized to the cores the process may use; the
    model is bit-identical to a serial loop over the pairs for any
    thread count.

    The Gram matrix, and so the model, does depend on the caller's
    BLAS thread count: OpenBLAS rounds ``X @ X.T`` differently at 1
    and 2 threads, so a driver-side call matches a Spark task (whose
    Python worker is pinned to one thread) only under
    ``OMP_NUM_THREADS=1``.

    Raises ``ValueError`` when ``X`` holds a NaN or an infinity, when
    ``y`` holds a NaN (a null Spark label reaches a task as one), or
    when ``y`` does not have one label per row of ``X``: a NaN feature
    or label would otherwise train a model without any error.
    """
    X = np.asarray(X, dtype=np.float64)
    y = np.asarray(y)
    if len(y) != len(X):
        raise ValueError(f"train_svc: {len(X)} rows of X but {len(y)} "
                         "labels")
    if not np.isfinite(X).all():
        bad = np.flatnonzero(~np.isfinite(X).all(axis=1))
        raise ValueError(f"train_svc: {len(bad)} rows of X hold NaN or "
                         f"inf (first at row {bad[0]})")
    if y.dtype.kind == "f" and np.isnan(y).any():
        bad = np.flatnonzero(np.isnan(y))
        raise ValueError(f"train_svc: {len(bad)} labels are NaN or "
                         f"missing (first at row {bad[0]})")
    if gamma is None:
        gamma = 1.0 / X.shape[1]
    elif gamma == "scale":
        v = float(X.var())
        gamma = 1.0 / (X.shape[1] * v) if v > 0 else 1.0 / X.shape[1]
    classes = np.unique(y)  # sorted

    def solve(pair):
        a, b = pair
        sel = np.flatnonzero((y == classes[a]) | (y == classes[b]))
        ys = np.where(y[sel] == classes[a], 1.0, -1.0)
        Ks = K_full[np.ix_(sel, sel)]
        alpha, rho = smo_solve(Ks, ys, C=C, eps=eps)
        nz = alpha > TAU
        return sel[nz], alpha[nz] * ys[nz], rho

    # the binary duals are independent and the native loop releases
    # the GIL, so they run on threads; map() keeps pair order, and each
    # dual is the same computation as a serial solve, bit for bit
    pairs = [(a, b) for a in range(len(classes))
             for b in range(a + 1, len(classes))]
    with ThreadPoolExecutor(max(1, min(len(pairs), _n_cpus()))) as pool:
        K_full = (_rbf_gram(X, gamma, pool) if kernel == "rbf"
                  else KERNELS[kernel](X, X, gamma))
        raw = dict(zip(pairs, pool.map(solve, pairs)))
    sv_mask = np.zeros(len(y), dtype=bool)
    for orig_idx, _, _ in raw.values():
        sv_mask[orig_idx] = True

    sv_idx = np.flatnonzero(sv_mask)          # ascending original order
    pos_of = {orig: p for p, orig in enumerate(sv_idx)}
    pair_coefs, rhos = {}, {}
    for pair, (orig_idx, coef, rho) in raw.items():
        pair_coefs[pair] = (np.asarray([pos_of[i] for i in orig_idx],
                                       dtype=np.int64),
                            np.asarray(coef, dtype=np.float64))
        rhos[pair] = float(rho)
    return SVCModel(classes, X[sv_idx], y[sv_idx], pair_coefs, rhos,
                    kernel=kernel, gamma=gamma, C=C, sv_orig_idx=sv_idx)
