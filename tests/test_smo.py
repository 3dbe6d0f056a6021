"""Unit oracle for the numpy SMO solver (SURVEY §5.3)."""

from __future__ import annotations

import numpy as np
import pytest

from parallel_svms_spark.ml.smo import (
    linear_kernel, rbf_kernel, smo_solve, train_svc,
)


def test_hand_computed_dual():
    # x=0 (y=-1), x=1 (y=+1): alpha=(2,2), rho=1, margin at ±1
    X = np.array([[0.0], [1.0]])
    y = np.array([-1.0, 1.0])
    a, rho = smo_solve(linear_kernel(X, X), y, C=10.0)
    assert np.allclose(a, [2.0, 2.0], atol=1e-6)
    assert abs(rho - 1.0) < 1e-6


def test_kkt_and_box_constraints():
    rng = np.random.default_rng(1)
    X = rng.normal(size=(200, 8))
    y = np.where(X[:, 0] + 0.3 * rng.normal(size=200) > 0, 1.0, -1.0)
    C = 1.0
    K = rbf_kernel(X, X, gamma=1 / 8)
    a, rho = smo_solve(K, y, C=C)
    assert (a >= -1e-9).all() and (a <= C + 1e-9).all()
    assert abs(np.dot(a, y)) < 1e-6          # equality constraint
    # KKT residual within eps tolerance
    grad = (y[:, None] * K * y[None, :]) @ a - 1.0
    yg = -y * grad
    up = ((y > 0) & (a < C - 1e-9)) | ((y < 0) & (a > 1e-9))
    low = ((y < 0) & (a < C - 1e-9)) | ((y > 0) & (a > 1e-9))
    assert yg[up].max() - yg[low].min() < 2e-3


def test_separable_blobs_multiclass():
    rng = np.random.default_rng(0)
    X = np.vstack([rng.normal(loc=3 * c, scale=0.5, size=(60, 4))
                   for c in range(3)])
    y = np.repeat([0, 1, 2], 60)
    m = train_svc(X, y)
    assert (m.predict(X) == y).mean() == 1.0
    # SVs live near boundaries: far fewer SVs than points
    assert m.n_sv < len(y) * 0.7


def test_nonseparable_converges():
    rng = np.random.default_rng(2)
    X = rng.normal(size=(300, 16))
    y = rng.integers(0, 2, size=300)  # pure noise — must still terminate
    m = train_svc(X, y, C=1.0)
    assert m.n_sv <= 300
    assert set(np.unique(m.predict(X))) <= {0, 1}


def test_determinism():
    rng = np.random.default_rng(3)
    X = rng.normal(size=(150, 8))
    y = (X[:, 0] > 0).astype(int)
    m1, m2 = train_svc(X, y), train_svc(X, y)
    assert np.array_equal(m1.sv_orig_idx, m2.sv_orig_idx)
    assert np.array_equal(m1.predict(X), m2.predict(X))


def test_fast_path_bitwise_equals_general_loop():
    """smo_solve (the compiled loop where it loads) returns the
    BITWISE-identical (alpha, rho) the numpy loop (_smo_solve_general)
    produces — same ops, same operand order, over a battery spanning
    converged and iteration-capped duals, both kernels, and C
    extremes."""
    import numpy as np
    from parallel_svms_spark.ml import smo

    rng = np.random.RandomState(20251104)
    checked = 0
    for trial in range(10):
        n = int(rng.choice([15, 60, 200, 400]))
        d = int(rng.choice([4, 8, 64]))
        X = rng.randn(n, d)
        y = np.where(rng.rand(n) > rng.rand(), 1.0, -1.0)
        if len(set(y.tolist())) < 2:
            continue
        K = smo.KERNELS["rbf" if trial % 2 else "linear"](X, X, 1.0 / d)
        C = float(rng.choice([0.5, 1.0, 10.0]))
        mi = max(10_000, min(100 * n, 250_000))
        a_ref, r_ref = smo._smo_solve_general(K, y, C, 1e-3, mi)
        a_new, r_new = smo.smo_solve(K, y, C=C)
        assert np.array_equal(a_ref, a_new)
        assert r_ref == r_new
        checked += 1
    assert checked >= 6


def test_native_loop_bitwise_equals_general_loop():
    """The compiled no-shrink loop (_smo_native, gcc -ffp-contract=off,
    op-for-op port) returns BITWISE-identical (alpha, rho) to the numpy
    loop (_smo_solve_general) over a battery that includes
    iteration-capped degenerate duals (duplicated rows force the
    zigzag regime where the cap binds, so deep trajectories are
    compared, not just early-converged ones)."""
    import numpy as np
    import pytest
    from parallel_svms_spark.ml import _smo_native, smo

    lib = _smo_native.load()
    if lib is None:
        pytest.skip("no native build on this host (numpy fallback active)")
    rng = np.random.RandomState(77031)
    checked = 0
    for trial in range(12):
        n = int(rng.choice([15, 60, 200, 400, 640]))
        d = int(rng.choice([4, 8, 64]))
        X = rng.randn(n, d)
        if trial % 3 == 2:  # rank-deficient: duplicate half the rows
            X[n // 2:] = X[: n - n // 2]
        y = np.where(rng.rand(n) > rng.rand(), 1.0, -1.0)
        if len(set(y.tolist())) < 2:
            continue
        K = smo.KERNELS["rbf" if trial % 2 else "linear"](X, X, 1.0 / d)
        C = float(rng.choice([0.5, 1.0, 10.0]))
        mi = max(10_000, min(100 * n, 250_000))
        a_np, r_np = smo._smo_solve_general(K, y, C, 1e-3, mi)
        a_c, r_c = smo._smo_solve_noshrink_native(lib, K, y, C, 1e-3, mi)
        assert np.array_equal(a_np, a_c)
        assert r_np == r_c
        checked += 1
    assert checked >= 8


def test_train_svc_threads_equal_serial_pair_loop(monkeypatch):
    """train_svc solves its one-vs-one pairs on a thread pool; the model
    must be bitwise what a serial loop of smo_solve over the sliced
    Gram matrix gives. Eight cores are reported whatever the host has,
    so the pool really runs the 45 duals concurrently."""
    from parallel_svms_spark.ml import smo

    monkeypatch.setattr(smo.os, "sched_getaffinity",
                        lambda pid: set(range(8)), raising=False)
    assert smo._n_cpus() == 8
    rng = np.random.default_rng(12)
    n, d, n_cls = 1500, 16, 10
    centers = rng.standard_normal((n_cls, d)) * 2.0
    y = rng.integers(0, n_cls, size=n)
    X = centers[y] + rng.standard_normal((n, d))
    gamma = 1.0 / d
    model = train_svc(X, y, gamma=gamma)

    K = rbf_kernel(X, X, gamma)
    classes = np.unique(y)
    want = {}
    sv_mask = np.zeros(n, dtype=bool)
    for a in range(n_cls):
        for b in range(a + 1, n_cls):
            sel = np.flatnonzero((y == classes[a]) | (y == classes[b]))
            ys = np.where(y[sel] == classes[a], 1.0, -1.0)
            alpha, rho = smo_solve(K[np.ix_(sel, sel)], ys)
            nz = alpha > smo.TAU
            want[(a, b)] = (sel[nz], alpha[nz] * ys[nz], rho)
            sv_mask[sel[nz]] = True
    assert np.array_equal(model.sv_orig_idx, np.flatnonzero(sv_mask))
    assert list(model.rhos) == list(want)
    for pair, (orig, coef, rho) in want.items():
        idx, got = model.pair_coefs[pair]
        assert np.array_equal(model.sv_orig_idx[idx], orig)
        assert np.array_equal(got, coef)
        assert model.rhos[pair] == rho


def test_rbf_gram_blocks_bitwise_equal_rbf_kernel():
    """train_svc's Gram runs its elementwise passes in row blocks on
    the pair pool; every entry must be bitwise rbf_kernel's, for sizes
    under, at and across the block boundary, with more threads than
    cores switching often."""
    import sys
    from concurrent.futures import ThreadPoolExecutor

    from parallel_svms_spark.ml import smo

    rng = np.random.default_rng(5)
    interval = sys.getswitchinterval()
    sys.setswitchinterval(1e-6)
    try:
        with ThreadPoolExecutor(16) as pool:
            for n in (1, 7, 256, 257, 2100):
                X = rng.standard_normal((n, 24)) * 1.5
                assert np.array_equal(smo._rbf_gram(X, 1.0 / 24, pool),
                                      rbf_kernel(X, X, 1.0 / 24)), n
    finally:
        sys.setswitchinterval(interval)


def test_native_load_is_thread_safe(monkeypatch):
    """Threads that call _smo_native.load() while another is still
    opening the library wait for its handle: none may see None and
    fall back to numpy. A slow dlopen widens the window."""
    import ctypes
    import sys
    import threading
    import time

    import pytest
    from parallel_svms_spark.ml import _smo_native

    if _smo_native.load() is None:
        pytest.skip("no native build on this host (numpy fallback active)")
    real_cdll = ctypes.CDLL

    def slow_cdll(*args, **kw):
        time.sleep(0.2)
        return real_cdll(*args, **kw)

    monkeypatch.setattr(_smo_native, "_lib", None)
    monkeypatch.setattr(_smo_native, "_tried", False)
    monkeypatch.setattr(_smo_native.ctypes, "CDLL", slow_cdll)
    barrier = threading.Barrier(8, timeout=30)
    got = [None] * 8

    def call(i):
        barrier.wait()
        got[i] = _smo_native.load()

    threads = [threading.Thread(target=call, args=(i,)) for i in range(8)]
    interval = sys.getswitchinterval()
    sys.setswitchinterval(1e-6)
    try:
        for t in threads:
            t.start()
        for t in threads:
            t.join(timeout=30)
    finally:
        sys.setswitchinterval(interval)
    assert not any(t.is_alive() for t in threads)
    assert got[0] is not None
    assert all(h is got[0] for h in got)


def test_native_fallback_warns_once_and_solves_the_same(monkeypatch,
                                                        tmp_path):
    """A failed native build is loud: the first load() in the process
    emits one RuntimeWarning naming the reason, later calls stay
    silent, and smo_solve then returns the numpy loop's result."""
    import warnings

    from parallel_svms_spark.ml import _smo_native, smo

    def no_gcc(so_path):
        raise FileNotFoundError(2, "No such file or directory", "gcc")

    monkeypatch.setenv("XDG_CACHE_HOME", str(tmp_path))  # nothing cached
    monkeypatch.setattr(_smo_native, "_build", no_gcc)
    monkeypatch.setattr(_smo_native, "_lib", None)
    monkeypatch.setattr(_smo_native, "_tried", False)
    rng = np.random.default_rng(9)
    X = rng.standard_normal((120, 6))
    y = np.where(X[:, 0] + 0.5 * rng.standard_normal(120) > 0, 1.0, -1.0)
    K = rbf_kernel(X, X, 1.0 / 6)
    with warnings.catch_warnings(record=True) as caught:
        warnings.simplefilter("always")
        assert _smo_native.load() is None
        assert _smo_native.load() is None
        alpha, rho = smo_solve(K, y)
    msgs = [str(w.message) for w in caught
            if issubclass(w.category, RuntimeWarning)]
    assert len(msgs) == 1 and "no gcc" in msgs[0], msgs
    want_alpha, want_rho = smo._smo_solve_general(K, y, 1.0, 1e-3, 12_000)
    assert np.array_equal(alpha, want_alpha)
    assert rho == want_rho


@pytest.mark.parametrize("bad", ["nan", "inf", "labels", "nan_label"])
def test_train_svc_rejects_bad_input(bad):
    """One NaN or inf feature, one label too many, or one NaN label (a
    null ``label int`` reaches a Spark task as NaN) raises instead of
    training."""
    X = np.random.default_rng(4).standard_normal((40, 3))
    y = np.repeat([0, 1], 20)
    if bad == "labels":
        y = np.append(y, 1)
    elif bad == "nan_label":
        y = y.astype(np.float64)
        y[17] = np.nan
    else:
        X[17, 1] = float(bad)
    match = {"labels": "labels", "nan_label": "labels are NaN"}
    with pytest.raises(ValueError, match=match.get(bad, "NaN or inf")):
        train_svc(X, y)


def _predict_pair_loop(model, X):
    """The per-pair decision loop ``SVCModel.predict`` ran before its
    single GEMM: one column gather and matrix-vector product per pair."""
    K_sv = rbf_kernel(X, model.X_sv, model.gamma)
    k = len(model.classes)
    votes = np.zeros((len(X), k), dtype=np.int64)
    for a in range(k):
        for b in range(a + 1, k):
            idx, coef = model.pair_coefs[(a, b)]
            d = K_sv[:, idx] @ coef - model.rhos[(a, b)]
            votes[:, a] += d > 0
            votes[:, b] += ~(d > 0)
    return model.classes[np.argmax(votes, axis=1)]


@pytest.mark.parametrize("n_cls", [1, 2, 3, 10])
def test_gemm_predict_equals_pair_loop(n_cls):
    """Overlapping seeded blobs, so many holdout rows sit near a pair's
    boundary: the GEMM decisions must vote exactly as the pair loop."""
    rng = np.random.default_rng(40 + n_cls)
    d = 8
    centers = rng.standard_normal((n_cls, d))
    y = rng.integers(0, n_cls, size=600)
    X = centers[y] + rng.standard_normal((600, d))
    model = train_svc(X[:400], y[:400], gamma=1.0 / d)
    assert len(model.classes) == n_cls
    got = model.predict(X[400:])
    assert np.array_equal(got, _predict_pair_loop(model, X[400:]))
    assert got.dtype == model.classes.dtype
