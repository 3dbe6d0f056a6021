"""Native (C) build of the SMO loop.

The numpy loop, ``smo._smo_solve_general``, spends its time in
per-iteration ufunc dispatch: ~12 short vector ops per iteration whose
fixed Python/numpy call overhead dominates at bucket sizes (n ≤ a few
thousand), so a 51 200-iteration capped dual at n=512 costs seconds of
pure dispatch. This module compiles the IDENTICAL loop to machine code
once per host and calls it via ctypes.

Bit-identity contract (the golden oracles pin exact floats):

- The C source reproduces the numpy op SEQUENCE one floating-point
  operation at a time — same operands, same order, same clamps; the
  elementwise passes are fused loops, which is semantics-preserving
  because every element's value is computed by the identical op chain.
- Compiled with ``-ffp-contract=off`` and WITHOUT ``-ffast-math`` so
  IEEE-754 double semantics match numpy exactly (no FMA contraction,
  no reassociation); x86-64 uses SSE2 doubles, the same arithmetic
  numpy executes.
- ``argmax``/``argmin`` keep numpy's first-occurrence tie-break
  (strict ``>`` / ``<`` comparisons).
- Equality is not argued but pinned: tests/test_smo.py compares the
  native loop against the numpy loop over a randomized battery, and
  the training goldens re-assert exact values end-to-end.

Caching: the shared object is keyed by the SHA-1 of the C source under
``~/.cache/parallel_svms_spark`` (fallback: the system temp dir) and
built with an atomic rename, so concurrent first-callers (e.g. 32
Arrow workers) race benignly. This caches CODE, never data or query
results. Any failure — no gcc, a build error, a dlopen error — falls
back to the numpy loop, which computes bit-identical results more
slowly, and warns once per process with the reason.
"""

from __future__ import annotations

import ctypes
import hashlib
import os
import subprocess
import tempfile
import threading
import warnings

C_SOURCE = r"""
#include <math.h>
#include <stdlib.h>

/* Bit-for-bit port of smo._smo_solve_general's iteration loop.
   K: n*n row-major Gram matrix; Kd: its diagonal; y: +/-1.0 labels.
   alpha (len n) and grad (len n) are caller-allocated outputs; they
   are initialized here (alpha=0, grad=-1) and left holding the final
   iterate for the caller's rho epilogue. Returns 0, or -1 if the
   scratch allocation failed (caller falls back to numpy). */
int smo_noshrink_loop(const double *K, const double *Kd, const double *y,
                      double *alpha, double *grad,
                      long n, double C, double eps, long max_iter)
{
    const double TAU = 1e-12;
    const double NEG_INF = -INFINITY, POS_INF = INFINITY;
    double *yg = (double *)malloc((size_t)n * sizeof(double));
    unsigned char *up = (unsigned char *)malloc((size_t)n);
    unsigned char *low = (unsigned char *)malloc((size_t)n);
    long i, it;
    if (!yg || !up || !low) {
        free(yg); free(up); free(low);
        return -1;
    }
    for (i = 0; i < n; i++) {
        alpha[i] = 0.0;
        grad[i] = -1.0;
        /* up = pos ? (a<C) : (a>0); low = pos ? (a>0) : (a<C) */
        {
            unsigned char lt = alpha[i] < C;
            unsigned char gt = alpha[i] > 0.0;
            if (y[i] > 0.0) { up[i] = lt; low[i] = gt; }
            else            { up[i] = gt; low[i] = lt; }
        }
    }
    for (it = 0; it < max_iter; it++) {
        /* pass 1: yg = (-y)*grad; li = argmax over up (first max);
           M = min over low — numpy: fill(-inf)+copyto+argmax etc. */
        double m = NEG_INF, M = POS_INF;
        long li = 0, lj = 0;
        for (i = 0; i < n; i++) {
            double v = (-y[i]) * grad[i];
            yg[i] = v;
            if (up[i] && v > m) { m = v; li = i; }
            if (low[i] && v < M) { M = v; }
        }
        if (m == NEG_INF || M == POS_INF || m - M < eps)
            break;
        /* pass 2 (WSS2 j-selection): obj[j] = -b^2/a where
           b = m - yg[j] > TAU and low[j]; argmin, first occurrence */
        {
            const double *Ki = K + li * n;
            double Kd_li = Kd[li];
            double two_yli = 2.0 * y[li];
            double best = POS_INF;
            double quad, delta, old_ai, old_aj, ai, aj, s, dai, daj;
            double f1, f2;
            const double *Kj;
            for (i = 0; i < n; i++) {
                double b = m - yg[i];
                if (low[i] && b > TAU) {
                    double ykj = Ki[i] * y[i];        /* YK[li][i] */
                    double t1 = ykj * two_yli;
                    double a = (Kd[i] + Kd_li) - t1;
                    double o;
                    if (a < TAU) a = TAU;             /* np.maximum */
                    o = b * b;
                    o = -o;
                    o = o / a;
                    if (o < best) { best = o; lj = i; }
                }
            }
            if (best == POS_INF)
                break;                                 /* stalled */
            /* scalar step, numpy operand order preserved */
            {
                double v2 = 2.0 * y[li];
                v2 = v2 * y[lj];
                v2 = v2 * Ki[lj];
                quad = (Kd_li + Kd[lj]) - v2;
                if (quad < TAU) quad = TAU;            /* max(.,TAU) */
            }
            delta = (m - yg[lj]) / quad;
            old_ai = alpha[li];
            old_aj = alpha[lj];
            ai = old_ai + y[li] * delta;
            s = y[li] * old_ai + y[lj] * old_aj;
            if (ai < 0.0) ai = 0.0;                    /* max(ai,0) */
            if (ai > C) ai = C;                        /* min(ai,C) */
            aj = y[lj] * (s - y[li] * ai);
            if (aj < 0.0) {
                aj = 0.0;
                ai = y[li] * (s - y[lj] * aj);
            } else if (aj > C) {
                aj = C;
                ai = y[li] * (s - y[lj] * aj);
            }
            dai = ai - old_ai;
            daj = aj - old_aj;
            if (fabs(dai) < TAU && fabs(daj) < TAU)
                break;
            alpha[li] = ai;
            alpha[lj] = aj;
            /* incremental up/low maintenance at li and lj */
            {
                unsigned char lt = ai < C, gt = ai > 0.0;
                if (y[li] > 0.0) { up[li] = lt; low[li] = gt; }
                else             { up[li] = gt; low[li] = lt; }
                lt = aj < C; gt = aj > 0.0;
                if (y[lj] > 0.0) { up[lj] = lt; low[lj] = gt; }
                else             { up[lj] = gt; low[lj] = lt; }
            }
            /* grad += YK[li]*(y[li]*dai) + YK[lj]*(y[lj]*daj), with
               YK[r][t] = K[r][t]*y[t] exactly as numpy forms it */
            f1 = y[li] * dai;
            f2 = y[lj] * daj;
            Kj = K + lj * n;
            for (i = 0; i < n; i++) {
                double t1v = (Ki[i] * y[i]) * f1;
                double t2v = (Kj[i] * y[i]) * f2;
                double sv = t1v + t2v;
                grad[i] = grad[i] + sv;
            }
        }
    }
    free(yg); free(up); free(low);
    return 0;
}
"""

_CFLAGS = ["-O2", "-fPIC", "-shared", "-ffp-contract=off"]

_lib = None
_tried = False
_lock = threading.Lock()


def _cache_root() -> str:
    root = os.environ.get("XDG_CACHE_HOME") or os.path.join(
        os.path.expanduser("~"), ".cache")
    try:
        os.makedirs(root, exist_ok=True)
        return root
    except OSError:
        return tempfile.gettempdir()


def _build(so_path: str) -> None:
    """Compile C_SOURCE to ``so_path`` atomically (tmp + os.replace),
    so racing first-callers across processes never see a torn file."""
    d = os.path.dirname(so_path)
    os.makedirs(d, exist_ok=True)
    fd, csrc = tempfile.mkstemp(suffix=".c", dir=d)
    try:
        with os.fdopen(fd, "w") as fh:
            fh.write(C_SOURCE)
        fd2, tmp_so = tempfile.mkstemp(suffix=".so", dir=d)
        os.close(fd2)
        try:
            subprocess.run(["gcc", *_CFLAGS, "-o", tmp_so, csrc, "-lm"],
                           check=True, capture_output=True, timeout=120)
            os.replace(tmp_so, so_path)
        finally:
            if os.path.exists(tmp_so):
                os.unlink(tmp_so)
    finally:
        os.unlink(csrc)


def load():
    """ctypes handle to the compiled loop, or None: then the caller
    runs the numpy loop, and the first call in the process has emitted
    a ``RuntimeWarning`` naming why the build is missing.
    Memoized per process; the .so is cached per host keyed by source
    hash, so repeat sessions skip the compile entirely. Thread-safe:
    ``smo.train_svc`` calls this from its pair-solving threads, and a
    caller arriving while another compiles or opens the library waits
    for the handle instead of falling back to numpy."""
    global _lib, _tried
    if _tried:
        return _lib
    with _lock:
        if not _tried:
            _lib = _open()
            _tried = True
    return _lib


def _open():
    sha = hashlib.sha1(C_SOURCE.encode()).hexdigest()[:16]
    so_path = os.path.join(_cache_root(), "parallel_svms_spark",
                           f"smo_noshrink_{sha}.so")
    try:
        if not os.path.exists(so_path):
            _build(so_path)
    except FileNotFoundError as e:
        return _fall_back("no gcc on PATH" if e.filename == "gcc"
                          else f"build error: {e}")
    except subprocess.CalledProcessError as e:
        return _fall_back(f"build error: gcc exited {e.returncode}: "
                          f"{e.stderr.decode(errors='replace')[-500:]}")
    except (OSError, subprocess.SubprocessError) as e:
        return _fall_back(f"build error: {e!r}")
    try:
        lib = ctypes.CDLL(so_path)
        fn = lib.smo_noshrink_loop
        fn.restype = ctypes.c_int
        fn.argtypes = [ctypes.POINTER(ctypes.c_double)] * 5 + [
            ctypes.c_long, ctypes.c_double, ctypes.c_double, ctypes.c_long]
        return lib
    except (OSError, AttributeError) as e:  # no file, or no symbol
        return _fall_back(f"dlopen error on {so_path}: {e}")


def _fall_back(why: str) -> None:
    warnings.warn(f"native SMO loop unavailable ({why}); every dual in "
                  "this process runs the numpy loop: same results, "
                  "slower", RuntimeWarning, stacklevel=4)
