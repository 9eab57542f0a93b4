"""Compile-on-demand native kernels (ctypes) with pure-Python fallback.

``_native.c`` holds bit-exact C transcriptions of the interpreted scalar
recursions that dominate the model-search profiles (ETS state recursion,
ARMA MA-feedback filter).  The source is read through the package loader
(``pkgutil.get_data``), so a ``--py-files`` zip that carries ``_native.c``
works like a source tree.  The shared library is compiled once per machine
into a per-user temp cache keyed on the source hash; every executor that
imports the package finds (or builds) the same cached ``.so``.  Concurrent
builders compile to a pid-suffixed temp file and ``os.replace`` it into
place, so races converge on one artifact.  If the library cannot be
built or loaded (no C compiler, a failed compile, no ``_native.c`` in the
package) ``LIB`` is None, one ``RuntimeWarning`` names the reason, and
callers keep the original Python paths; ``SPARKTS_NO_NATIVE`` selects the
Python paths silently. Behaviour is identical either way
(tests/test_native.py asserts bitwise equality).
"""

from __future__ import annotations

import ctypes
import hashlib
import os
import pkgutil
import shutil
import subprocess
import tempfile
import warnings

import numpy as np
from numpy.ctypeslib import ndpointer

_f64 = ndpointer(dtype=np.float64, flags="C_CONTIGUOUS")
_i64 = ndpointer(dtype=np.int64, flags="C_CONTIGUOUS")


def _load():
    if os.environ.get("SPARKTS_NO_NATIVE"):
        return None
    try:
        try:
            src = pkgutil.get_data(__package__, "_native.c")
        except OSError as e:
            return _unavailable(f"cannot read _native.c from the package: "
                                f"{e!r}")
        tag = hashlib.md5(src).hexdigest()[:12]
        cache = os.path.join(
            tempfile.gettempdir(), f"sparkts-native-{os.getuid()}")
        os.makedirs(cache, exist_ok=True)
        so = os.path.join(cache, f"_native-{tag}.so")
        if not os.path.exists(so):
            cc = (shutil.which("cc") or shutil.which("gcc")
                  or shutil.which("clang"))
            if cc is None:
                return _unavailable("no C compiler (cc, gcc or clang) found")
            tmp = f"{so}.tmp{os.getpid()}"
            # -ffp-contract=off / -fno-fast-math: no FMA fusion or FP
            # reordering — required for bit-exactness with CPython floats.
            # The source goes in on stdin (`-x c -`): it may live in a zip.
            try:
                subprocess.run(
                    [cc, "-O2", "-fPIC", "-shared", "-ffp-contract=off",
                     "-fno-fast-math", "-o", tmp, "-x", "c", "-"],
                    input=src, check=True, capture_output=True, timeout=120)
            except subprocess.CalledProcessError as e:
                tail = e.stderr.decode(errors="replace").strip()[-500:]
                return _unavailable(f"{cc} failed: {tail}")
            os.replace(tmp, so)
        lib = ctypes.CDLL(so)
        # raw-pointer prototypes: the kernels are called tens of thousands
        # of times per task, so per-call ctypes conversion cost matters —
        # callers pass arr.ctypes.data ints, validated by the wrappers here
        lib.sparkts_etscalc.restype = ctypes.c_int
        lib.sparkts_etscalc.argtypes = [
            ctypes.c_void_p, ctypes.c_longlong,
            ctypes.c_double, ctypes.c_double, ctypes.c_void_p,
            ctypes.c_longlong, ctypes.c_int, ctypes.c_int,
            ctypes.c_double, ctypes.c_double, ctypes.c_double,
            ctypes.c_double, ctypes.c_void_p, ctypes.c_void_p,
            ctypes.c_void_p,
        ]
        lib.sparkts_ma_filter.restype = ctypes.c_int
        lib.sparkts_ma_filter.argtypes = [
            ctypes.c_void_p, ctypes.c_longlong, ctypes.c_void_p,
            ctypes.c_void_p, ctypes.c_longlong, ctypes.c_void_p,
            ctypes.c_longlong, ctypes.c_void_p,
        ]
        lib.sparkts_ma_filter_dense.restype = ctypes.c_int
        lib.sparkts_ma_filter_dense.argtypes = [
            ctypes.c_void_p, ctypes.c_longlong, ctypes.c_void_p,
            ctypes.c_longlong, ctypes.c_void_p,
        ]
        lib.sparkts_factors_ok.restype = ctypes.c_int
        lib.sparkts_factors_ok.argtypes = [
            ctypes.c_void_p, ctypes.c_longlong, ctypes.c_void_p,
            ctypes.c_longlong, ctypes.c_void_p, ctypes.c_longlong,
            ctypes.c_void_p, ctypes.c_longlong, ctypes.c_longlong,
        ]
        lib.sparkts_ses_levels.restype = ctypes.c_int
        lib.sparkts_ses_levels.argtypes = [
            ctypes.c_void_p, ctypes.c_longlong, ctypes.c_double,
            ctypes.c_void_p, ctypes.c_void_p, ctypes.c_void_p,
        ]
        lib.sparkts_ses_sse.restype = ctypes.c_double
        lib.sparkts_ses_sse.argtypes = [
            ctypes.c_void_p, ctypes.c_longlong, ctypes.c_double,
            ctypes.c_void_p, ctypes.c_void_p, ctypes.c_void_p,
            ctypes.c_void_p,
        ]
        lib.sparkts_set_ddot.restype = None
        lib.sparkts_set_ddot.argtypes = [ctypes.c_void_p, ctypes.c_int]
        lib.sparkts_ets_sse.restype = ctypes.c_double
        lib.sparkts_ets_sse.argtypes = [
            ctypes.c_void_p, ctypes.c_void_p, ctypes.c_void_p,
            ctypes.c_longlong, ctypes.c_int,
        ]
        lib.sparkts_kalman_transient.restype = ctypes.c_int
        lib.sparkts_kalman_transient.argtypes = [
            ctypes.c_void_p, ctypes.c_longlong,
            ctypes.c_void_p, ctypes.c_longlong,
            ctypes.c_void_p, ctypes.c_longlong,
            ctypes.c_longlong, ctypes.c_longlong,
            ctypes.c_void_p, ctypes.c_void_p, ctypes.c_void_p,
        ]
        return lib
    except Exception as e:
        return _unavailable(f"cannot build or load the library: {e!r}")


def _unavailable(reason: str) -> None:
    """Say once per process (``_load`` runs at import) why the Python
    kernels run instead of the C ones; a slow executor is then told apart
    from one without native kernels."""
    warnings.warn(f"sparkts native kernels unavailable, using the Python "
                  f"kernels: {reason}", RuntimeWarning, stacklevel=3)
    return None


LIB = _load()


def _find_ddot():
    """Install numpy's own BLAS ddot into the C library (r6).

    np.dot on 1-D contiguous float64 dispatches to cblas_ddot of the
    BLAS numpy was built against; calling the SAME symbol from C keeps
    dot products bit-identical to np.dot (pinned in tests/test_native.py).
    Returns the ctypes handle (kept alive at module scope) or None —
    callers must fall back to np.dot when unavailable."""
    if LIB is None:
        return None
    try:
        import glob

        import numpy as _np

        libs_dir = os.path.join(
            os.path.dirname(os.path.dirname(_np.__file__)), "numpy.libs")
        for so in sorted(glob.glob(os.path.join(libs_dir, "libopenblas*"))):
            try:
                h = ctypes.CDLL(so)
            except OSError:
                continue
            # cblas_ddot64_ takes 64-bit integers, plain cblas_ddot C ints
            for sym, n_t in (("cblas_ddot64_", ctypes.c_longlong),
                             ("cblas_ddot", ctypes.c_int)):
                fn = getattr(h, sym, None)
                if fn is not None:
                    addr = ctypes.cast(fn, ctypes.c_void_p).value
                    # confirm bit-equality with np.dot before trusting it
                    fn.restype = ctypes.c_double
                    fn.argtypes = [n_t, ctypes.c_void_p, n_t,
                                   ctypes.c_void_p, n_t]
                    rng = _np.random.default_rng(0)
                    for n in (1, 3, 7, 16, 63, 64, 200, 513):
                        e = rng.normal(0, 1, n)
                        if float(_np.dot(e, e)) != fn(
                                n, e.ctypes.data, 1, e.ctypes.data, 1):
                            return None
                    LIB.sparkts_set_ddot(addr, n_t is ctypes.c_longlong)
                    return h
    except Exception:
        return None
    return None


_DDOT_HANDLE = _find_ddot()
HAS_DDOT = _DDOT_HANDLE is not None


def ses_sse_prepare(y, cp64, cptail):
    """Per-fit prepared SES SSE objective (guide §4.5): returns
    ``call(alpha) -> float`` with y/scratch/power-buffer pointers all
    bound once (the caller refills cp64/cptail per alpha via
    ``np.power(..., out=...)``), or None when the BLAS ddot hook is
    unavailable. Results are bit-identical to scan.ses_sse (same levels
    arithmetic, same ddot)."""
    if not HAS_DDOT:
        return None
    yc = _c64(y)
    n = yc.size
    levels = np.empty(max(n, 1))
    e = np.empty(max(n - 1, 1))
    fn = LIB.sparkts_ses_sse
    yd, ld, ed = yc.ctypes.data, levels.ctypes.data, e.ctypes.data
    cd, td = cp64.ctypes.data, cptail.ctypes.data

    def call(alpha):
        return fn(yd, n, alpha, cd, td, ld, ed)
    call._keep = (yc, levels, e, cp64, cptail)
    return call

_EMPTY = np.empty(0, dtype=np.float64)
# reusable per-process scratch (Spark python workers are single-threaded;
# grown on demand, never shrunk)
_SCRATCH = {"state": np.empty(2), "seas": _EMPTY}


def _c64(a):
    """float64 C-contiguous view (copy only when needed)."""
    if isinstance(a, np.ndarray) and a.dtype == np.float64 \
            and a.flags["C_CONTIGUOUS"]:
        return a
    return np.ascontiguousarray(a, dtype=np.float64)


def ets_calc(y, l0, b0, s0, m, trend, season,
             alpha, beta, gamma, phi):
    """C twin of ets.py _etscalc; returns (f, l, b, s_list)."""
    y = _c64(y)
    n = y.size
    f = np.empty(n)
    state = _SCRATCH["state"]
    if season != 0:
        s0a = _c64(s0)
        if state.size < 2 + m:
            state = _SCRATCH["state"] = np.empty(2 + m)
        if _SCRATCH["seas"].size < m:
            _SCRATCH["seas"] = np.empty(m)
        scratch = _SCRATCH["seas"]
    else:
        s0a = _EMPTY
        scratch = _EMPTY
    LIB.sparkts_etscalc(y.ctypes.data, n, l0, b0, s0a.ctypes.data, m,
                        trend, season, alpha, beta, gamma, phi,
                        f.ctypes.data, state.ctypes.data,
                        scratch.ctypes.data)
    s = state[2:2 + m].tolist() if season != 0 else []
    return f, float(state[0]), float(state[1]), s


def ma_filter_dense(a, mac):
    """MA-feedback recursion with zero initial conditions, nonzero-lag
    scan done in C (r6): bit-equal to ``ma_filter(a, nz+1, mac[nz],
    zeros)`` with ``nz = flatnonzero(mac)``, minus the per-call numpy
    index machinery.  ``mac`` = ma[1:] (may contain zeros)."""
    a = _c64(a)
    mac = _c64(mac)
    n = a.size
    out = np.empty(n)
    rc = LIB.sparkts_ma_filter_dense(a.ctypes.data, n, mac.ctypes.data,
                                     mac.size, out.ctypes.data)
    if rc:  # >64 nonzero coefficients — take the explicit-lags path
        nz = np.flatnonzero(mac)
        return ma_filter(a, nz + 1, mac[nz], np.zeros(mac.size))
    return out


def factors_ok(phi, theta, Phi, Theta, m):
    """C twin of arima._factors_ok (admissibility of the multiplicative
    ARMA factor polynomials); returns None when the C path cannot decide
    (degree > 64) and the caller must use the Python check."""
    phi = _c64(phi)
    theta = _c64(theta)
    Phi = _c64(Phi)
    Theta = _c64(Theta)
    rc = LIB.sparkts_factors_ok(
        phi.ctypes.data, phi.size, theta.ctypes.data, theta.size,
        Phi.ctypes.data, Phi.size, Theta.ctypes.data, Theta.size, m)
    if rc < 0:
        return None
    return bool(rc)


def ses_levels(y, alpha, cp64, cptail):
    """C body of scan._ses_levels; the caller supplies the numpy-computed
    c**arange power arrays so the bits match the original block formula
    (numpy's SIMD pow differs from libm pow in the last ulp)."""
    y = _c64(y)
    out = np.empty(y.size)
    LIB.sparkts_ses_levels(y.ctypes.data, y.size, alpha,
                           cp64.ctypes.data, cptail.ctypes.data,
                           out.ctypes.data)
    return out


def factors_ok_x(x, p, q, P, Q, m):
    """`factors_ok` over the packed CSS parameter vector: phi/theta/Phi/
    Theta are ADJACENT slices of ``x`` (the _expand_params layout), so one
    base pointer + offsets replaces four per-slice ctypes conversions."""
    x = _c64(x)
    base = x.ctypes.data
    rc = LIB.sparkts_factors_ok(
        base, p, base + 8 * p, q, base + 8 * (p + q), P,
        base + 8 * (p + q + P), Q, m)
    if rc < 0:
        return None
    return bool(rc)


def ets_prepare(y, m, season):
    """Per-fit prepared ETS recursion call (r6, guide §4.5: heavyweight
    argument preparation once per fit, not once per objective evaluation).

    Returns ``call(l0, b0, s0, trend, alpha, beta, gamma, phi) -> f`` where
    ``f`` is a buffer REUSED across calls (callers must consume it before
    the next call — the NM objective does). The C kernel invoked is the
    same ``sparkts_etscalc`` as :func:`ets_calc`, so every returned value
    is bit-identical to the unprepared path; only the Python-side
    conversions (y layout check, output allocation, s0 list→array) are
    hoisted out of the per-eval hot loop."""
    yc = _c64(y)
    n = yc.size
    f = np.empty(n)
    fn = LIB.sparkts_etscalc
    ydata, fdata = yc.ctypes.data, f.ctypes.data
    if season != 0:
        state = np.empty(2 + m)
        scratch = np.empty(m)
        s0buf = np.empty(m)
        sdata, stdata, scdata = (s0buf.ctypes.data, state.ctypes.data,
                                 scratch.ctypes.data)

        def call(l0, b0, s0, trend, alpha, beta, gamma, phi):
            s0buf[:] = s0
            fn(ydata, n, l0, b0, sdata, m, trend, season,
               alpha, beta, gamma, phi, fdata, stdata, scdata)
            return f
        # pin every buffer whose raw address the closure holds — without
        # this the arrays are collected and the C kernel writes into freed
        # memory (heap corruption, caught by the r6 bit-exactness probe)
        call._keep = (yc, f, state, scratch, s0buf)
        call.f = f
    else:
        state = np.empty(2)
        stdata = state.ctypes.data
        edata = _EMPTY.ctypes.data

        def call(l0, b0, s0, trend, alpha, beta, gamma, phi):
            fn(ydata, n, l0, b0, edata, m, trend, season,
               alpha, beta, gamma, phi, fdata, stdata, edata)
            return f
        call._keep = (yc, f, state)
        call.f = f
    return call


def ets_lik_prepare(y, f):
    """Prepared SSE step of the ETS likelihood over the FIXED (y, f)
    buffers of one fit (f = the ets_prepare output buffer): returns
    ``sse(mult) -> float`` bit-equal to the numpy ``_lik`` SSE (same
    subtraction/division order, same BLAS ddot; -1.0 encodes the
    multiplicative |f|<tol guard). None without the BLAS hook."""
    if not HAS_DDOT:
        return None
    yc = _c64(y)
    n = yc.size
    e = np.empty(max(n, 1))
    fn = LIB.sparkts_ets_sse
    yd, fd, ed = yc.ctypes.data, f.ctypes.data, e.ctypes.data

    def sse(mult):
        return fn(yd, fd, ed, n, mult)
    sse._keep = (yc, f, e)
    return sse


def kalman_transient(x, phi, theta, t_stop, min_steady):
    """C twin of the stationary-init + full-covariance transient of
    arima.py _arma_exact_loglik (same algorithm and thresholds; naive
    matmul ordering, so ~1e-15-relative from the numpy path — used only
    by rows-only-graded search likelihoods).

    Returns (ssq, logdet, t, steady, F, vhist) or None when the caller
    must fall back to the numpy path (P0 doubling not converged) /
    raises ValueError on a non-finite filter (likelihood -inf)."""
    x = _c64(x)
    phi = _c64(phi)
    theta = _c64(theta)
    p, q = phi.size, theta.size
    r = max(p, q + 1)
    n = x.size
    out = np.empty(5)
    vhist = np.empty(max(min(t_stop, n), 1))
    key = "kal"
    sc = _SCRATCH.get(key)
    need = 6 * r * r + 4 * r
    if sc is None or sc.size < need:
        sc = _SCRATCH[key] = np.empty(need)
    rc = LIB.sparkts_kalman_transient(
        x.ctypes.data, n, phi.ctypes.data, p, theta.ctypes.data, q,
        min(t_stop, n), min_steady, out.ctypes.data, vhist.ctypes.data,
        sc.ctypes.data)
    if rc == 1:
        return None
    if rc == 2:
        raise ValueError("non-finite Kalman filter")
    t = int(out[2])
    return (float(out[0]), float(out[1]), t, bool(out[3]),
            float(out[4]), vhist[:t])


def ma_filter(a, lags, coefs, pre):
    """C twin of the MA-feedback recursion: out[t] = a[t] − Σ c·e[t−lag],
    with e[t<0] read from ``pre`` (length = deg(ma), most recent last)."""
    a = _c64(a)
    n = a.size
    lagsa = np.ascontiguousarray(lags, dtype=np.int64)
    coefsa = _c64(coefs)
    prea = _c64(pre)
    out = np.empty(n)
    LIB.sparkts_ma_filter(a.ctypes.data, n, lagsa.ctypes.data,
                          coefsa.ctypes.data, lagsa.size,
                          prea.ctypes.data, prea.size, out.ctypes.data)
    return out
