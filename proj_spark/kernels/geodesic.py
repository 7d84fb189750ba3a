"""Vectorized geodesic direct/inverse on the ellipsoid (Karney's algorithm).

Re-implements the published algorithm of Karney, "Algorithms for geodesics",
J. Geodesy 87(1) 2013, order-6 series — the same algorithm the reference
embeds as C (src/geodesic.c, GEOGRAPHICLIB_GEODESIC_ORDER 6, :34-44; entry
points geod_direct :686, geod_inverse :1050) and exposes as proj_geod
(src/4D_api.cpp:121-135) and the aeqd projection's ellipsoidal path
(src/projections/aeqd.cpp:280). This is a from-scratch numpy implementation:
series coefficients re-derived with exact rational arithmetic
(tools/derive_geodesic_series.py) and cross-validated against numeric
quadrature of the defining integrals in tests/test_geodesic.py.

Inverse solver: the canonical arrangement (phi1 <= 0, |phi1| >= |phi2|,
0 <= lam12 <= pi) makes lam12(alpha1) monotonic on (0, pi) [Karney §4], so a
fixed-iteration vectorized bisection converges deterministically for every
row at once — branch-free, mask-based, no per-row Python. Newton refinement
is applied afterwards for the last bits.
"""

from __future__ import annotations

import threading

import numpy as np

from .core import Ellipsoid, adjlon

# ---------------------------------------------------------------------------
# order-6 series (coefficients: tools/derive_geodesic_series.py; C1' is the
# published reverted series, validated numerically in tests)
# ---------------------------------------------------------------------------


def _A1m1(eps):
    """A1 - 1 where I1 = A1 (sigma + sum C1 sin 2l sigma)."""
    e2 = eps * eps
    t = e2 * (e2 * (e2 / 256.0 + 1.0 / 64.0) + 0.25)
    return (t + eps) / (1.0 - eps)


def _C1(eps):
    e2 = eps * eps
    return [
        eps * (e2 * (-e2 / 32.0 + 3.0 / 16.0) - 0.5),
        e2 * (e2 * (-9.0 / 2048.0 * e2 + 1.0 / 32.0) - 1.0 / 16.0),
        eps * e2 * (3.0 / 256.0 * e2 - 1.0 / 48.0),
        e2 * e2 * (3.0 / 512.0 * e2 - 5.0 / 512.0),
        eps * e2 * e2 * (-7.0 / 1280.0),
        e2 * e2 * e2 * (-7.0 / 2048.0),
    ]


def _C1_t(eps):
    """C1 truncated to l<=4 for low-eccentricity ellipsoids: the dropped
    l=5,6 terms are O(eps^5) <= 1e-16 rad for Earth (eps_max ~ 0.0017),
    below double roundoff of the sigma sums."""
    e2 = eps * eps
    return [
        eps * (e2 * (-e2 / 32.0 + 3.0 / 16.0) - 0.5),
        e2 * (e2 * (-9.0 / 2048.0 * e2 + 1.0 / 32.0) - 1.0 / 16.0),
        eps * e2 * (3.0 / 256.0 * e2 - 1.0 / 48.0),
        e2 * e2 * (3.0 / 512.0 * e2 - 5.0 / 512.0),
    ]


def _C2_t(eps):
    e2 = eps * eps
    return [
        eps * (e2 * (e2 / 32.0 + 1.0 / 16.0) + 0.5),
        e2 * (e2 * (35.0 / 2048.0 * e2 + 1.0 / 32.0) + 3.0 / 16.0),
        eps * e2 * (5.0 / 256.0 * e2 + 5.0 / 48.0),
        e2 * e2 * (7.0 / 512.0 * e2 + 35.0 / 512.0),
    ]


def _C1p(eps):
    e2 = eps * eps
    return [
        eps * (e2 * (205.0 / 1536.0 * e2 - 9.0 / 32.0) + 0.5),
        e2 * (e2 * (1335.0 / 4096.0 * e2 - 37.0 / 96.0) + 5.0 / 16.0),
        eps * e2 * (-75.0 / 128.0 * e2 + 29.0 / 96.0),
        e2 * e2 * (-2391.0 / 2560.0 * e2 + 539.0 / 1536.0),
        eps * e2 * e2 * (3467.0 / 7680.0),
        e2 * e2 * e2 * (38081.0 / 61440.0),
    ]


def _A2m1(eps):
    e2 = eps * eps
    t = e2 * (e2 * (-11.0 / 256.0 * e2 - 7.0 / 64.0) - 0.75)
    return (t - eps) / (1.0 + eps)


def _C2(eps):
    e2 = eps * eps
    return [
        eps * (e2 * (e2 / 32.0 + 1.0 / 16.0) + 0.5),
        e2 * (e2 * (35.0 / 2048.0 * e2 + 1.0 / 32.0) + 3.0 / 16.0),
        eps * e2 * (5.0 / 256.0 * e2 + 5.0 / 48.0),
        e2 * e2 * (7.0 / 512.0 * e2 + 35.0 / 512.0),
        eps * e2 * e2 * (63.0 / 1280.0),
        e2 * e2 * e2 * (77.0 / 2048.0),
    ]


def _A3_coefs(n):
    """A3 as polynomial coefficients in eps (constant..eps^5), functions of
    the third flattening n (exact joint expansion truncated at eps^5)."""
    return [
        1.0,
        -0.5 + 0.5 * n,
        -0.25 - n * (0.125 - 0.375 * n),
        -(1.0 / 16.0) - n * (3.0 / 16.0 + n * (1.0 / 16.0 - 5.0 / 16.0 * n)),
        -(3.0 / 64.0) - n * (1.0 / 32.0 + n * (5.0 / 32.0 + n * 5.0 / 128.0)),
        -(3.0 / 128.0) - n * (5.0 / 128.0 + n * 5.0 / 256.0),
    ]


def _C3_coefs(n):
    """C3[l] (l=1..5) polynomial coefficients in eps starting at eps^l."""
    c31 = [
        0.25 - 0.25 * n,
        0.125 - n * n * 0.125,
        3.0 / 64.0 + n * (3.0 / 64.0 - n * (1.0 / 64.0 + 5.0 / 64.0 * n)),
        5.0 / 128.0 + n * (1.0 / 64.0 + n * (1.0 / 64.0 - n / 64.0)),
        3.0 / 128.0 + n * (11.0 / 512.0 + n * (3.0 / 512.0 + n / 256.0)),
    ]
    c32 = [
        1.0 / 16.0 - n * (3.0 / 32.0 - n / 32.0),
        3.0 / 64.0 - n * (1.0 / 32.0 + n * (3.0 / 64.0 - n / 32.0)),
        3.0 / 128.0 + n * (1.0 / 128.0 - n * (9.0 / 256.0 + 3.0 / 128.0 * n)),
        5.0 / 256.0 + n * (1.0 / 256.0 - n * (1.0 / 128.0 + 7.0 / 256.0 * n)),
    ]
    c33 = [
        5.0 / 192.0 - n * (3.0 / 64.0 - n * (5.0 / 192.0 - n / 192.0)),
        3.0 / 128.0 - n * (5.0 / 192.0 + n * (1.0 / 64.0 - 5.0 / 192.0 * n)),
        7.0 / 512.0 - n * (1.0 / 384.0 + 77.0 / 3072.0 * n),
    ]
    c34 = [
        7.0 / 512.0 - n * (7.0 / 256.0 - n * (5.0 / 256.0 - 7.0 / 1024.0 * n)),
        7.0 / 512.0 - n * (5.0 / 256.0 + 7.0 / 2048.0 * n),
    ]
    c35 = [21.0 / 2560.0 - n * (9.0 / 512.0 - 15.0 / 1024.0 * n)]
    return [c31, c32, c33, c34, c35]


def _sin_series(coefs, sinx, cosx):
    """sum coefs[l-1] * sin(2 l x) via Clenshaw (coefs: list of arrays)."""
    # sin(2lx) recursion via Clenshaw on cos(2x); scalar 0.0 starts avoid
    # two full-width zero allocations per call (hot: 6x per Newton eval)
    ar = 2.0 * (cosx - sinx) * (cosx + sinx)  # 2 cos(2x)
    y1 = 0.0
    y0 = coefs[-1]
    for c in coefs[-2::-1]:
        y1, y0 = y0, ar * y0 - y1 + c
    return 2.0 * sinx * cosx * y0  # sin(2x) * y0


def _sin_series_diff(coefs, sinx2, cosx2, sinx1, cosx1):
    """B(x2) - B(x1) for B = sum coefs[l-1] sin(2 l x): both Clenshaw
    recurrences advanced in one python loop (halves list traversal and
    interpreter dispatch on the hot Newton path; identical arithmetic to
    two _sin_series calls, so bit-identical results)."""
    ar2 = 2.0 * (cosx2 - sinx2) * (cosx2 + sinx2)
    ar1 = 2.0 * (cosx1 - sinx1) * (cosx1 + sinx1)
    b1 = a1 = 0.0
    b0 = a0 = coefs[-1]
    for c in coefs[-2::-1]:
        b1, b0 = b0, ar2 * b0 - b1 + c
        a1, a0 = a0, ar1 * a0 - a1 + c
    return 2.0 * sinx2 * cosx2 * b0 - 2.0 * sinx1 * cosx1 * a0


def _clenshaw_diff2_ws(ws, coefs_a, coefs_b, sinx2, cosx2, sinx1, cosx1):
    """TWO sin-series differences over the same endpoints with explicit
    ping-pong buffers from ``ws`` (9 chunk-sized arrays): shares the
    2cos(2x) multipliers and closing sin(2x) products between the
    coefficient sets; per set the arithmetic is association-identical to
    _sin_series_diff (the only reassociation is the exact *2.0), so
    results are bit-identical. Set A's result is materialized (fresh
    array — it escapes) before the recurrence buffers are reused for
    set B; all nine buffers are clobbered by the next call."""
    ar2, ar1, s2x2, s2x1, b0, b1, a0, a1, tmp = ws
    np.subtract(cosx2, sinx2, out=ar2)
    np.add(cosx2, sinx2, out=tmp)
    np.multiply(ar2, tmp, out=ar2)
    np.multiply(ar2, 2.0, out=ar2)
    np.subtract(cosx1, sinx1, out=ar1)
    np.add(cosx1, sinx1, out=tmp)
    np.multiply(ar1, tmp, out=ar1)
    np.multiply(ar1, 2.0, out=ar1)
    np.multiply(sinx2, cosx2, out=s2x2)
    np.multiply(s2x2, 2.0, out=s2x2)
    np.multiply(sinx1, cosx1, out=s2x1)
    np.multiply(s2x1, 2.0, out=s2x1)
    out = []
    for coefs in (coefs_a, coefs_b):
        np.copyto(b0, coefs[-1])
        b1.fill(0.0)
        np.copyto(a0, coefs[-1])
        a1.fill(0.0)
        bb0, bb1, aa0, aa1 = b0, b1, a0, a1
        for c in coefs[-2::-1]:
            np.multiply(ar2, bb0, out=tmp)
            np.subtract(tmp, bb1, out=bb1)
            np.add(bb1, c, out=bb1)
            bb0, bb1 = bb1, bb0
            np.multiply(ar1, aa0, out=tmp)
            np.subtract(tmp, aa1, out=aa1)
            np.add(aa1, c, out=aa1)
            aa0, aa1 = aa1, aa0
        out.append(s2x2 * bb0 - s2x1 * aa0)
    return out




def _cos_series(coefs, sinx, cosx):
    """sum coefs[l] * cos((2l+1) x) via Clenshaw (reference geodesic.c
    SinCosSeries with sinp=FALSE)."""
    ar = 2.0 * (cosx - sinx) * (cosx + sinx)  # 2 cos(2x)
    y1 = 0.0
    y0 = coefs[-1]
    for c in coefs[-2::-1]:
        y1, y0 = y0, ar * y0 - y1 + c
    return cosx * (y0 - y1)


# The I4 area series (Karney 2013 eq. 65, published order-6 expansion of
# the area integrand; constants as embedded by the reference,
# src/geodesic.c C4coeff:1693-1746). Flat table: for each l = 0..5, for
# each eps power j = 5 down to l, a polynomial in n of order 5-j followed
# by its common denominator. Validated against the quadrature area
# integral in tests/test_geodesy.py.
_C4_TABLE = [
    # l = 0
    97, 15015,
    1088, 156, 45045,
    -224, -4784, 1573, 45045,
    -10656, 14144, -4576, -858, 45045,
    64, 624, -4576, 6864, -3003, 15015,
    100, 208, 572, 3432, -12012, 30030, 45045,
    # l = 1
    1, 9009,
    -2944, 468, 135135,
    5792, 1040, -1287, 135135,
    5952, -11648, 9152, -2574, 135135,
    -64, -624, 4576, -6864, 3003, 135135,
    # l = 2
    8, 10725,
    1856, -936, 225225,
    -8448, 4992, -1144, 225225,
    -1440, 4160, -4576, 1716, 225225,
    # l = 3
    -136, 63063,
    1024, -208, 105105,
    3584, -3328, 1144, 315315,
    # l = 4
    -128, 135135,
    -2560, 832, 405405,
    # l = 5
    128, 99099,
]


def _C4_coefs(n: float):
    """Per-ellipsoid C4 coefficient polynomials: out[l] is the descending
    eps-polynomial p such that C4[l] = eps^l * polyval(p, eps)."""
    out = []
    o = 0
    for l in range(6):
        seg = []
        for j in range(5, l - 1, -1):
            m = 6 - j - 1
            val = 0.0
            for c in _C4_TABLE[o:o + m + 1]:
                val = val * n + c
            seg.append(val / _C4_TABLE[o + m + 1])
            o += m + 2
        out.append(seg)
    return out


class GeodSolver:
    """Precomputed ellipsoid-level state (reference geod_init analogue)."""

    def __init__(self, ell: Ellipsoid):
        self.ell = ell
        self._ws_tls = threading.local()
        self.a = ell.a
        self.f = ell.f
        self.b = ell.a * (1.0 - ell.f)
        self.f1 = 1.0 - ell.f
        self.e2 = ell.es
        self.ep2 = self.e2 / (self.f1 * self.f1)
        self.n = ell.f / (2.0 - ell.f)
        self._a3 = _A3_coefs(self.n)
        self._c3 = _C3_coefs(self.n)
        # adaptive series order: eps <= ep2 / (1 + sqrt(1+ep2))^2; for
        # Earth-like flattening (~0.0017) the l=5,6 sigma-series terms and
        # the l>=4 lambda-series terms are below 1e-15 rad — truncate them
        # (full order kept for exotic high-eccentricity ellipsoids)
        eps_max = self.ep2 / (1.0 + np.sqrt(1.0 + self.ep2)) ** 2 \
            if self.ep2 >= 0 else 0.0
        self._low_ecc = abs(eps_max) < 0.002
        self._C1f = _C1_t if self._low_ecc else _C1
        self._C2f = _C2_t if self._low_ecc else _C2
        self._c3l = self._c3[:3] if self._low_ecc else self._c3
        # iteration-only truncations (total order 4 in eps): lam12 series
        # bias < 5e-15 rad for Earth eps_max ~ 0.0017 — the committed
        # root moves by bias/d ~ 5e-15 rad, inside the 1e-12 deg azimuth
        # tolerance. Full-order series still used at the converged azimuth
        # (_final_state) and for exotic ellipsoids (fast flag gated on
        # _low_ecc).
        self._a3_fast = self._a3[:4]
        self._c3l_fast = [self._c3[0][:3], self._c3[1][:2], self._c3[2][:1]]
        # scalar A3 at the mid-range eps (cos^2 alpha0 = 0.5) for the
        # start-guess domg correction — see _inverse_body
        self._a3g = float(self._A3(self._eps(np.float64(0.5))[0]))
        self._c4x = _C4_coefs(self.n)
        # authalic radius squared (reference geod_init, geodesic.c:315-319)
        if self.e2 > 0:
            self.c2 = (self.a ** 2 + self.b ** 2
                       * np.arctanh(np.sqrt(self.e2)) / np.sqrt(self.e2)) / 2.0
        elif self.e2 < 0:
            self.c2 = (self.a ** 2 + self.b ** 2
                       * np.arctan(np.sqrt(-self.e2)) / np.sqrt(-self.e2)) / 2.0
        else:
            self.c2 = (self.a ** 2 + self.b ** 2) / 2.0

    # -- per-line helpers ---------------------------------------------------

    def _wsbufs(self, n: int):
        """9 chunk-sized scratch buffers for the buffered Clenshaw sweeps
        (one capacity-max allocation reused as [:n] views — the inverse
        solver's compressed active sets shrink per iteration). Buffers are
        THREAD-LOCAL: the module-level solver() cache hands one instance
        to all callers in a process, so per-thread buffers keep concurrent
        inverse() calls from clobbering each other's recurrences (Spark's
        Python workers are separate processes, but library users may
        thread)."""
        tls = self._ws_tls
        if getattr(tls, "cap", 0) < n:
            tls.ws = [np.empty(n) for _ in range(9)]
            tls.cap = n
        return [b[:n] for b in tls.ws]

    def __getstate__(self):
        # threading.local is not picklable; drop the scratch (it is a pure
        # cache) so operators embedding a solver (ellipsoidal aeqd/gnom)
        # survive Spark's cloudpickle of UDF closures
        state = self.__dict__.copy()
        state.pop("_ws_tls", None)
        return state

    def __setstate__(self, state):
        self.__dict__.update(state)
        self._ws_tls = threading.local()

    def _eps(self, cos2_alpha0):
        k2 = self.ep2 * cos2_alpha0
        s = np.sqrt(1.0 + k2)
        return k2 / ((s + 1.0) ** 2), k2

    def _A3(self, eps):
        out = self._a3[-1]  # scalar Horner seed: no zeros_like alloc
        for c in self._a3[-2::-1]:
            out = out * eps + c
        return out

    def _C3(self, eps):
        out = []
        p = eps
        for l, cl in enumerate(self._c3l, start=1):
            acc = cl[-1]
            for c in cl[-2::-1]:
                acc = acc * eps + c
            out.append(acc * p)
            if l < len(self._c3l):
                p = p * eps
        return out

    def _C4(self, eps):
        """C4[l](eps) arrays (reference C4f): eps^l * Horner(seg, eps)."""
        out = []
        mult = 1.0
        for seg in self._c4x:
            acc = seg[0]
            for c in seg[1:]:
                acc = acc * eps + c
            out.append(mult * acc)
            mult = mult * eps
        return out

    def _I1(self, eps, sinx, cosx, sigma):
        return (1.0 + _A1m1(eps)) * (sigma + _sin_series(_C1(eps), sinx, cosx))

    def _I3(self, eps, sinx, cosx, sigma):
        return self._A3(eps) * (sigma + _sin_series(self._C3(eps), sinx, cosx))

    def _length_scale(self, eps, k2, ssig1, csig1, dn1, ssig2, csig2, dn2,
                      sig1, sig2):
        """Reduced length m12 (metres) and geodesic scale M12 along a line
        between arc points 1, 2 (Karney eqs. 38-40; J = I1 - I2)."""
        J12 = ((_A1m1(eps) - _A2m1(eps)) * (sig2 - sig1)
               + ((1.0 + _A1m1(eps)) * (_sin_series(_C1(eps), ssig2, csig2)
                                        - _sin_series(_C1(eps), ssig1, csig1)))
               - ((1.0 + _A2m1(eps)) * (_sin_series(_C2(eps), ssig2, csig2)
                                        - _sin_series(_C2(eps), ssig1, csig1))))
        m12 = self.b * (dn2 * (csig1 * ssig2) - dn1 * (ssig1 * csig2)
                        - csig1 * csig2 * J12)
        csig12 = csig1 * csig2 + ssig1 * ssig2
        t = k2 * (ssig2 - ssig1) * (ssig2 + ssig1) / (dn1 + dn2)
        M12 = csig12 + (t * ssig2 - csig2 * J12) * ssig1 / dn1
        M21 = csig12 - (t * ssig1 - csig1 * J12) * ssig2 / dn2
        return m12, M12, M21

    # -- direct -------------------------------------------------------------

    def direct(self, lon1, lat1, azi1, s12, want_scale: bool = False):
        """All angles radians, s12 metres. Returns (lon2, lat2, azi2);
        with ``want_scale`` also (m12, M12)."""
        lon1 = np.asarray(lon1, dtype=np.float64)
        lat1 = np.asarray(lat1, dtype=np.float64)
        azi1 = np.asarray(azi1, dtype=np.float64)
        s12 = np.asarray(s12, dtype=np.float64)

        sbet1 = self.f1 * np.sin(lat1)
        cbet1 = np.cos(lat1)
        norm = np.hypot(sbet1, cbet1)
        sbet1, cbet1 = sbet1 / norm, cbet1 / norm
        cbet1 = np.maximum(cbet1, 1e-12)  # polar guard

        salp1, calp1 = np.sin(azi1), np.cos(azi1)
        salp0 = salp1 * cbet1
        calp0 = np.hypot(calp1, salp1 * sbet1)

        ssig1 = sbet1
        csig1 = np.where((sbet1 == 0) & (calp1 == 0), 1.0, calp1 * cbet1)
        nrm = np.hypot(ssig1, csig1)
        ssig1, csig1 = ssig1 / nrm, csig1 / nrm
        somg1 = salp0 * ssig1
        comg1 = csig1

        eps, k2 = self._eps(calp0 * calp0)
        sig1 = np.arctan2(ssig1, csig1)
        A1 = 1.0 + _A1m1(eps)
        s1 = self._I1(eps, ssig1, csig1, sig1) * self.b
        s2 = s1 + s12
        tau2 = s2 / (self.b * A1)
        stau2, ctau2 = np.sin(tau2), np.cos(tau2)
        sig2 = tau2 + _sin_series(_C1p(eps), stau2, ctau2)
        ssig2, csig2 = np.sin(sig2), np.cos(sig2)

        sbet2 = calp0 * ssig2
        cbet2 = np.hypot(salp0, calp0 * csig2)
        somg2 = salp0 * ssig2
        comg2 = csig2
        omg12 = np.arctan2(somg2 * comg1 - comg2 * somg1,
                           comg2 * comg1 + somg2 * somg1)
        lam12 = omg12 - self.f * salp0 * (
            self._I3(eps, ssig2, csig2, sig2) - self._I3(eps, ssig1, csig1, sig1))

        lat2 = np.arctan2(sbet2, self.f1 * cbet2)
        lon2 = adjlon(lon1 + lam12)
        azi2 = np.arctan2(salp0, calp0 * csig2)
        if want_scale:
            dn1 = np.sqrt(1.0 + k2 * ssig1 * ssig1)
            dn2 = np.sqrt(1.0 + k2 * ssig2 * ssig2)
            m12, M12, _ = self._length_scale(eps, k2, ssig1, csig1, dn1,
                                             ssig2, csig2, dn2, sig1, sig2)
            return lon2, lat2, azi2, m12, M12
        return lon2, lat2, azi2

    # -- inverse ------------------------------------------------------------

    def _A3fast(self, eps):
        out = self._a3_fast[-1]
        for c in self._a3_fast[-2::-1]:
            out = out * eps + c
        return out

    def _C3fast(self, eps):
        out = []
        p = eps
        for l, cl in enumerate(self._c3l_fast, start=1):
            acc = cl[-1]
            for c in cl[-2::-1]:
                acc = acc * eps + c
            out.append(acc * p)
            if l < len(self._c3l_fast):
                p = p * eps
        return out

    def _lambda12d(self, sbet1, cbet1, sbet2, cbet2, salp1, calp1,
                   k_c2=None):
        """Fused iteration-0 evaluation: lam12 AND its alpha1-derivative
        in ONE pass (Karney 2013 eq. 46; reference geodesic.c Lambda12
        with diffp=TRUE computes both in one call the same way). The r4
        code paid a separate _lambda12 + _dlam12 pair: two sweeps over
        the same sig endpoints, two sin_series_diff memory walks, a
        duplicated eps/normalization set. Fusing shares all of it and
        runs both coefficient sets through one joint Clenshaw call
        (_clenshaw_diff2_ws). Fast truncated series throughout — the
        derivative feeds Newton only and its error is absorbed by the
        commit error model (err_rel 1e-5, see _inverse_body).

        r5 op-count cuts (same math, fewer full-width passes):
        - the sig normalizers are NOT recomputed: sbet1^2 + (calp1
          cbet1)^2 = 1 - (salp1 cbet1)^2 = calp0^2 exactly (Karney's
          sin(alp) cos(bet) = sin(alp0) invariant), and identically at
          point 2, so both endpoints normalize by the already-computed
          calp0 (one reciprocal, four muls — replaces two sqrt chains);
          the <= 1 ulp difference vs the explicit sqrt only perturbs the
          series inputs at 1e-16.
        - arctan2 is scale-invariant, so omg12/sig12 use the RAW
          (unnormalized) components, and the omg cross equals
          salp0 * (sig cross) — one shared clamped cross.
        - calp2sq's iteration-invariant part (the cb / polar-branch
          blend) is hoisted to the caller via ``k_c2``.
        - the combined Newton coefficients are evaluated in closed form:
          with f1a = 1/(1-eps), f2a = 1/(1+eps) (the truncated A series),
          cj0 = eps (e2/8 - 1 + eps e2/4)/(1-e2), cj1 = -e2 (2-eps)/
          (8 (1-e2)), a1m1-a2m1 = 2 eps/(1-e2) — one shared 1/(1-e2)
          instead of rebuilding four coefficient arrays.
        (Sub-slicing these evaluations to L2-resident 4k strips was
        measured and LOST in the real solver — the standalone helper
        win was an artifact of re-running on cache-hot inputs.)"""
        if k_c2 is None:
            cb = (sbet1 - sbet2) * (sbet1 + sbet2)
            k_c2 = cb + ((cbet2 - cbet1) * (cbet1 + cbet2) - cb) \
                * (cbet1 < -sbet1)
        salp0 = salp1 * cbet1
        t = salp1 * sbet1
        calp0 = np.sqrt(calp1 * calp1 + t * t)
        rc = 1.0 / calp0
        csig1 = calp1 * cbet1
        ssig1n = sbet1 * rc
        csig1n = csig1 * rc
        csig2 = np.sqrt(np.maximum(csig1 * csig1 + k_c2, 0.0))
        ssig2n = sbet2 * rc
        csig2n = csig2 * rc
        cdot = csig1 * csig2
        cross = np.maximum(csig1 * sbet2 - sbet1 * csig2, 0.0)
        sb12 = sbet1 * sbet2
        sig12 = np.arctan2(cross, cdot + sb12)
        # salp0 >= 0 in the canonical arrangement, so the clamped omg
        # cross is salp0 * (clamped sig cross)
        omg12 = np.arctan2(salp0 * cross, cdot + (salp0 * salp0) * sb12)
        k2 = self.ep2 * (calp0 * calp0)
        seps = np.sqrt(1.0 + k2)
        eps = k2 / ((seps + 1.0) * (seps + 1.0))
        if self._low_ecc:
            a3 = self._A3fast(eps)
            c3 = self._C3fast(eps)
            e2 = eps * eps
            r1me2 = 1.0 / (1.0 - e2)
            adiff = 2.0 * eps * r1me2
            cj = [eps * r1me2 * (e2 * (0.125 + 0.25 * eps) - 1.0),
                  e2 * r1me2 * (0.125 * eps - 0.25)]
        else:
            a3 = self._A3(eps)
            c3 = self._C3(eps)
            a1m1 = _A1m1(eps)
            a2m1 = _A2m1(eps)
            c1 = self._C1f(eps)
            c2 = self._C2f(eps)
            f1a = 1.0 + a1m1
            f2a = 1.0 + a2m1
            adiff = a1m1 - a2m1
            cj = [f1a * u - f2a * v for u, v in zip(c1, c2)]
        i3s, j12s = _clenshaw_diff2_ws(self._wsbufs(len(ssig1n)),
                                       c3, cj, ssig2n, csig2n,
                                       ssig1n, csig1n)
        i3d = a3 * (sig12 + i3s)
        lam12 = omg12 - self.f * salp0 * i3d
        j12 = adiff * sig12 + j12s
        dn1 = np.sqrt(1.0 + k2 * (ssig1n * ssig1n))
        dn2 = np.sqrt(1.0 + k2 * (ssig2n * ssig2n))
        # d = (m12/b) * f1 / (calp2 cbet2); m12/b evaluated directly
        # (the old path multiplied by b in _lambda12's caller and divided
        # straight back out)
        m12b = (dn2 * (csig1n * ssig2n) - dn1 * (ssig1n * csig2n)
                - csig1n * csig2n * j12)
        d = m12b * self.f1 / csig2
        merid = np.abs(csig2) < 1e-14
        if merid.any():
            sb = sbet1 - (sbet1 == 0.0)
            d = np.where(merid, -2.0 * self.f1 * dn1 / sb, d)
        return lam12, d

    def _lambda12(self, sbet1, cbet1, sbet2, cbet2, salp1, calp1,
                  want_s12: bool = True, fast: bool = False,
                  want_alp2: bool = True, k_c2=None):
        """lam12 and s12-precursors for trial azimuth alpha1 (canonical
        arrangement). Returns (lam12, s12, salp2, calp2); ``want_s12=False``
        skips the distance series during root-finder iterations (s12 is
        only needed at the converged azimuth), ``want_alp2=False``
        additionally skips the far-azimuth components (csig2 is their
        only live product inside the iteration, and it equals
        sqrt(calp2sq) directly).

        Hot path: called 2-4x per point by the Newton solver; the sig
        normalizers reuse calp0 (exact identity — see _lambda12d), the
        omg12/sig12 angles come from raw components via arctan2's scale
        invariance with one shared clamped cross, and calp2sq's
        iteration-invariant part arrives precomputed as ``k_c2``."""
        if k_c2 is None:
            cb = (sbet1 - sbet2) * (sbet1 + sbet2)
            k_c2 = cb + ((cbet2 - cbet1) * (cbet1 + cbet2) - cb) \
                * (cbet1 < -sbet1)
        salp0 = salp1 * cbet1
        t = salp1 * sbet1
        calp0 = np.sqrt(calp1 * calp1 + t * t)
        rc = 1.0 / calp0
        csig1 = calp1 * cbet1
        ssig1n = sbet1 * rc
        csig1n = csig1 * rc

        # alpha2 from sin(alpha) cos(beta) = sin(alpha0); errstate hoisted
        # to _inverse_impl, selections are arithmetic blends (np.where is
        # ~3x the cost of the sub+mul+add blend). Equal-cbet rows take the
        # exact salp1 through the zero-blend — the same roundoff guard the
        # reference applies; on the TAKEN branch the blend
        # salp1 + (salp0/cbet2 - salp1) carries one extra rounding vs the
        # reference's direct salp0/cbet2 (<= 1 ulp, absorbed by the
        # 0.5 mm gie tolerance — this is a near-match, not bit parity)
        csig2 = np.sqrt(np.maximum(csig1 * csig1 + k_c2, 0.0))
        if want_alp2:
            salp2 = salp1 + (salp0 / cbet2 - salp1) * (cbet2 != cbet1)
            calp2 = csig2 / cbet2
        else:
            salp2 = calp2 = None
        ssig2n = sbet2 * rc
        csig2n = csig2 * rc

        cdot = csig1 * csig2
        cross = np.maximum(csig1 * sbet2 - sbet1 * csig2, 0.0)
        sb12 = sbet1 * sbet2
        sig12 = np.arctan2(cross, cdot + sb12)
        omg12 = np.arctan2(salp0 * cross, cdot + (salp0 * salp0) * sb12)

        k2 = self.ep2 * (calp0 * calp0)
        seps = np.sqrt(1.0 + k2)
        eps = k2 / ((seps + 1.0) * (seps + 1.0))
        # shared-coefficient I3 difference: A3/C3 depend only on eps
        if fast and self._low_ecc:
            a3 = self._A3fast(eps)
            c3 = self._C3fast(eps)
        else:
            a3 = self._A3(eps)
            c3 = self._C3(eps)
        I3d = a3 * (sig12
                    + _sin_series_diff(c3, ssig2n, csig2n,
                                       ssig1n, csig1n))
        lam12 = omg12 - self.f * salp0 * I3d
        if want_s12:
            c1 = self._C1f(eps)
            s12 = (1.0 + _A1m1(eps)) * (sig12
                                        + _sin_series_diff(
                                            c1, ssig2n, csig2n,
                                            ssig1n, csig1n)) * self.b
        else:
            s12 = None
        internals = (eps, k2, ssig1n, csig1n, ssig2n, csig2n, sig12)
        return lam12, s12, salp2, calp2, internals

    def _final_state(self, sbet1, cbet1, sbet2, cbet2, salp1, calp1,
                     k_c2=None):
        """Distance + far azimuth at the CONVERGED alpha1 — the quantities
        lambda12 iteration skipped. Omits the omg12/I3 lambda series (not
        needed once the root is found), so the post-loop full-array pass
        costs ~half a _lambda12. Same identity-normalization and
        hoisted k_c2 op cuts as _lambda12d."""
        if k_c2 is None:
            cb = (sbet1 - sbet2) * (sbet1 + sbet2)
            k_c2 = cb + ((cbet2 - cbet1) * (cbet1 + cbet2) - cb) \
                * (cbet1 < -sbet1)
        salp0 = salp1 * cbet1
        t = salp1 * sbet1
        calp0 = np.sqrt(calp1 * calp1 + t * t)
        rc = 1.0 / calp0
        csig1 = calp1 * cbet1
        ssig1n = sbet1 * rc
        csig1n = csig1 * rc
        salp2 = salp1 + (salp0 / cbet2 - salp1) * (cbet2 != cbet1)
        csig2 = np.sqrt(np.maximum(csig1 * csig1 + k_c2, 0.0))
        calp2 = csig2 / cbet2
        ssig2n = sbet2 * rc
        csig2n = csig2 * rc
        k2 = self.ep2 * (calp0 * calp0)
        seps = np.sqrt(1.0 + k2)
        eps = k2 / ((seps + 1.0) * (seps + 1.0))
        sig12 = np.arctan2(
            np.maximum(csig1 * sbet2 - sbet1 * csig2, 0.0),
            csig1 * csig2 + sbet1 * sbet2)
        c1 = self._C1f(eps)
        s12 = (1.0 + _A1m1(eps)) * (sig12
                                    + _sin_series_diff(
                                        c1, ssig2n, csig2n,
                                        ssig1n, csig1n)) * self.b
        internals = (eps, k2, ssig1n, csig1n, ssig2n, csig2n, sig12)
        return s12, salp2, calp2, internals

    def inverse(self, lon1, lat1, lon2, lat2, n_bisect: int = 52,
                want_scale: bool = False, want_area: bool = False):
        """All radians. Returns (s12 metres, azi1, azi2); with
        ``want_scale`` returns (s12, azi1, azi2, m12, M12); with
        ``want_area`` appends the signed area S12 (m^2) between the
        geodesic and the equator (reference geod_geninverse GEOD_AREA)."""
        from .core import chunk_apply
        if all(np.ndim(a) == 1 and np.shape(a) == np.shape(lon1)
               for a in (lon1, lat1, lon2, lat2)) \
                and np.shape(lon1)[0] > 32768:
            # cache-sized slices: the solver keeps ~15 live f64 temporaries;
            # 32k rows is ~4 MB — L2+L3-resident — where the memory-bound
            # elementwise chains run far faster than at 128k (interleaved
            # A/B sweep on the post-lane-compression solver: 8k 0.83x,
            # 16k 1.00x, 32k 1.08x median over 8 paired rounds (noisy
            # host: per-pair 0.82-1.25x), 64k 0.88x, 128k ~0.8x — 32k
            # also halves the per-chunk dispatch the compressed
            # Newton-tail iterations pay vs the old 16k choice)
            return chunk_apply(
                lambda a, b, c, d: self._inverse_impl(a, b, c, d, n_bisect,
                                                      want_scale, want_area),
                (lon1, lat1, lon2, lat2), chunk=32768)
        return self._inverse_impl(lon1, lat1, lon2, lat2, n_bisect,
                                  want_scale, want_area)

    def _area_s12(self, sbet1, cbet1, sbet2, cbet2, salp1, calp1,
                  salp2, calp2):
        """Signed quadrilateral area S12 for the CANONICAL arrangement
        (reference geodesic.c geod_geninverse_int:958-1014): the C4-series
        integral A4 (B42 - B41) plus the spherical-excess term c2*alp12
        via the tan(Gamma/2) formula for well-conditioned pairs."""
        salp0 = salp1 * cbet1
        t = salp1 * sbet1
        calp0 = np.sqrt(calp1 * calp1 + t * t)
        ssig1, csig1 = sbet1, calp1 * cbet1
        ssig2, csig2 = sbet2, calp2 * cbet2
        nrm1 = np.sqrt(ssig1 * ssig1 + csig1 * csig1)
        nrm2 = np.sqrt(ssig2 * ssig2 + csig2 * csig2)
        with np.errstate(invalid="ignore", divide="ignore"):
            ssig1n, csig1n = ssig1 / nrm1, csig1 / nrm1
            ssig2n, csig2n = ssig2 / nrm2, csig2 / nrm2
            k2 = calp0 * calp0 * self.ep2
            eps = k2 / (2.0 * (1.0 + np.sqrt(1.0 + k2)) + k2)
            A4 = self.a * self.a * calp0 * salp0 * self.e2
            c4a = self._C4(eps)
            B41 = _cos_series(c4a, ssig1n, csig1n)
            B42 = _cos_series(c4a, ssig2n, csig2n)
            S12 = np.where((calp0 != 0.0) & (salp0 != 0.0),
                           A4 * (B42 - B41), 0.0)
            # spherical excess alp12: tan(Gamma/2) formula when the
            # longitude/latitude differences are small enough
            # (geodesic.c:987-1005), else directly from the azimuths
            somg1, comg1 = salp0 * sbet1, csig1
            somg2, comg2 = salp0 * sbet2, csig2
            somg12u = comg1 * somg2 - somg1 * comg2
            comg12u = comg1 * comg2 + somg1 * somg2
            h = np.sqrt(somg12u * somg12u + comg12u * comg12u)
            ok = h > 0
            somg12 = np.where(ok, somg12u / np.where(ok, h, 1.0), 0.0)
            comg12 = np.where(ok, comg12u / np.where(ok, h, 1.0), 1.0)
            domg12 = 1.0 + comg12
            dbet1, dbet2 = 1.0 + cbet1, 1.0 + cbet2
            alp12_g = 2.0 * np.arctan2(
                somg12 * (sbet1 * dbet2 + sbet2 * dbet1),
                domg12 * (sbet1 * sbet2 + dbet1 * dbet2))
            salp12 = salp2 * calp1 - calp2 * salp1
            calp12 = calp2 * calp1 + salp2 * salp1
            fix = (salp12 == 0.0) & (calp12 < 0.0)
            salp12 = np.where(fix, 1e-150 * calp1, salp12)
            calp12 = np.where(fix, -1.0, calp12)
            alp12_d = np.arctan2(salp12, calp12)
            use_g = (salp0 != 0.0) & (comg12 > -0.7071) \
                & ((sbet2 - sbet1) < 1.75)
            alp12 = np.where(use_g, alp12_g, alp12_d)
        return S12 + self.c2 * alp12

    def _inverse_impl(self, lon1, lat1, lon2, lat2, n_bisect: int = 52,
                      want_scale: bool = False, want_area: bool = False):
        # ONE errstate save/restore for the whole solve: the body and its
        # helpers (_lambda12/_lambda12d/_final_state/_area_s12, only called
        # from here) divide by guarded-but-possibly-zero quantities in a
        # dozen places; entering np.errstate per call site costed ~4% of
        # the inverse kernel (4,600 seterr calls per 2M points)
        old_err = np.seterr(invalid="ignore", divide="ignore")
        try:
            return self._inverse_body(lon1, lat1, lon2, lat2, n_bisect,
                                      want_scale, want_area)
        finally:
            np.seterr(**old_err)

    def _start_gxgy(self, sbet1, cbet1, sbet2, cbet2, lam):
        """f64 starting-azimuth vector (gy, gx): Karney 2013 §5 spherical
        start with the longitude compressed by f1*dnm for short lines
        (start error O(f^2) instead of O(f)) plus the first-order domg
        correction for non-short lines (Karney eq. 6 with the series tail
        dropped: domg = f sin(alp0) A3 sig12, relative error O(eps) on an
        O(f) term). Scalar A3 at the mid-range eps: A3 varies by O(eps),
        so the domg term moves by O(f*eps) ~ 5e-6 rad — the same order as
        the O(f^2) start error this correction already carries. Fallback
        path for rows whose f32 fast-path evaluation (see _inverse_body)
        is cancellation-degenerate."""
        sbet12 = sbet2 * cbet1 - cbet2 * sbet1
        cbet12 = cbet2 * cbet1 + sbet2 * sbet1
        shortline = (cbet12 >= 0.0) & (sbet12 < 0.5) & (cbet2 * lam < 0.5)
        sbsum = sbet1 + sbet2
        cbsum = cbet1 + cbet2
        sbetm2 = sbsum * sbsum / (sbsum * sbsum + cbsum * cbsum)
        dnm = np.sqrt(1.0 + self.ep2 * sbetm2)
        omg12s = lam + (lam / (self.f1 * dnm) - lam) * shortline
        somg12, comg12 = np.sin(omg12s), np.cos(omg12s)
        csig12g = sbet1 * sbet2 + cbet1 * cbet2 * comg12
        ssig12g = np.sqrt(np.maximum(1.0 - csig12g * csig12g, 1e-24))
        salp0g = np.minimum(np.maximum(
            cbet1 * cbet2 * somg12 / ssig12g, -1.0), 1.0)
        domg = (self.f * salp0g * self._a3g
                * np.arctan2(ssig12g, csig12g)) * (1.0 - shortline)
        # rotate (somg12, comg12) by the small domg via its Maclaurin
        # sin/cos (|domg| <= f*pi ~ 0.01: error < 1e-15)
        d2 = domg * domg
        sd = domg * (1.0 - d2 * (1.0 / 6.0 - d2 / 120.0))
        cd = 1.0 - d2 * (0.5 - d2 / 24.0)
        somg12, comg12 = (somg12 * cd + comg12 * sd,
                          comg12 * cd - somg12 * sd)
        gy = cbet2 * somg12
        gx = np.where(comg12 >= 0.0,
                      sbet12 + cbet2 * sbet1 * somg12 * somg12
                      / (1.0 + comg12),
                      (sbet2 * cbet1 + cbet2 * sbet1)
                      - cbet2 * sbet1 * somg12 * somg12
                      / (1.0 - comg12))
        return gy, gx

    def _inverse_body(self, lon1, lat1, lon2, lat2, n_bisect: int = 52,
                      want_scale: bool = False, want_area: bool = False):
        scalar_in = np.ndim(lon1) == 0 and np.ndim(lat1) == 0 \
            and np.ndim(lon2) == 0 and np.ndim(lat2) == 0
        lon1 = np.atleast_1d(np.asarray(lon1, dtype=np.float64))
        lat1 = np.atleast_1d(np.asarray(lat1, dtype=np.float64))
        lon2 = np.atleast_1d(np.asarray(lon2, dtype=np.float64))
        lat2 = np.atleast_1d(np.asarray(lat2, dtype=np.float64))

        lam12_t = adjlon(lon2 - lon1)
        # canonical arrangement: swap points so |phi1| >= |phi2|, make
        # phi1 <= 0, lam12 in [0, pi]; record flips to undo at the end.
        # Selections are arithmetic blends (a + (b-a)*cond) instead of
        # np.where — ~6x cheaper per op in numpy, and equivalent here:
        # sign flips are exact +-1 multiplies, and a NaN in either lat
        # poisons the whole row through the blend exactly as it did
        # through the selection (all outputs NaN either way)
        dla = lat2 - lat1
        swapp = np.abs(lat1) < np.abs(lat2)
        la1 = lat1 + dla * swapp
        la2 = lat2 - dla * swapp
        lam = lam12_t * (1.0 - 2.0 * swapp)
        latsign = 1.0 - 2.0 * (la1 > 0)
        la1 = la1 * latsign
        la2 = la2 * latsign
        lonsign = 1.0 - 2.0 * (lam < 0)
        lam = lam * lonsign

        # cos(la) via the Sterbenz-exact identity sqrt((1-s)(1+s)) — |la|
        # <= pi/2 so cos >= 0, and (1-s) is EXACT for s in [0.5, 1]
        # (Sterbenz), leaving ~1.5 ulp relative error in c from the
        # rounding of (1+s) and the sqrt. That replaces a ~15 ns/elem f64
        # cos with three ~0.5 ns passes. The identity's real error term is
        # inherited from sin's half-ulp: abs error in c is ~eps*|s|^2/c,
        # i.e. rel_err(c) ~ eps*(s/c)^2 — equivalent to an input-latitude
        # wobble of rel_err(c) * (c/s) = eps*|s/c| rad.
        # Gate: rows with s^2 > 0.999 (|la| > 88.2 deg, c < 0.031) take
        # the exact np.cos on their (rare) subset, bounding the
        # equivalent perturbation at <= 3e-15 rad — inside the 1.7e-14
        # rad (1e-12 deg) gie budget with margin. NaN rows fail the gate
        # comparison and poison through the identity exactly as through
        # np.cos.
        s1 = np.sin(la1)
        cbet1 = np.sqrt((1.0 - s1) * (1.0 + s1))
        nearpole = s1 * s1 > 0.999
        if nearpole.any():
            cbet1[nearpole] = np.cos(la1[nearpole])
        sbet1 = self.f1 * s1
        rn = 1.0 / np.sqrt(sbet1 * sbet1 + cbet1 * cbet1)
        sbet1, cbet1 = sbet1 * rn, cbet1 * rn
        cbet1 = np.maximum(cbet1, 1e-15)
        s2 = np.sin(la2)
        cbet2 = np.sqrt((1.0 - s2) * (1.0 + s2))
        nearpole = s2 * s2 > 0.999
        if nearpole.any():
            cbet2[nearpole] = np.cos(la2[nearpole])
        sbet2 = self.f1 * s2
        rn = 1.0 / np.sqrt(sbet2 * sbet2 + cbet2 * cbet2)
        sbet2, cbet2 = sbet2 * rn, cbet2 * rn
        cbet2 = np.maximum(cbet2, 1e-15)
        # snap sub-1e-12-rad latitudes to the equator: the sigma
        # parameterization degenerates under fp cancellation for
        # beta ~ 1e-16 near alpha1 = pi/2 (position error of the snap
        # <= 6 um, far inside every tolerance); enables the exact
        # equatorial shortcut for equator-to-equator pairs
        sbet1 = sbet1 * (np.abs(sbet1) >= 1e-12)  # exact 0/1 blend
        sbet2 = sbet2 * (np.abs(sbet2) >= 1e-12)
        # the coincident / |bet2|<=|bet1| / equatorial guards all require
        # an exact-zero or exact-equality trigger that random inputs never
        # hit — compute each one's cheap trigger first and skip the rest
        # of its mask arithmetic when no row fires
        eq_lam = lam == 0.0
        if eq_lam.any():
            coincident = (sbet1 == sbet2) & (cbet1 == cbet2) & eq_lam
        else:
            coincident = eq_lam
        # enforce |bet2| <= |bet1| exactly (roundoff guard)
        snap2 = np.abs(sbet2) > np.abs(sbet1) * (1 - 1e-15)
        if snap2.any():
            sbet2 = sbet2 + (np.sign(sbet2 + 0.0) * np.abs(sbet1)
                             - sbet2) * snap2

        # equatorial shortcut: both on equator and lam12 <= (1-f)*pi
        eq1 = sbet1 == 0
        if eq1.any():
            equatorial = eq1 & (sbet2 == 0) & (lam <= self.f1 * np.pi)
        else:
            equatorial = eq1

        # root-find on alpha1 in (0, pi): lam12(alpha1) is monotonic
        # increasing in the canonical arrangement, so a bracket [lo, hi]
        # always holds the root. Newton with the reduced-length derivative
        # (Karney 2013 eq. 46, fused into _lambda12d) converges in ~3-5 evaluations from
        # the spherical starting azimuth; a step that leaves the bracket
        # falls back to the midpoint, so worst case (nearly-antipodal rows
        # with a poor spherical guess) degrades to plain bisection. The
        # active set is compressed to the unconverged tail as rows finish.
        lo = 1e-12
        hi = np.pi - 1e-12
        n_pts = lam.shape[0] if lam.ndim else 1
        # starting azimuth (Karney 2013 §5 / geodesic.c InverseStart
        # non-antipodal branch, with the O(f^2) domg correction — see
        # _start_gxgy) evaluated in FLOAT32: the guess only steers Newton
        # (its error budget is the O(f^2) ~ 1e-5 rad start error; commits
        # are certified by the error model at full precision), and numpy's
        # SIMD f32 sin/cos/arctan2 run ~10x the f64 loops on this stack
        # (measured 0.6 vs 6 ns/elem), halving memory traffic besides.
        # f32 roundoff through the ~15-op chain is ~1e-6 absolute on the
        # O(1) vector (gy, gx); rows where |g| < 0.03 (angle noise above
        # ~3e-5 rad: nearly-antipodal or cancellation-degenerate short
        # lines, ~0.1% of random pairs) fall back to the exact f64 chain
        # on their compressed subset.
        f32 = np.float32
        sb1s = sbet1.astype(f32)
        cb1s = cbet1.astype(f32)
        sb2s = sbet2.astype(f32)
        cb2s = cbet2.astype(f32)
        lams = lam.astype(f32)
        sbet12s = sb2s * cb1s - cb2s * sb1s
        cbet12s = cb2s * cb1s + sb2s * sb1s
        shortline = (cbet12s >= 0.0) & (sbet12s < 0.5) & (cb2s * lams < 0.5)
        sbsum = sb1s + sb2s
        cbsum = cb1s + cb2s
        sbetm2 = sbsum * sbsum / (sbsum * sbsum + cbsum * cbsum)
        dnm = np.sqrt(1.0 + f32(self.ep2) * sbetm2)
        omg12s = lams + (lams / (f32(self.f1) * dnm) - lams) * shortline
        somg12, comg12 = np.sin(omg12s), np.cos(omg12s)
        csig12g = sb1s * sb2s + cb1s * cb2s * comg12
        ssig12g = np.sqrt(np.maximum(1.0 - csig12g * csig12g, f32(1e-12)))
        salp0g = np.minimum(np.maximum(
            cb1s * cb2s * somg12 / ssig12g, -1.0), 1.0)
        notshort = np.subtract(1.0, shortline, dtype=np.float32)
        domg = (f32(self.f * self._a3g) * salp0g
                * np.arctan2(ssig12g, csig12g)) * notshort
        d2 = domg * domg
        sd = domg * (1.0 - d2 * (1.0 / 6.0))
        cd = 1.0 - d2 * 0.5
        somg12, comg12 = (somg12 * cd + comg12 * sd,
                          comg12 * cd - somg12 * sd)
        t1s = cb2s * sb1s * somg12 * somg12
        gy32 = cb2s * somg12
        gx32 = np.where(comg12 >= 0.0,
                        sbet12s + t1s / (1.0 + comg12),
                        (sb2s * cb1s + cb2s * sb1s) - t1s / (1.0 - comg12))
        gy = gy32.astype(np.float64)
        gx = gx32.astype(np.float64)
        g2 = gx * gx + gy * gy
        weak = ~(g2 > 9e-4)  # ~ catches NaN rows too
        if weak.any():
            wy, wx = self._start_gxgy(sbet1[weak], cbet1[weak],
                                      sbet2[weak], cbet2[weak], lam[weak])
            gy[weak] = wy
            gx[weak] = wx
            g2[weak] = wx * wx + wy * wy
        guess = np.arctan2(gy, gx)
        alp1 = np.minimum(np.maximum(guess, lo), hi)
        idx = np.arange(n_pts)
        a_lo, a_hi = lo, hi
        a_sb1, a_cb1, a_sb2, a_cb2, a_lam = sbet1, cbet1, sbet2, cbet2, lam
        # iteration-invariant part of calp2sq (see _lambda12d): computed
        # once here instead of inside every lambda evaluation
        cbk = (sbet1 - sbet2) * (sbet1 + sbet2)
        k_c2 = cbk + ((cbet2 - cbet1) * (cbet1 + cbet2) - cbk) \
            * (cbet1 < -sbet1)
        a_kc2 = k_c2
        cand = alp1.copy()
        # sin/cos of the trial azimuth are MAINTAINED by small-angle
        # rotation instead of re-evaluated — after the initial pair, no
        # sin/cos calls in the Newton loop (np.sin is the most expensive
        # ufunc on this stack at ~10 ns/elem). 2-term Maclaurin rotation
        # error is delta^5/120 (< 1e-25 for the |delta| <= 0.01 steps it
        # is applied to); larger steps (bracket midpoints) re-evaluate
        # exactly on their small subset. The INITIAL pair comes from the
        # arctan2 operands themselves (sin = y/r, cos = x/r — one sqrt +
        # two divisions instead of two ~12 ns/elem transcendentals,
        # within 1 ulp of sin/cos(arctan2(y, x)), and start wobble only
        # shifts the iteration path: commits are gated by the error
        # model); rows the [lo, hi] clamp moved re-evaluate exactly.
        gr = np.sqrt(g2)
        scand, ccand = gy / gr, gx / gr
        clipped = (guess != alp1) | ~(gr > 0.0)
        if clipped.any():
            scand[clipped] = np.sin(cand[clipped])
            ccand[clipped] = np.cos(cand[clipped])
        salp1 = scand.copy()   # committed sin/cos(alpha1) per row
        calp1 = ccand.copy()
        # Root-finder (restructured r4 for throughput — same bracketed
        # semantics): ONE fused _lambda12d evaluation at the start, then SECANT
        # derivatives d_sec = (f_k - f_{k-1}) / (alp_k - alp_{k-1}) —
        # free, and accurate to relative (|dalp|/2)(lam''/d). Commits are
        # gated on an explicit error model instead of a flat |f| < 1e-9:
        # committed-azimuth error ~ (|f|/d) * (derivative relative error),
        # so a row commits its Newton/secant step only when
        #   |f| * err_rel < TOL_ALP * d        (TOL_ALP = 1.7e-14 rad,
        # i.e. 1e-12 deg — the gie vector tolerance) where err_rel is
        # 4e-6/d for the truncated-series derivative (measured max
        # absolute truncation error of the fused fast derivative) and 2|dalp|/d for the
        # secant (lam'' <= ~4 folded in). The iteration series are the
        # truncated fast variants (lam12 bias < 2e-15 rad); the converged
        # state is re-evaluated with full-order series in _final_state.
        TOL_ALP = 1.7e-14
        newton_iters = min(n_bisect, 10)
        f_prev = None
        a_prev = None
        d0 = None
        fin = None     # committed-but-not-yet-compressed active rows
        n_fin = 0
        compressed = False   # active set still the identity mapping
        for it in range(newton_iters):
            if idx.size == 0:
                break
            if it == 0:
                # FUSED evaluation: lam12 and the truncated-series Newton
                # derivative in one pass (shared normalizations/eps and a
                # joint two-coefficient Clenshaw — the r4 separate
                # _lambda12 + _dlam12 pair swept the same endpoint arrays
                # twice). 1e-5 bounds the measured max ABSOLUTE
                # truncation error of the fast derivative series
                # (8.7e-6 over 2e5 random states).
                l12, d = self._lambda12d(a_sb1, a_cb1, a_sb2, a_cb2,
                                         scand, ccand, k_c2=a_kc2)
            else:
                l12 = self._lambda12(a_sb1, a_cb1, a_sb2, a_cb2,
                                     scand, ccand, want_s12=False,
                                     fast=True, want_alp2=False,
                                     k_c2=a_kc2)[0]
            f_c = l12 - a_lam
            af = np.abs(f_c)
            neg = f_c < 0
            # bracket updates as blends (np.where costs ~3x): neg rows
            # move lo to cand, others move hi to cand
            a_lo = a_lo + (cand - a_lo) * neg
            a_hi = cand + (a_hi - cand) * neg
            if it == 0:
                err_num = 1e-5
            else:
                # secant derivative from the previous evaluation;
                # where degenerate (sign-invalid / zero step), reuse
                # the carried iter-0 Newton derivative. Its absolute
                # error is |dalp| lam''/2 — estimate lam'' from the
                # CHANGE in derivative estimates (curvature-aware:
                # near-antipodal rows have lam'' >> 1 and must not
                # commit on a stale slope), plus the fp noise of the
                # f difference (~2e-15/|dalp|).
                dalp = cand - a_prev
                d_sec = (f_c - f_prev) / dalp
                use_sec = np.isfinite(d_sec) & (d_sec > 0)
                d = d0 + (d_sec - d0) * use_sec
                err_num = (3.0 * np.abs(d - d_last)
                           + 4e-15 / np.abs(dalp)) * use_sec \
                    + 1e-5 * (1.0 - use_sec)
            nxt = cand - f_c / d
            # NaN/inf nxt or d fail every comparison, so the inverted
            # conjunction catches them without an explicit isfinite pass
            bad = ~((nxt > a_lo) & (nxt < a_hi) & (d > 0))
            if bad.any():
                nxt = np.where(bad, 0.5 * (a_lo + a_hi), nxt)
            # commits: (a) error-model polish — the committed step's
            # azimuth error (|f|/d)*err_rel is inside the 1e-12 deg
            # tolerance (the reference's tripn/tripb early exit,
            # geodesic.c:1188-1202, with an explicit bound instead of a
            # flat threshold); (b) residual at the fast-series floor;
            # (c) bracket exhausted.
            # d >= 0.1 keeps the fast-series lam12 bias (< 2e-15 rad)
            # from shifting the committed root by more than 2e-14 rad;
            # smaller-derivative rows (0.14% of random pairs) keep
            # iterating to the residual floor / bisection tail instead.
            # Skipped entirely at it 0: the polish gate needs af < 1e-8,
            # which the O(f^2) starting guess essentially never satisfies
            # — dropping the ~13 full-width commit-test passes on the
            # first (always full-size) iteration is a measured ~3% win;
            # any row that would have qualified simply commits at it 1.
            # This also defers the af < 5e-15 and bracket-width exits:
            # a row already converged at the starting guess (e.g. a short
            # line) takes one extra Newton step and commits the it-1
            # candidate instead of the it-0 one — harmless (the extra
            # step moves the angle by at most the step size, which the
            # af floor bounds at ~5e-15/d rad), but a behavior change vs
            # committing at it 0, not just a cost optimization.
            if it > 0:
                polish = (af * err_num < TOL_ALP * d * d) & ~bad \
                    & (af < 1e-8) & (d >= 0.1)
                done = polish | (af < 5e-15) | ((a_hi - a_lo) < 1e-15)
                if fin is not None:
                    done &= ~fin
                ncommit = int(np.count_nonzero(done))
                if ncommit:
                    if not compressed:
                        # pre-compress the active set IS the full problem
                        # (idx is the identity): commit via full-width
                        # blends — ~93% of rows land here at it 1, where
                        # boolean gathers + integer scatters cost ~3x the
                        # blend muls. Committed rows take one extra
                        # rounding (salp1 + (rs - salp1) vs assigning rs;
                        # <= 1 ulp — same class as the bracket blends);
                        # uncommitted rows add exact 0.0.
                        delta_c = (nxt - cand) * polish
                        d2r_ = delta_c * delta_c
                        sd = delta_c * (1.0 - d2r_ * (1.0 / 6.0))
                        cd = 1.0 - d2r_ * 0.5
                        rs = scand * cd + ccand * sd
                        rco = ccand * cd - scand * sd
                        salp1 = salp1 + (rs - salp1) * done
                        calp1 = calp1 + (rco - calp1) * done
                    else:
                        ii = idx[done]
                        pol = polish[done]
                        # rotate maintained sin/cos to the committed angle
                        delta_c = np.where(pol, nxt[done] - cand[done], 0.0)
                        d2r_ = delta_c * delta_c
                        sd = delta_c * (1.0 - d2r_ * (1.0 / 6.0))
                        cd = 1.0 - d2r_ * 0.5
                        salp1[ii] = scand[done] * cd + ccand[done] * sd
                        calp1[ii] = ccand[done] * cd - scand[done] * sd
                    fin = done if fin is None else (fin | done)
                    n_fin += ncommit
            f_prev = f_c
            a_prev = cand
            if it == 0:
                d0 = d
            d_last = d
            delta = nxt - cand
            cand = nxt
            if n_fin == idx.size:
                idx = idx[:0]
                break
            # compress the active set only when a meaningful fraction has
            # finished — per-iteration fancy-indexing of a dozen arrays
            # for a handful of committed rows costs more than letting the
            # finished rows ride along one more evaluation
            if fin is not None and n_fin * 4 > idx.size:
                # ONE nonzero scan, then integer gathers (O(survivors)
                # each) — boolean indexing re-scans the full mask for
                # every one of the 16 arrays
                keep = np.nonzero(~fin)[0]
                idx = idx[keep]
                a_lo, a_hi = a_lo[keep], a_hi[keep]
                a_sb1, a_cb1 = a_sb1[keep], a_cb1[keep]
                a_sb2, a_cb2 = a_sb2[keep], a_cb2[keep]
                a_lam = a_lam[keep]
                a_kc2 = a_kc2[keep]
                f_prev = f_prev[keep]
                a_prev = a_prev[keep]
                d0 = d0[keep]
                d_last = d_last[keep]
                scand, ccand = scand[keep], ccand[keep]
                delta = delta[keep]
                cand = cand[keep]
                fin = None
                n_fin = 0
                compressed = True
            # advance the maintained sin/cos by the step taken
            d2r_ = delta * delta
            sd = delta * (1.0 - d2r_ * (1.0 / 6.0) * (1.0 - d2r_ / 20.0))
            cd = 1.0 - d2r_ * 0.5 * (1.0 - d2r_ / 12.0)
            scand, ccand = (scand * cd + ccand * sd,
                            ccand * cd - scand * sd)
            big = np.abs(delta) > 0.01
            if big.any():
                scand[big] = np.sin(cand[big])
                ccand[big] = np.cos(cand[big])
        if fin is not None and idx.size:
            # sweep lingering finished rows before the bisection tail
            keep = np.nonzero(~fin)[0]
            idx = idx[keep]
            a_lo, a_hi = a_lo[keep], a_hi[keep]
            a_sb1, a_cb1 = a_sb1[keep], a_cb1[keep]
            a_sb2, a_cb2 = a_sb2[keep], a_cb2[keep]
            a_lam = a_lam[keep]
            a_kc2 = a_kc2[keep]
        if idx.size:
            # nearly-antipodal tail (a handful of rows): Newton gained no
            # traction within 10 iterations, so finish with plain
            # bisection — ~1/3 the numpy ops per iteration, and the tail
            # is tiny so each iteration is dispatch-overhead anyway
            for it in range(newton_iters, n_bisect):
                cand = 0.5 * (a_lo + a_hi)
                l12 = self._lambda12(a_sb1, a_cb1, a_sb2, a_cb2,
                                     np.sin(cand), np.cos(cand),
                                     want_s12=False, want_alp2=False,
                                     k_c2=a_kc2)[0]
                neg = (l12 - a_lam) < 0
                a_lo = np.where(neg, cand, a_lo)
                a_hi = np.where(neg, a_hi, cand)
                if np.max(a_hi - a_lo) < 1e-15:
                    break
            mid = 0.5 * (a_lo + a_hi)
            salp1[idx] = np.sin(mid)
            calp1[idx] = np.cos(mid)
        s12, salp2, calp2, internals = self._final_state(
            sbet1, cbet1, sbet2, cbet2, salp1, calp1, k_c2=k_c2)

        # meridian special case (reference geodesic.c:834-899): endpoints
        # on one full meridian (lam ~ 0 or ~ pi, or starting at the pole).
        # The general solver's open alpha1 bracket cannot reach the exact
        # 0/pi azimuth, leaving ~1e-12 rad of azimuth noise that the area
        # term c2*alp12 amplifies to ~100 m^2. Solve along the meridian
        # directly; reject (keep the general solution) when the meridian
        # path is past the conjugate point (m12 < 0 and sig12 >= 1),
        # mirroring the reference's acceptance test.
        mcand = (lam < 1e-12) | (lam > np.pi - 1e-12) \
            | (sbet1 <= -1.0 + 1e-15)
        if mcand.any():
            slamm = np.sin(lam)
            clamm = np.cos(lam)
            sa1, ca1 = slamm, clamm
            sa2, ca2 = np.zeros_like(lam), np.ones_like(lam)
            ms1, mc1 = sbet1, ca1 * cbet1
            ms2, mc2 = sbet2, cbet2
            n1 = np.sqrt(ms1 * ms1 + mc1 * mc1)
            n2 = np.sqrt(ms2 * ms2 + mc2 * mc2)
            with np.errstate(invalid="ignore", divide="ignore"):
                ms1n, mc1n = ms1 / n1, mc1 / n1
                ms2n, mc2n = ms2 / n2, mc2 / n2
                sigm = np.arctan2(
                    np.maximum(mc1n * ms2n - ms1n * mc2n, 0.0),
                    mc1n * mc2n + ms1n * ms2n)
                calp0m = np.sqrt(ca1 * ca1 + (sa1 * sbet1) ** 2)
                epsm, k2m = self._eps(calp0m * calp0m)
                c1m = self._C1f(epsm)
                s12m = (1.0 + _A1m1(epsm)) * (
                    sigm + (_sin_series(c1m, ms2n, mc2n)
                            - _sin_series(c1m, ms1n, mc1n))) * self.b
                # reduced length for the acceptance test
                dn1m = np.sqrt(1.0 + k2m * ms1n * ms1n)
                dn2m = np.sqrt(1.0 + k2m * ms2n * ms2n)
                m12m, _, _ = self._length_scale(epsm, k2m, ms1n, mc1n, dn1m,
                                                ms2n, mc2n, dn2m, 0.0, sigm)
            accept = mcand & ((sigm < 1.0) | (m12m >= 0.0))
            if accept.any():
                s12 = np.where(accept, s12m, s12)
                salp1 = np.where(accept, sa1, salp1)
                calp1 = np.where(accept, ca1, calp1)
                salp2 = np.where(accept, sa2, salp2)
                calp2 = np.where(accept, ca2, calp2)
        m12 = M12 = None
        if want_scale:
            eps, k2, ssig1, csig1, ssig2, csig2, sig12i = internals
            dn1 = np.sqrt(1.0 + k2 * ssig1 * ssig1)
            dn2 = np.sqrt(1.0 + k2 * ssig2 * ssig2)
            m12, M12s, M21s = self._length_scale(eps, k2, ssig1, csig1, dn1,
                                                 ssig2, csig2, dn2, 0.0,
                                                 sig12i)
            # reduced length is symmetric under endpoint exchange; the
            # geodesic scale is not: when canonicalization swapped the
            # endpoints, the scale at the true point 2 is M21 of the solved
            # (swapped) problem. Reflections (latsign/lonsign) leave both
            # invariant.
            M12 = np.where(swapp, M21s, M12s)

        # coincident points: exactly zero (rare — gate the fixup)
        if coincident.any():
            s12 = np.where(coincident, 0.0, s12)
        # equatorial exact value (rare — gate the fixups)
        if equatorial.any():
            s12 = np.where(equatorial, self.a * lam, s12)
            salp1 = np.where(equatorial, 1.0, salp1)
            calp1 = np.where(equatorial, 0.0, calp1)
            salp2 = np.where(equatorial, 1.0, salp2)
            calp2 = np.where(equatorial, 0.0, calp2)
            if want_scale:
                # along the equator alpha0 = 90 deg -> k2 = 0, s = b sig:
                # m12 = b sin(sig12), M12 = cos(sig12) exactly (the
                # general iteration is azimuth-degenerate here and its
                # internals-based scale is bistable)
                sig_eq = self.a * lam / self.b
                m12 = np.where(equatorial, self.b * np.sin(sig_eq), m12)
                M12 = np.where(equatorial, np.cos(sig_eq), M12)

        # undo canonicalization: swap exchanges the azimuth pair and reverses
        # the line (negate sin AND cos = +180 deg); lonsign flips sin,
        # latsign flips cos. Blends instead of np.where: non-swapped rows
        # take a + 0.0 (exact) and the sign flips are exact +-1 multiplies;
        # swapped rows' blended sin/cos carry <= 1 ulp of wobble into
        # arctan2 — within the output tolerance, not bit-identical to
        # selecting the taken branch (same 1-ulp class as the bracket
        # blends in the Newton loop, which accrue ~1 ulp per iteration).
        sw = 1.0 - 2.0 * swapp
        if want_area:
            S12 = self._area_s12(sbet1, cbet1, sbet2, cbet2,
                                 salp1, calp1, salp2, calp2)
            # restore the canonicalization signs, then normalize -0 to 0
            S12 = S12 * (sw * lonsign * latsign) + 0.0
            S12 = np.where(coincident, 0.0, S12)
        d1 = salp2 - salp1
        d2 = calp2 - calp1
        salp1u = (salp1 + d1 * swapp) * sw * lonsign
        calp1u = (calp1 + d2 * swapp) * sw * latsign
        salp2u = (salp2 - d1 * swapp) * sw * lonsign
        calp2u = (calp2 - d2 * swapp) * sw * latsign
        azi1 = np.arctan2(salp1u, calp1u)
        azi2 = np.arctan2(salp2u, calp2u)
        if scalar_in:
            s12, azi1, azi2 = s12[0], azi1[0], azi2[0]
            if want_scale:
                m12, M12 = m12[0], M12[0]
            if want_area:
                S12 = S12[0]
        out = [s12, azi1, azi2]
        if want_scale:
            out += [m12, M12]
        if want_area:
            out.append(S12)
        return tuple(out) if len(out) > 3 else (s12, azi1, azi2)


_SOLVERS: dict = {}


def solver(ell: Ellipsoid) -> GeodSolver:
    key = (ell.a, ell.b)
    if key not in _SOLVERS:
        _SOLVERS[key] = GeodSolver(ell)
    return _SOLVERS[key]


def geod_inverse(ell, lon1, lat1, lon2, lat2):
    return solver(ell).inverse(lon1, lat1, lon2, lat2)


def geod_direct(ell, lon1, lat1, azi1, s12):
    return solver(ell).direct(lon1, lat1, azi1, s12)


def geod_dist_m(ell, lon1, lat1, lon2, lat2):
    """Exact metric distance (the reference's proj_lp_dist semantics,
    src/4D_api.cpp:137-143: geodesic inverse s12)."""
    return solver(ell).inverse(lon1, lat1, lon2, lat2)[0]
