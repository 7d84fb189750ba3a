"""Shared ellipsoid constants and scalar-math helpers, vectorized over numpy.

This is the engine's equivalent of PROJ's shared math library
(reference: src/aasincos.cpp, src/adjlon.cpp, src/phi2.cpp, src/tsfn.cpp,
src/msfn.cpp, src/qsfn.cpp, src/ellps.cpp, src/datums.cpp). Everything here is
pure numpy float64, no Spark imports — unit-testable in isolation and reused by
every projection kernel. NaN is the in-band poison value (the reference uses
HUGE_VAL, src/fwd.cpp:41-44); NaN propagates through numpy for free.
"""

from __future__ import annotations

import numpy as np


TWO_PI = 2.0 * np.pi
HALF_PI = 0.5 * np.pi
FORT_PI = 0.25 * np.pi
DEG_TO_RAD = np.pi / 180.0
RAD_TO_DEG = 180.0 / np.pi
# reference src/proj_internal.h: PJ_EPS_LAT ~ 1e-12 slack on |phi| <= pi/2
EPS_LAT = 1e-12

# --------------------------------------------------------------------------
# Ellipsoids (subset of reference src/ellps.cpp; (a, rf) or (a, b))
# --------------------------------------------------------------------------
_ELLPS_TABLE = {
    # name: (a_metres, rf) ; rf = 0 means sphere
    "GRS80": (6378137.0, 298.257222101),
    "WGS84": (6378137.0, 298.257223563),
    "WGS72": (6378135.0, 298.26),
    "WGS66": (6378145.0, 298.25),
    "WGS60": (6378165.0, 298.3),
    "intl": (6378388.0, 297.0),
    "bessel": (6377397.155, 299.1528128),
    "clrk66": (6378206.4, 0.0, 6356583.8),      # (a, -, b)
    "clrk80": (6378249.145, 293.4663),
    "clrk80ign": (6378249.2, 293.4660212936269),
    "airy": (6377563.396, 0.0, 6356256.910),
    "mod_airy": (6377340.189, 0.0, 6356034.446),
    "evrst30": (6377276.345, 300.8017),
    "krass": (6378245.0, 298.3),
    "aust_SA": (6378160.0, 298.25),
    "GRS67": (6378160.0, 298.2471674270),
    "helmert": (6378200.0, 298.3),
    "sphere": (6370997.0, 0.0, 6370997.0),
}

# reference src/datums.cpp:44-92 (towgs84 3/7-param entries we support)
DATUM_TABLE = {
    "WGS84": ("WGS84", (0, 0, 0)),
    "GGRS87": ("GRS80", (-199.87, 74.79, 246.62)),
    "NAD83": ("GRS80", (0, 0, 0)),
    # reference datums.cpp:50-51: the 7-param Helmert is commented out
    # upstream in favour of the BETA2007 NTv2 grid
    "potsdam": ("bessel", "@BETA2007.gsb"),
    "carthage": ("clrk80ign", (-263.0, 6.0, 431.0)),
    "hermannskogel": ("bessel", (577.326, 90.129, 463.919, 5.137, 1.474, 5.297, 2.4232)),
    "ire65": ("mod_airy", (482.530, -130.596, 564.557, -1.042, -0.214, -0.631, 8.15)),
    "nzgd49": ("intl", (59.47, -5.04, 187.44, 0.47, -0.1, 1.024, -4.5993)),
    "OSGB36": ("airy", (446.448, -125.157, 542.060, 0.1502, 0.2470, 0.8421, -20.4894)),
    # grid-based datums (reference datums.cpp nadgrids entries): the shift
    # is a raster lookup, not a Helmert — a string value is the +nadgrids=
    # list, routed through the grid registry (never a silent null Helmert)
    "NAD27": ("clrk66", "@conus,@alaska,@ntv2_0.gsb,@ntv1_can.dat"),
    # classic regional datums (proj4 epsg-init compatibility values, as
    # published; used by the generated EPSG table so that same-datum
    # pipeline steps carry IDENTICAL shifts and cancel exactly)
    "ED50": ("intl", (-87.0, -96.0, -120.0)),
    "NTF": ("clrk80ign", (-168.0, -60.0, 320.0)),
    "HD72": ("GRS67", (52.17, -71.82, -14.9)),
    "pulkovo42": ("krass", (23.92, -141.27, -80.9, 0.0, 0.35, 0.82, -0.12)),
}

# reference src/units.cpp (linear units, metres per unit)
UNITS = {
    "m": 1.0, "km": 1000.0, "dm": 0.1, "cm": 0.01, "mm": 0.001,
    "kmi": 1852.0, "in": 0.0254, "ft": 0.3048, "yd": 0.9144,
    "mi": 1609.344, "fath": 1.8288, "ch": 20.1168, "link": 0.201168,
    "us-in": 1.0 / 39.37, "us-ft": 0.304800609601219,
    "us-yd": 0.914401828803658, "us-ch": 20.11684023368047,
    "us-mi": 1609.347218694437, "ind-yd": 0.91439523, "ind-ft": 0.30479841,
    "ind-ch": 20.11669506,
}


class Ellipsoid:
    """Precomputed ellipsoid constants (reference src/proj_internal.h:537-566:
    a, b, ra, e, es, one_es, f, n ... computed once at operator setup)."""

    __slots__ = ("a", "b", "f", "rf", "e", "es", "one_es", "e2s", "n", "ra", "alpha")

    def __init__(self, a: float, b: float):
        self.a = float(a)
        self.b = float(b)
        if not (self.a > 0 and self.b > 0):
            # invalid axes reject before any 1/a computation
            # (ell_set.cpp pj_calc_ellipsoid_params)
            from ..errors import INVALID_OP_ILLEGAL_ARG_VALUE, ProjError
            raise ProjError(
                f"invalid ellipsoid axes a={self.a} b={self.b}",
                INVALID_OP_ILLEGAL_ARG_VALUE)
        self.f = (a - b) / a
        self.rf = 1.0 / self.f if self.f != 0.0 else 0.0
        self.es = 2 * self.f - self.f * self.f
        self.e = np.sqrt(self.es)
        self.one_es = 1.0 - self.es
        # second eccentricity squared e'^2 = es / (1 - es)
        self.e2s = self.es / self.one_es if self.one_es != 0 else np.inf
        # third flattening n = f / (2 - f)
        self.n = self.f / (2.0 - self.f)
        self.ra = 1.0 / a

    @property
    def is_sphere(self) -> bool:
        return self.es == 0.0

    def __repr__(self):  # pragma: no cover
        return f"Ellipsoid(a={self.a}, rf={self.rf})"


def ellps_from_name(name: str) -> Ellipsoid:
    row = _ELLPS_TABLE[name]
    a = row[0]
    if len(row) == 3:
        return Ellipsoid(a, row[2])
    rf = row[1]
    b = a if rf == 0.0 else a * (1.0 - 1.0 / rf)
    return Ellipsoid(a, b)


def resolve_ellipsoid(params: dict) -> Ellipsoid:
    """Resolve +ellps/+R/+a/+b/+rf/+f/+es/+datum params to an Ellipsoid.

    Mirrors reference src/ell_set.cpp precedence (sphere via +R, explicit
    +a/+b/+rf, named +ellps, datum-implied ellipsoid, WGS84 default —
    src/init.cpp:566-581).
    """
    def _bad(msg):
        from ..errors import INVALID_OP_ILLEGAL_ARG_VALUE, ProjError
        raise ProjError(msg, INVALID_OP_ILLEGAL_ARG_VALUE)

    if "R" in params:
        r = float(params["R"])
        if not (np.isfinite(r) and r > 0):
            _bad(f"invalid value for R: {r}")
        return Ellipsoid(r, r)
    try:
        base_ell = _resolve_base(params)
    except KeyError as e:
        # unknown +ellps/+datum name (ell_set.cpp ellps_ellps: not found in
        # the builtin table -> PROJ_ERR_INVALID_OP_ILLEGAL_ARG_VALUE)
        _bad(f"unknown ellipsoid {e}")
    ell = _spherify(base_ell, params)
    # pj_calc_ellipsoid_params sanity gates (ell_set.cpp:43-120): a and b
    # must be finite positives, es in [0, 1) — e.g. +a=-1, +b=0, +f=1,
    # +es=1, +rf=0, +e=1 all reject at setup with illegal-arg errno
    if not (np.isfinite(ell.a) and ell.a > 0):
        _bad(f"invalid semi-major axis {ell.a}")
    if not (np.isfinite(ell.b) and ell.b > 0):
        _bad(f"invalid semi-minor axis {ell.b}")
    if not (0.0 <= ell.es < 1.0) or not np.isfinite(ell.es):
        _bad(f"invalid eccentricity (es={ell.es})")
    if "rf" in params and float(params["rf"]) == 0.0:
        _bad("reciprocal flattening (1/f) = 0")
    return ell


def _spherify(ell: Ellipsoid, params: dict) -> Ellipsoid:
    """+R_A/+R_V/+R_a/+R_g/+R_h/+R_lat_a/+R_lat_g/+R_C sphere substitutes
    (reference src/ell_set.cpp:355-460)."""
    a, b, es = ell.a, ell.b, ell.es
    if "R_A" in params:       # same surface area
        a *= 1.0 - es * (1 / 6.0 + es * (17 / 360.0 + es * (67 / 3024.0)))
    elif "R_V" in params:     # same volume
        a *= 1.0 - es * (1 / 6.0 + es * (5 / 72.0 + es * (55 / 1296.0)))
    elif "R_a" in params:
        a = (a + b) / 2.0
    elif "R_g" in params:
        a = np.sqrt(a * b)
    elif "R_h" in params:
        a = 2 * a * b / (a + b)
    elif "R_lat_a" in params or "R_lat_g" in params:
        from ..ops import parse_angle
        key = "R_lat_a" if "R_lat_a" in params else "R_lat_g"
        t = np.sin(parse_angle(params[key]) * DEG_TO_RAD)
        t = 1.0 - es * t * t
        if key == "R_lat_a":
            a *= (1.0 - es + t) / (2 * t * np.sqrt(t))
        else:
            a *= np.sqrt(1 - es) / t
    elif "R_C" in params:
        # conformal sphere radius sqrt(M*N) at phi0 — but the reference
        # evaluates it during ell_set, BEFORE +lat_0 is bound, so phi0 is
        # effectively 0 and R_C = a*sqrt(1-es) = b (verified against
        # builtins.gie merc +R_C +lat_0=45 which expects R == b)
        a *= np.sqrt(1 - es)
    else:
        return ell
    return Ellipsoid(float(a), float(a))


def _resolve_base(params: dict) -> Ellipsoid:
    # +ellps/+datum provide DEFAULTS for a and the shape; explicit
    # +a/+b/+rf/+f/+es override them individually (the reference expands
    # +ellps into a=/rf= entries that lose against earlier explicit
    # params, pj_ell_init paralist precedence)
    if "datum" in params:
        ell, _ = DATUM_TABLE[params["datum"]]
        base = ellps_from_name(ell)
    elif "ellps" in params:
        base = ellps_from_name(params["ellps"])
    else:
        base = None
    if "a" in params:
        a = float(params["a"])
    elif base is not None:
        a = base.a
    else:
        a = None
    if "b" in params:
        b = float(params["b"])
        if a is None:
            a = b
    elif a is not None and "rf" in params:
        rf = float(params["rf"])
        b = a * (1 - 1 / rf) if rf else a
    elif a is not None and "f" in params:
        b = a * (1 - float(params["f"]))
    elif a is not None and "es" in params:
        b = a * np.sqrt(1 - float(params["es"]))
    elif a is not None and "e" in params:
        # first eccentricity (ell_set.cpp: es = e*e; e <= 0 rejected)
        e1 = float(params["e"])
        if e1 <= 0:
            from ..errors import INVALID_OP_ILLEGAL_ARG_VALUE, ProjError
            raise ProjError(f"invalid value for e: {e1}",
                            INVALID_OP_ILLEGAL_ARG_VALUE)
        with np.errstate(invalid="ignore"):
            b = a * np.sqrt(1 - e1 * e1)
    elif base is not None:
        b = base.b * (a / base.a)  # keep the named shape (flattening)
    elif a is not None:
        b = a  # bare +a: sphere
    else:
        # the reference's default ellipsoid is GRS80 (src/init.cpp:362)
        return ellps_from_name("GRS80")
    return Ellipsoid(a, b)


# --------------------------------------------------------------------------
# Scalar helpers (vectorized)
# --------------------------------------------------------------------------

def adjlon(lam: np.ndarray) -> np.ndarray:
    """Wrap longitude into (-pi, pi] (reference src/adjlon.cpp:7).

    Fast path: when every value is already in range (the overwhelmingly
    common case for real data) the input array is returned AS-IS — callers
    must treat the result as read-only (every call site rebinds)."""
    lam = np.asarray(lam, dtype=np.float64)
    if lam.ndim and not np.any(np.abs(lam) > np.pi):
        # NaNs compare False, so all-NaN input also takes this no-op path
        # (the wrap formula maps NaN -> NaN anyway)
        return lam
    out = lam - TWO_PI * np.floor((lam + np.pi) / TWO_PI)
    # the reference's while-loop only wraps when |lam| is STRICTLY > pi, so
    # +pi stays +pi (adjlon.cpp:13-20); the floor formula maps +pi -> -pi,
    # so restore the sign for inputs that sat exactly on an odd multiple
    out = np.where((out == -np.pi) & (lam > 0), np.pi, out)
    return out


def aasin(v: np.ndarray) -> np.ndarray:
    """Clamped arcsine (reference src/aasincos.cpp:11): |v| slightly over 1
    clamps, |v| far over 1 poisons to NaN."""
    v = np.asarray(v, dtype=np.float64)
    av = np.abs(v)
    out = np.arcsin(np.clip(v, -1.0, 1.0))
    return np.where(av > 1.0 + 1e-10, np.nan, out)


def aacos(v: np.ndarray) -> np.ndarray:
    v = np.asarray(v, dtype=np.float64)
    av = np.abs(v)
    out = np.arccos(np.clip(v, -1.0, 1.0))
    return np.where(av > 1.0 + 1e-10, np.nan, out)


def tsfn(phi: np.ndarray, sinphi: np.ndarray, e: float) -> np.ndarray:
    """ts = exp(-psi), psi the isometric latitude (reference src/tsfn.cpp:6).

    Uses the numerically-stable half-angle form from the reference:
    exp(-asinh(tan phi)) = cos phi/(1+sin phi) for phi>0, (1-sin phi)/cos phi
    otherwise.
    """
    cosphi = np.cos(phi)
    pos = sinphi > 0
    with np.errstate(divide="ignore", invalid="ignore"):
        base = np.where(pos, cosphi / (1.0 + sinphi), (1.0 - sinphi) / cosphi)
        return np.exp(e * np.arctanh(e * sinphi)) * base


def msfn(sinphi: np.ndarray, cosphi: np.ndarray, es: float) -> np.ndarray:
    """m(phi) = cos phi / sqrt(1 - es sin^2 phi) (reference src/msfn.cpp:5)."""
    return cosphi / np.sqrt(1.0 - es * sinphi * sinphi)


def qsfn(sinphi: np.ndarray, e: float, one_es: float) -> np.ndarray:
    """Authalic q(phi) (reference src/qsfn.cpp:8)."""
    if e >= 1.0e-7:
        con = e * sinphi
        div1 = 1.0 - con * con
        div2 = 1.0 + con
        with np.errstate(divide="ignore", invalid="ignore"):
            out = one_es * (sinphi / div1 - (0.5 / e) * np.log((1.0 - con) / div2))
        return np.where((div1 == 0.0) | (div2 == 0.0), np.nan, out)
    return sinphi + sinphi


def sinhpsi2tanphi(taup: np.ndarray, e: float) -> np.ndarray:
    """tau' = sinh(psi) = tan(chi)  ->  tau = tan(phi).

    Vectorized Newton iteration after GeographicLib Math::tauf / reference
    src/phi2.cpp:10-108 (Karney 2011 eq. 7). Fixed 5 iterations with a
    convergence mask — the reference converges in <=2 for WGS84.
    """
    taup = np.asarray(taup, dtype=np.float64)
    e2m = 1.0 - e * e
    rooteps = np.sqrt(np.finfo(np.float64).eps)
    tol = rooteps / 10.0
    tmax = 2.0 / rooteps
    stol = tol * np.maximum(1.0, np.abs(taup))
    # initial guess; >70 corresponds to chi ~ 89.18 deg
    big = np.abs(taup) > 70.0
    tau = np.where(big, taup * np.exp(e * np.arctanh(e)), taup / e2m)
    overflow = ~(np.abs(tau) < tmax)  # catches inf/nan too
    active = ~overflow
    for _ in range(5):
        if not active.any():
            break
        tau1 = np.sqrt(1.0 + tau * tau)
        with np.errstate(invalid="ignore", over="ignore"):
            sig = np.sinh(e * np.arctanh(e * tau / tau1))
            taupa = np.sqrt(1.0 + sig * sig) * tau - sig * tau1
            dtau = ((taup - taupa) * (1.0 + e2m * (tau * tau))
                    / (e2m * tau1 * np.sqrt(1.0 + taupa * taupa)))
        tau = np.where(active, tau + dtau, tau)
        active = active & (np.abs(dtau) >= stol)
    return tau


def phi2(ts0: np.ndarray, e: float) -> np.ndarray:
    """Inverse of tsfn: latitude from ts = exp(-psi)
    (reference src/phi2.cpp:112-165)."""
    ts0 = np.asarray(ts0, dtype=np.float64)
    with np.errstate(divide="ignore", invalid="ignore"):
        taup = (1.0 / ts0 - ts0) / 2.0
    return np.arctan(sinhpsi2tanphi(taup, e))


def authalic_phi1(qs: np.ndarray, e: float, one_es: float) -> np.ndarray:
    """Inverse authalic latitude by Newton iteration
    (reference src/projections/aea.cpp:46-68 phi1_)."""
    qs = np.asarray(qs, dtype=np.float64)
    phi = aasin(0.5 * qs)
    if e < 1.0e-7:
        return phi
    # |q| at (or ulp-beyond) the polar value: Newton's cos(phi) division
    # degenerates; the answer is exactly the pole
    qp = float(qsfn(np.float64(1.0), e, 1.0 - e * e))
    at_pole = np.abs(qs) >= qp * (1.0 - 1e-13)
    converged = np.zeros(phi.shape, dtype=bool)
    for _ in range(15):
        sinpi = np.sin(phi)
        cospi = np.cos(phi)
        con = e * sinpi
        com = 1.0 - con * con
        with np.errstate(divide="ignore", invalid="ignore"):
            dphi = (0.5 * com * com / cospi
                    * (qs / one_es - sinpi / com
                       + 0.5 / e * np.log((1.0 - con) / (1.0 + con))))
        phi = np.where(converged, phi, phi + dphi)
        converged = converged | (np.abs(dphi) <= 1.0e-10)
        if (converged | at_pole).all():
            break
    out = np.where(converged, phi, np.nan)
    return np.where(at_pole, np.copysign(HALF_PI, qs), out)


_CHUNK = 65536


def chunk_apply(fn, inputs, chunk: int = _CHUNK):
    """Run an elementwise numpy kernel over ~L2-sized slices.

    Large (multi-MB) temporaries are mmap'd fresh by the allocator on every
    call — each ufunc in a long kernel then pays page faults and streams
    through DRAM. Slicing to 64k rows keeps every temporary in the reused
    small-allocation arena and in L2: measured 12-20x on the 6th-order
    Krüger kernel at 2M points. Results are bit-identical (the kernel sees
    the same values, just in slices).
    """
    arrs = [np.asarray(a) for a in inputs]
    n = arrs[0].shape[0] if arrs[0].ndim else 0
    if n <= chunk:
        return fn(*inputs)
    outs = None
    for s in range(0, n, chunk):
        rs = fn(*(a[s:s + chunk] for a in arrs))
        one = not isinstance(rs, tuple)
        if one:
            rs = (rs,)
        if outs is None:
            outs = tuple(np.empty(n, dtype=r.dtype) for r in rs)
        for o, r in zip(outs, rs):
            o[s:s + chunk] = r
    return outs[0] if one else outs


def clenshaw_real(coefs: np.ndarray, arg: np.ndarray) -> np.ndarray:
    """Real Clenshaw summation of sum_k c_k sin(k*arg), k=1..len
    (reference src/projections/tmerc.cpp:309-326 clens)."""
    cos_arg = np.cos(arg)
    r = 2.0 * cos_arg
    hr1 = np.zeros_like(arg)
    hr = np.full_like(arg, coefs[-1])
    for c in coefs[-2::-1]:
        hr2 = hr1
        hr1 = hr
        hr = -hr2 + r * hr1 + c
    return np.sin(arg) * hr


def clenshaw_complex(coefs, sin_r, cos_r, sinh_i, cosh_i):
    """Complex Clenshaw summation (reference src/projections/tmerc.cpp:279-306
    clenS): evaluates sum_k c_k sin(k*(argR + i*argI)); returns (Re, Im).

    Hot path of the Krüger kernels: the recurrence runs with two scratch
    buffers and in-place ufuncs — zero allocations per iteration — while
    keeping the same mathematical expression (associativity of the
    original  -h2 + r*h1 - i*i1 + c  is preserved as
    ((r*h1 - h2) - i*i1) + c, which is IEEE-identical because
    -a + b == b - a)."""
    r = 2.0 * cos_r * cosh_i
    i = -2.0 * sin_r * sinh_i
    hr1 = np.zeros_like(sin_r)
    hi1 = np.zeros_like(sin_r)
    hi = np.zeros_like(sin_r)
    hr = np.full_like(sin_r, coefs[-1])
    t1 = np.empty_like(sin_r)
    t2 = np.empty_like(sin_r)
    for c in coefs[-2::-1]:
        hr2 = hr1
        hi2 = hi1
        hr1 = hr
        hi1 = hi
        # new hr -> built in t1/hr2's storage; new hi -> hi2's storage
        np.multiply(r, hr1, out=t1)
        np.subtract(t1, hr2, out=t1)          # -hr2 + r*hr1
        np.multiply(i, hi1, out=t2)
        np.subtract(t1, t2, out=t1)           # ... - i*hi1
        np.add(t1, c, out=hr2)                # ... + c  (reuses hr2's buf)
        hr = hr2
        np.multiply(i, hr1, out=t1)
        np.subtract(t1, hi2, out=t1)          # -hi2 + i*hr1
        np.multiply(r, hi1, out=t2)
        np.add(t1, t2, out=hi2)               # ... + r*hi1 (reuses hi2)
        hi = hi2
    rr = sin_r * cosh_i
    ri = cos_r * sinh_i
    return rr * hr - ri * hi, rr * hi + ri * hr


def gatg(coefs: np.ndarray, b: np.ndarray, cos_2b: np.ndarray, sin_2b: np.ndarray) -> np.ndarray:
    """Gaussian <-> geodetic latitude trig series via Clenshaw
    (reference src/projections/tmerc.cpp:263-276)."""
    two_cos = 2.0 * cos_2b
    h1 = np.full_like(b, coefs[-1])
    h2 = np.zeros_like(b)
    for c in coefs[-2::-1]:
        h = -h2 + two_cos * h1 + c
        h2 = h1
        h1 = h
    return b + h1 * sin_2b


def lp_dist_m(ell: Ellipsoid, lam1, phi1, lam2, phi2_) -> np.ndarray:
    """Approximate metric distance (metres) between two geodetic points,
    for tolerance checks on angular outputs (stand-in for the reference's
    proj_lpz_dist / Karney geodesic in src/apps/gie.cpp:1056-1062; for the
    sub-degree separations used in tolerance checks the local-metric error
    is O(d^2/R) — negligible at mm scales). Uses meridional/normal curvature
    radii at the midpoint."""
    phi_m = 0.5 * (np.asarray(phi1) + np.asarray(phi2_))
    sin_m = np.sin(phi_m)
    w2 = 1.0 - ell.es * sin_m * sin_m
    n_rad = ell.a / np.sqrt(w2)            # normal radius N
    m_rad = ell.a * (1 - ell.es) / w2 ** 1.5  # meridional radius M
    dlam = adjlon(np.asarray(lam2) - np.asarray(lam1))
    dphi = np.asarray(phi2_) - np.asarray(phi1)
    return np.hypot(m_rad * dphi, n_rad * np.cos(phi_m) * dlam)


# ---------------------------------------------------------------------------
# meridional arc (reference src/mlfn.cpp: 6th-order expansion in the third
# flattening n, Karney arXiv:2212.05818 Eqs. A5/A6)
# ---------------------------------------------------------------------------

_MLFN_RAD = (1.0, 1.0 / 4, 1.0 / 64, 1.0 / 256)
_MLFN_MU_PHI = (
    (-3.0 / 2, 9.0 / 16, -3.0 / 32), (15.0 / 16, -15.0 / 32, 135.0 / 2048),
    (-35.0 / 48, 105.0 / 256), (315.0 / 512, -189.0 / 512),
    (-693.0 / 1280,), (1001.0 / 2048,),
)
_MLFN_PHI_MU = (
    (3.0 / 2, -27.0 / 32, 269.0 / 512), (21.0 / 16, -55.0 / 32, 6759.0 / 4096),
    (151.0 / 96, -417.0 / 128), (1097.0 / 512, -15543.0 / 2560),
    (8011.0 / 2560,), (293393.0 / 61440,),
)


def enfn(n: float):
    """Precompute the meridional-arc Fourier coefficients for third
    flattening n. Returns (rad_factor, mu_phi[6], phi_mu[6])."""
    n2 = n * n

    def polyval(coefs):
        y = 0.0
        for c in reversed(coefs):
            y = y * n2 + c
        return y

    rad = polyval(_MLFN_RAD) / (1.0 + n)
    d = n
    mu_phi, phi_mu = [], []
    for l in range(6):
        mu_phi.append(d * polyval(_MLFN_MU_PHI[l]))
        phi_mu.append(d * polyval(_MLFN_PHI_MU[l]))
        d *= n
    return rad, tuple(mu_phi), tuple(phi_mu)


def _clenshaw_sin2k(s, c, coefs):
    """sum coefs[k] * sin(2(k+1) z) given sin z, cos z (mlfn.cpp clenshaw)."""
    X = 2.0 * (c - s) * (c + s)
    u0 = np.zeros_like(np.asarray(s, dtype=np.float64))
    u1 = np.zeros_like(u0)
    for ck in reversed(coefs):
        u0, u1 = X * u0 - u1 + ck, u0
    return 2.0 * s * c * u0


def mlfn(phi, sphi, cphi, en):
    """Meridional distance (in units of a) — reference pj_mlfn."""
    rad, mu_phi, _ = en
    return rad * (phi + _clenshaw_sin2k(sphi, cphi, mu_phi))


def inv_mlfn(mu, en):
    """Inverse meridional distance — reference pj_inv_mlfn."""
    rad, _, phi_mu = en
    mu = mu / rad
    return mu + _clenshaw_sin2k(np.sin(mu), np.cos(mu), phi_mu)
