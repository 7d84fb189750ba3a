"""Operator framework: vectorized coordinate operators + pipeline composition.

Mirrors the reference's execution contract, re-expressed columnar:

- An :class:`Operator` is the analogue of a compiled ``PJ`` instance
  (reference src/proj_internal.h:505-676): precomputed constants bound at
  construction, plus vectorized ``fwd``/``inv`` kernels ``double4 -> double4``
  over numpy arrays.
- ``pj_fwd``/``pj_inv`` here reproduce the generic prepare/finalize wrappers
  (reference src/fwd.cpp:40-174, src/inv.cpp): angular-range validation and
  poisoning, geocentric-latitude handling, central-meridian offset, longitude
  wrapping, semimajor-axis scaling of "classic" outputs, false
  eastings/northings and unit conversion.
- A :class:`Pipeline` is the analogue of ``+proj=pipeline`` sequential step
  composition (reference src/conversions/pipeline.cpp:163-193), including
  per-step ``+inv`` and push/pop value stacks as temporary columns.

Poison value: NaN everywhere (the reference uses HUGE_VAL,
src/fwd.cpp:41-44); NaN rows stay NaN through every later stage.
"""

from __future__ import annotations

import numpy as np

from .kernels.core import (
    DEG_TO_RAD,
    EPS_LAT,
    HALF_PI,
    UNITS,
    Ellipsoid,
    adjlon,
    resolve_ellipsoid,
)

def _isub(x, c: float):
    """``x - c`` in place when x is a writable array and c != 0 (subtracting
    0.0 is a bit-exact identity, so it is skipped)."""
    if c == 0.0:
        return x
    if isinstance(x, np.ndarray) and x.flags.writeable:
        np.subtract(x, c, out=x)
        return x
    return x - c


def _iadd(x, c: float):
    """``x + c`` in place when possible. The add is NOT skipped for
    c == 0.0: adding 0.0 normalizes -0.0 to +0.0, matching the
    out-of-place expression this replaces."""
    if isinstance(x, np.ndarray) and x.flags.writeable:
        np.add(x, c, out=x)
        return x
    return x + c


def _fin(x, a: float, off, fr: float):
    """``fr * (x * a + off)`` with the reference's operation order, in place
    on writable kernel outputs. ``off=None`` means no addition step at all
    (U_CARTESIAN), which is NOT the same as ``off=0.0``: adding 0.0
    normalizes -0.0 to +0.0 exactly like the out-of-place form did.
    Multiplying by 1.0 is a bit-exact identity and is skipped."""
    if not (isinstance(x, np.ndarray) and x.flags.writeable):
        if off is None:
            return x * fr
        return fr * (x * a + off)
    if a != 1.0:
        np.multiply(x, a, out=x)
    if off is not None:
        np.add(x, off, out=x)
    if fr != 1.0:
        np.multiply(x, fr, out=x)
    return x


def _poison_pair(x, y):
    """Cross-poison: a NaN in either coordinate NaNs both (reference
    fwd/inv finalize). Skipped entirely when there are no NaNs (hot path);
    mutates in place when the arrays are writable kernel outputs."""
    mask = np.isnan(x) | np.isnan(y)
    if not mask.any():
        return x, y
    if (isinstance(x, np.ndarray) and x.ndim and x.flags.writeable
            and isinstance(y, np.ndarray) and y.ndim == x.ndim
            and y.shape == x.shape and y.flags.writeable):
        x[mask] = np.nan
        y[mask] = np.nan
        return x, y
    return np.where(mask, np.nan, x), np.where(mask, np.nan, y)


# io-unit tags (reference src/proj_internal.h:192-198)
U_WHATEVER = "whatever"
U_CLASSIC = "classic"      # dimensionless x/a -> scaled by a at finalize
U_PROJECTED = "projected"  # metres
U_CARTESIAN = "cartesian"  # geocentric metres
U_RADIANS = "radians"
U_DEGREES = "degrees"


# prime meridian registry (reference src/datums.cpp:71-88)
PRIME_MERIDIANS = {
    "greenwich": "0",
    "lisbon": "9d07'54.862\"W",
    "paris": "2d20'14.025\"E",
    "bogota": "74d04'51.3\"W",
    "madrid": "3d41'16.58\"W",
    "rome": "12d27'8.4\"E",
    "bern": "7d26'22.5\"E",
    "jakarta": "106d48'27.79\"E",
    "ferro": "17d40'W",
    "brussels": "4d22'4.71\"E",
    "stockholm": "18d3'29.8\"E",
    "athens": "23d42'58.815\"E",
    "oslo": "10d43'22.5\"E",
    "copenhagen": "12d34'40.35\"E",
}


def _ratio(v) -> float:
    """Parse '0.5' or 'a/b' ratio notation (reference pj_param 'd' with
    fractions, used by +to_meter/+vto_meter)."""
    s = str(v)
    if "/" in s:
        a, b = s.split("/", 1)
        if float(b) == 0.0:
            from .errors import INVALID_OP_ILLEGAL_ARG_VALUE, ProjError
            raise ProjError(f"invalid ratio {s!r}: division by zero",
                            INVALID_OP_ILLEGAL_ARG_VALUE)
        return float(a) / float(b)
    return float(s)


def _build_datum_shift(params: dict):
    """cs2cs-emulation datum handling (reference src/fwd.cpp:91-100 +
    src/4D_api.cpp:845-992): when a CRS carries +towgs84/+datum, its
    geodetic coordinates are related to WGS84 by
    cart(WGS84).fwd -> helmert.inv -> cart(local).inv on input, and the
    transpose on output. Returns (cart_wgs84, helmert_or_None, cart_local)
    or None when the CRS is WGS84-equivalent."""
    tw = None
    nadgrids = None
    if "_no_datum_shift" in params:
        return None
    if "towgs84" in params:
        tw = tuple(float(x) for x in str(params["towgs84"]).split(","))
    elif "nadgrids" in params:
        nadgrids = str(params["nadgrids"])
    elif "datum" in params:
        from .kernels.core import DATUM_TABLE
        name = params["datum"]
        if name not in DATUM_TABLE:
            raise KeyError(f"unsupported datum {name}")
        shift = DATUM_TABLE[name][1]
        if isinstance(shift, str):
            # grid-based datum (reference datums.cpp nadgrids entry, e.g.
            # NAD27 -> @conus,@alaska..., potsdam -> @BETA2007.gsb)
            nadgrids = shift
        else:
            tw = tuple(shift)
            if all(v == 0 for v in tw):
                return None  # PJD_WGS84-equivalent datum (init.cpp:588-594)
    if nadgrids is not None:
        # raster datum shift (reference PJD_GRIDSHIFT cs2cs emulation):
        # grid fwd maps local datum -> pivot (WGS84/NAD83); grid opening
        # is deferred, so construction succeeds without the files
        from .kernels.gridshift import Hgridshift
        gop = Hgridshift({"proj": "hgridshift", "grids": nadgrids,
                          "_no_datum_shift": True}, "hgridshift")
        return ("grid", gop)
    if tw is None:
        return None
    from .kernels.cartgeo import Cart
    from .kernels.datum import Helmert
    ell_keys = ("ellps", "a", "b", "rf", "f", "es", "R", "datum")
    local = {k: params[k] for k in ell_keys if k in params}
    cart_wgs84 = Cart({"proj": "cart", "ellps": "WGS84", "_no_datum_shift": True})
    cart_local = Cart({"proj": "cart", "_no_datum_shift": True, **local})
    helm = None
    if any(v != 0 for v in tw):
        hp = {"proj": "helmert"}
        for k, v in zip(("x", "y", "z", "rx", "ry", "rz", "s"), tw):
            hp[k] = v
        if len(tw) > 3:
            hp["convention"] = "position_vector"
        helm = Helmert(hp)
    return ("helmert", cart_wgs84, helm, cart_local)


def _angles(params: dict, key: str, default: float = 0.0) -> float:
    """Parse an angle parameter given in degrees (optionally DMS-ish)."""
    if key not in params:
        return default
    return parse_angle(params[key]) * DEG_TO_RAD


def parse_angle(v) -> float:
    """Parse '12.5', '12d30', '12d30\'10"N', '7d28.242E' to decimal degrees
    (reference src/dmstor.cpp grammar subset)."""
    if isinstance(v, (int, float)):
        return float(v)
    s = str(v).strip()
    if s and s[-1] in "Rr":
        # radian suffix (reference src/dmstor.cpp 'r' unit)
        return float(s[:-1]) / DEG_TO_RAD
    sign = 1.0
    if s and s[-1] in "NnEe":
        s = s[:-1]
    elif s and s[-1] in "SsWw":
        sign = -1.0
        s = s[:-1]
    if s.startswith("-"):
        sign = -sign
        s = s[1:]
    elif s.startswith("+"):
        s = s[1:]
    deg = minu = sec = 0.0
    if "d" in s or "°" in s:
        s = s.replace("°", "d")
        d, rest = s.split("d", 1)
        deg = float(d) if d else 0.0
        rest = rest.replace("″", '"').replace("′", "'")
        if "'" in rest:
            m, rest2 = rest.split("'", 1)
            minu = float(m) if m else 0.0
            rest2 = rest2.rstrip('"')
            sec = float(rest2) if rest2 else 0.0
        elif rest:
            minu = float(rest.rstrip('"'))
    else:
        deg = float(s) if s else 0.0
    return sign * (deg + minu / 60.0 + sec / 3600.0)


class Operator:
    """Base class: one coordinate operator with bound constants.

    Subclasses set ``left``/``right`` io-unit tags and implement
    ``_fwd``/``_inv`` raw kernels (no prepare/finalize) over numpy arrays.
    """

    name = "?"
    left = U_RADIANS
    right = U_CLASSIC
    has_inverse = True
    skip_prepare = False  # unitconvert-style ops bypass angular prepare
    # |lat_0| <= 90 construction gate: the reference checks this
    # per-projection (laea.cpp:252-257, aea/cea/eqc/eqdc/merc); ungated
    # reference projections still NaN at transform time for such lat_0,
    # so construction-reject is kept for the projection catalog.
    # Conversions/transformations that never READ lat_0 upstream
    # (latlong, cart, helmert, axisswap, ...) opt out — the reference
    # accepts a stray +lat_0 on them.
    gate_lat0 = True

    def __init__(self, params: dict, invoked_name: str | None = None):
        self.params = dict(params)
        self.invoked_name = invoked_name or self.name
        self.ell: Ellipsoid = resolve_ellipsoid(params)
        self.lam0 = _angles(params, "lon_0")
        self.phi0 = _angles(params, "lat_0")
        if self.gate_lat0 and abs(self.phi0) > HALF_PI + 1e-12:
            # shared |lat_0| <= 90 gate (reference: per-projection checks,
            # e.g. laea.cpp:254, aeqd.cpp; uniform illegal-arg errno)
            from .errors import illegal_arg
            illegal_arg(f"{self.invoked_name}: |lat_0| should be <= 90")
        self.x0 = float(params.get("x_0", 0.0))
        self.y0 = float(params.get("y_0", 0.0))
        self.z0 = float(params.get("z_0", 0.0))
        if "k_0" in params:
            self.k0 = float(params["k_0"])
        elif "k" in params:
            self.k0 = float(params["k"])
        else:
            self.k0 = 1.0
        if "to_meter" in params:
            self.to_meter = _ratio(params["to_meter"])
        elif "units" in params:
            self.to_meter = UNITS[str(params["units"])]
        else:
            self.to_meter = 1.0
        if self.to_meter <= 0 or not np.isfinite(self.to_meter):
            from .errors import INVALID_OP_ILLEGAL_ARG_VALUE, ProjError
            raise ProjError(f"invalid to_meter {self.to_meter}",
                            INVALID_OP_ILLEGAL_ARG_VALUE)
        self.fr_meter = 1.0 / self.to_meter
        if "vto_meter" in params:
            self.vto_meter = _ratio(params["vto_meter"])
        elif "vunits" in params:
            self.vto_meter = UNITS[str(params["vunits"])]
        else:
            self.vto_meter = self.to_meter
        self.vfr_meter = 1.0 / self.vto_meter
        self.over = "over" in params
        self.geoc = "geoc" in params
        if "pm" in params:
            pm = str(params["pm"])
            pm = PRIME_MERIDIANS.get(pm, pm)
            self.from_greenwich = parse_angle(pm) * DEG_TO_RAD
        else:
            self.from_greenwich = 0.0
        if "lon_wrap" in params:
            self.lon_wrap = parse_angle(params["lon_wrap"]) * DEG_TO_RAD
        else:
            self.lon_wrap = None
        # +axis= on a non-axisswap operator attaches an output axisswap
        # (reference src/init.cpp:626-645 + src/fwd.cpp:172-173); skipped
        # when already "enu" (4D_api.cpp:861)
        self._axis_sub = None
        ax = params.get("axis")
        if ax is not None and self.name != "axisswap":
            if str(ax) != "enu":
                self._axis_sub = _REGISTRY["axisswap"](
                    {"proj": "axisswap", "axis": str(ax)}, "axisswap")
        self._datum_shift = _build_datum_shift(params)
        # +geoidgrids= cs2cs emulation (reference 4D_api.cpp: heights of
        # this CRS are geoid/orthometric; the WGS84 side is ellipsoidal):
        # fwd (WGS84 -> CRS) does z - N, inv does z + N, evaluated in the
        # CRS's geodetic frame
        self._geoid_shift = None
        if "geoidgrids" in params and "_no_datum_shift" not in params:
            from .kernels.gridshift import Vgridshift
            self._geoid_shift = Vgridshift(
                {"proj": "vgridshift", "grids": str(params["geoidgrids"]),
                 "_no_datum_shift": True}, "vgridshift")
        self.setup()

    def setup(self):  # pragma: no cover - overridden
        pass

    # raw kernels -----------------------------------------------------------
    def _fwd(self, x, y, z, t):
        raise NotImplementedError

    def _inv(self, x, y, z, t):
        raise NotImplementedError

    # generic wrappers ------------------------------------------------------
    def fwd(self, x, y, z=None, t=None):
        """prepare -> kernel -> finalize (reference src/fwd.cpp:255-296)."""
        x = np.asarray(x, dtype=np.float64).copy()
        y = np.asarray(y, dtype=np.float64).copy()
        z = np.zeros_like(x) if z is None else np.asarray(z, dtype=np.float64).copy()
        t = np.zeros_like(x) if t is None else np.asarray(t, dtype=np.float64).copy()

        if self.left == U_RADIANS and not self.skip_prepare:
            # fwd_prepare: validate + poison (reference src/fwd.cpp:53-77).
            # x/y are private copies, so poison/clip mutate in place and
            # both fixups are skipped entirely on clean input (the hot
            # path) instead of allocating np.where results per call.
            ay = np.abs(y)
            bad = (ay - HALF_PI > EPS_LAT) | (np.abs(x) > 10.0)
            if x.ndim and bad.any():
                x[bad] = np.nan
                y[bad] = np.nan
                np.clip(y, -HALF_PI, HALF_PI, out=y)
            elif x.ndim:
                if np.any(ay > HALF_PI):
                    np.clip(y, -HALF_PI, HALF_PI, out=y)
            else:
                x = np.where(bad, np.nan, x)
                y = np.where(bad, np.nan, np.clip(y, -HALF_PI, HALF_PI))
            if self.geoc:
                # geocentric -> geographic latitude (src/geocentric_latitude)
                y = np.arctan(np.tan(y) / self.ell.one_es)
            if not self.over:
                x = adjlon(x)
            if self._datum_shift is not None:
                # WGS84 geodetic -> local datum geodetic (fwd.cpp:91-100)
                if self._datum_shift[0] == "grid":
                    # raster datum: grid fwd is local->pivot, so inbound
                    # WGS84 applies the iterative inverse
                    x, y, z, t = self._datum_shift[1]._inv(x, y, z, t)
                else:
                    _, cw, hm, cl = self._datum_shift
                    x, y, z, t = cw.fwd(x, y, z, t)
                    if hm is not None:
                        x, y, z, t = hm.inv(x, y, z, t)
                    x, y, z, t = cl.inv(x, y, z, t)
            if self._geoid_shift is not None:
                # ellipsoidal -> orthometric height (z - N)
                x, y, z, t = self._geoid_shift._fwd(x, y, z, t)
            # central meridian + prime meridian (reference src/fwd.cpp:108).
            # Two separate subtractions, in place on the private copy, to
            # keep (x - pm) - lam0 bit-identical to the out-of-place form
            x = _isub(x, self.from_greenwich)
            x = _isub(x, self.lam0)
            if not self.over:
                x = adjlon(x)

        with np.errstate(invalid="ignore", divide="ignore", over="ignore"):
            x, y, z, t = self._fwd(x, y, z, t)

        # fwd_finalize (reference src/fwd.cpp:123-174); _fin preserves the
        # fr*(v*a + off) operation order bit-exactly, in place on kernel
        # outputs
        if self.right == U_CLASSIC:
            x = _fin(x, self.ell.a, self.x0, self.fr_meter)
            y = _fin(y, self.ell.a, self.y0, self.fr_meter)
            z = _fin(z, 1.0, self.z0, self.vfr_meter)
        elif self.right == U_PROJECTED:
            x = _fin(x, 1.0, self.x0, self.fr_meter)
            y = _fin(y, 1.0, self.y0, self.fr_meter)
            z = _fin(z, 1.0, self.z0, self.vfr_meter)
        elif self.right == U_CARTESIAN:
            x = _fin(x, 1.0, None, self.fr_meter)
            y = _fin(y, 1.0, None, self.fr_meter)
            z = _fin(z, 1.0, None, self.fr_meter)
        elif self.right == U_RADIANS:
            z = _fin(z, 1.0, self.z0, self.vfr_meter)
            if self.lon_wrap is not None:
                # +lon_wrap re-centering (reference src/fwd.cpp:162-167)
                x = self.lon_wrap + adjlon(x - self.lon_wrap)
        x, y = _poison_pair(x, y)
        if self._axis_sub is not None:
            x, y, z, t = self._axis_sub._fwd(x, y, z, t)
        return x, y, z, t

    def inv(self, x, y, z=None, t=None):
        """Inverse wrapper (reference src/inv.cpp, symmetric to fwd)."""
        x = np.asarray(x, dtype=np.float64).copy()
        y = np.asarray(y, dtype=np.float64).copy()
        z = np.zeros_like(x) if z is None else np.asarray(z, dtype=np.float64).copy()
        t = np.zeros_like(x) if t is None else np.asarray(t, dtype=np.float64).copy()
        if self._axis_sub is not None:
            x, y, z, t = self._axis_sub._inv(x, y, z, t)

        # inv_prepare: undo finalize. ra*(v*to_m + (-off)) is bit-identical
        # to (v*to_m - off)*ra (IEEE a-b == a+(-b)), so _fin applies.
        if self.right == U_CLASSIC:
            x = _fin(x, self.to_meter, -self.x0, self.ell.ra)
            y = _fin(y, self.to_meter, -self.y0, self.ell.ra)
            z = _fin(z, self.vto_meter, -self.z0, 1.0)
        elif self.right == U_PROJECTED:
            x = _fin(x, self.to_meter, -self.x0, 1.0)
            y = _fin(y, self.to_meter, -self.y0, 1.0)
            z = _fin(z, self.vto_meter, -self.z0, 1.0)
        elif self.right == U_CARTESIAN:
            x = _fin(x, self.to_meter, None, 1.0)
            y = _fin(y, self.to_meter, None, 1.0)
            z = _fin(z, self.to_meter, None, 1.0)
        elif self.right == U_RADIANS:
            z = _fin(z, self.vto_meter, -self.z0, 1.0)

        with np.errstate(invalid="ignore", divide="ignore", over="ignore"):
            x, y, z, t = self._inv(x, y, z, t)

        # inv_finalize: re-offset central meridian, wrap, geoc
        if self.left == U_RADIANS and not self.skip_prepare:
            # reference src/inv.cpp:113
            x = _iadd(_iadd(x, self.from_greenwich), self.lam0)
            if not self.over:
                x = adjlon(x)
            if self._geoid_shift is not None:
                # orthometric -> ellipsoidal height (z + N)
                x, y, z, t = self._geoid_shift._inv(x, y, z, t)
            if self._datum_shift is not None:
                # local datum geodetic -> WGS84 geodetic (inv.cpp:126-135)
                if self._datum_shift[0] == "grid":
                    x, y, z, t = self._datum_shift[1]._fwd(x, y, z, t)
                else:
                    _, cw, hm, cl = self._datum_shift
                    x, y, z, t = cl.fwd(x, y, z, t)
                    if hm is not None:
                        x, y, z, t = hm.fwd(x, y, z, t)
                    x, y, z, t = cw.inv(x, y, z, t)
            if self.geoc:
                y = np.arctan(self.ell.one_es * np.tan(y))
        x, y = _poison_pair(x, y)
        return x, y, z, t

    def apply(self, direction: str, x, y, z=None, t=None):
        return self.fwd(x, y, z, t) if direction == "forward" else self.inv(x, y, z, t)

    # io units in a given direction (for harness deg<->rad handling)
    def input_units(self, direction: str) -> str:
        return self.left if direction == "forward" else self.right

    def output_units(self, direction: str) -> str:
        return self.right if direction == "forward" else self.left


class Pipeline:
    """``+proj=pipeline +step ...`` sequential composition
    (reference src/conversions/pipeline.cpp:110-193): each step runs its own
    prepare/finalize; ``+inv`` flips a step; the pipeline inverse runs steps
    reversed with directions flipped; push/pop via 4 value stacks."""

    name = "pipeline"

    @property
    def has_inverse(self):
        """Pipeline invertible iff every non-omit_inv step can run its
        flipped direction (reference pipeline.cpp:558-568 pj_has_inverse
        scan clearing P->inv*)."""
        for op, d in self.steps:
            if isinstance(op, PushPop) or getattr(op, "_omit_inv", False):
                continue
            if d == "forward" and (not getattr(op, "has_inverse", True)
                                   or getattr(op, "inverse_invalid", False)):
                return False
        return True

    def __init__(self, steps):
        # steps: list of (Operator | PushOp | PopOp, direction str)
        self.steps = steps
        self._validate()

    @staticmethod
    def _eff_units(op, d):
        """(left, right) of a step in its declared run direction, with
        CLASSIC mapped to PROJECTED (reference internal.cpp:49-61
        pj_left/pj_right)."""
        ul = op.left if d == "forward" else op.right
        ur = op.right if d == "forward" else op.left
        ul = U_PROJECTED if ul == U_CLASSIC else ul
        ur = U_PROJECTED if ur == U_CLASSIC else ur
        return ul, ur

    def _validate(self):
        """Construction-time pipeline sanity (reference
        pipeline.cpp:533-630): a forward path must exist through every
        non-omit_fwd step (an inverted step without an inverse kernel is
        PROJ_ERR_OTHER_NO_INVERSE_OP), and adjacent steps' io-units must
        match unless one side is WHATEVER."""
        from .errors import (INVALID_OP_MISSING_ARG, INVALID_OP_WRONG_SYNTAX,
                             NO_INVERSE_OP, ProjError)
        if not self.steps:
            raise ProjError("pipeline has no steps", INVALID_OP_MISSING_ARG)
        for op, d in self.steps:
            if isinstance(op, PushPop) or getattr(op, "_omit_fwd", False):
                continue
            if d == "inverse" and (not getattr(op, "has_inverse", True)
                                   or getattr(op, "inverse_invalid", False)):
                raise ProjError(
                    f"pipeline: inverse operation for {op.name} is "
                    "not available", NO_INVERSE_OP)
        real = [(op, d) for op, d in self.steps
                if not isinstance(op, PushPop)]
        for (op1, d1), (op2, d2) in zip(real, real[1:]):
            _, r1 = self._eff_units(op1, d1)
            l2, _ = self._eff_units(op2, d2)
            if U_WHATEVER in (r1, l2):
                continue
            if r1 != l2:
                raise ProjError(
                    f"pipeline: mismatched units between step "
                    f"{op1.name} ({r1}) and {op2.name} ({l2})",
                    INVALID_OP_WRONG_SYNTAX)

    @property
    def left(self):
        # reference pipeline_setup (pipeline.cpp:571-637): steps that are
        # WHATEVER on BOTH sides (push/pop, axisswap) inherit units from
        # their neighbours; the pipeline's left is then the first step's
        # left. A step with a one-sided tag (e.g. unitconvert grad->rad:
        # left whatever, right radians) does NOT inherit — the pipeline
        # presents whatever and the caller feeds raw values.
        for op, d in self.steps:
            ul = op.left if d == "forward" else op.right
            ur = op.right if d == "forward" else op.left
            if ul == U_WHATEVER and ur == U_WHATEVER:
                continue  # inherits from the right neighbour
            return ul
        return U_WHATEVER

    @property
    def right(self):
        for op, d in reversed(self.steps):
            ul = op.left if d == "forward" else op.right
            ur = op.right if d == "forward" else op.left
            if ul == U_WHATEVER and ur == U_WHATEVER:
                continue  # inherits from the left neighbour
            return ur
        return U_WHATEVER

    def input_units(self, direction):
        return self.left if direction == "forward" else self.right

    def output_units(self, direction):
        return self.right if direction == "forward" else self.left

    def fwd(self, x, y, z=None, t=None):
        return self._run(x, y, z, t, "forward")

    def inv(self, x, y, z=None, t=None):
        return self._run(x, y, z, t, "inverse")

    def apply(self, direction, x, y, z=None, t=None):
        return self._run(x, y, z, t, direction)

    def _run(self, x, y, z, t, direction):
        x = np.asarray(x, dtype=np.float64)
        y = np.asarray(y, dtype=np.float64)
        z = np.zeros_like(x) if z is None else np.asarray(z, dtype=np.float64)
        t = np.zeros_like(x) if t is None else np.asarray(t, dtype=np.float64)
        stacks = {1: [], 2: [], 3: [], 4: []}
        steps = self.steps if direction == "forward" else [
            (op, ("inverse" if d == "forward" else "forward")) for op, d in reversed(self.steps)
        ]
        for op, d in steps:
            # omit_fwd skips the step in pipeline-forward execution,
            # omit_inv in pipeline-inverse (pipeline.cpp:166,183)
            if direction == "forward" and getattr(op, "_omit_fwd", False):
                continue
            if direction == "inverse" and getattr(op, "_omit_inv", False):
                continue
            if op.name == "push":
                # push in fwd direction; acts as pop when pipeline inverted
                cols = {1: x, 2: y, 3: z, 4: t}
                if d == "forward":
                    for i in op.slots:
                        stacks[i].append(cols[i].copy())
                else:
                    vals = {}
                    for i in op.slots:
                        if stacks[i]:
                            vals[i] = stacks[i].pop()
                    x = vals.get(1, x)
                    y = vals.get(2, y)
                    z = vals.get(3, z)
                    t = vals.get(4, t)
                continue
            if op.name == "pop":
                cols = {1: x, 2: y, 3: z, 4: t}
                if d == "forward":
                    vals = {}
                    for i in op.slots:
                        if stacks[i]:
                            vals[i] = stacks[i].pop()
                    x = vals.get(1, x)
                    y = vals.get(2, y)
                    z = vals.get(3, z)
                    t = vals.get(4, t)
                else:
                    for i in op.slots:
                        stacks[i].append(cols[i].copy())
                continue
            x, y, z, t = op.apply(d, x, y, z, t)
        return x, y, z, t


class PushPop:
    """push/pop pseudo-steps (reference src/conversions/pipeline.cpp:117-148).
    Outside a pipeline they are coordinate no-ops."""

    left = U_WHATEVER
    right = U_WHATEVER
    has_inverse = True

    def __init__(self, params: dict, name: str):
        self.name = name
        self.slots = tuple(i for i in (1, 2, 3, 4) if f"v_{i}" in params)

    def fwd(self, x, y, z=None, t=None):
        z = np.zeros_like(x) if z is None else z
        t = np.zeros_like(x) if t is None else t
        return x, y, z, t

    inv = fwd

    def apply(self, direction, x, y, z=None, t=None):
        return self.fwd(x, y, z, t)

    def input_units(self, direction):
        return U_WHATEVER

    def output_units(self, direction):
        return U_WHATEVER


# ---------------------------------------------------------------------------
# Registry + factory
# ---------------------------------------------------------------------------
_REGISTRY: dict[str, type] = {}


def register(cls):
    _REGISTRY[cls.name] = cls
    for alias in getattr(cls, "aliases", ()):
        _REGISTRY[alias] = cls
    return cls


def available_ops():
    return sorted(_REGISTRY)


def create_operator(params: dict):
    """proj-param dict -> Operator instance (the reference's
    locate_constructor dispatch, src/init.cpp:422-432)."""
    name = params.get("proj")
    if name == "pipeline":
        raise ValueError("use create_pipeline for +proj=pipeline")
    if name in ("push", "pop"):
        return PushPop(params, name)
    if name not in _REGISTRY:
        raise KeyError(f"unsupported operator: +proj={name}")
    return _REGISTRY[name](params, name)


def generic_inverse_2d(op, x, y, lam0, phi0, tol=1e-12, n_iter=15,
                       max_step=0.3):
    """Vectorized 2D quasi-Newton inverse on an operator's raw ``_fwd``
    kernel with numerically-differenced Jacobian (reference
    src/generic_inverse.cpp pj_generic_inverse_2d): refines an initial
    (lam, phi) guess until fwd(lp) reproduces (x, y). Mirrors the
    reference's safeguards: the inverse Jacobian is kept from the last
    well-conditioned iteration when det == 0 or the residual is tiny
    (degenerate at the poles), steps are clamped to ``max_step`` rad,
    lam/phi are clamped to their domains, and a target component that is
    exactly 0 freezes its coordinate (on-axis symmetry points)."""
    x = np.asarray(x, dtype=np.float64)
    y = np.asarray(y, dtype=np.float64)
    lam = np.clip(np.asarray(lam0, dtype=np.float64), -np.pi, np.pi).copy()
    phi = np.clip(np.asarray(phi0, dtype=np.float64), -HALF_PI, HALF_PI).copy()
    z = np.zeros_like(lam)
    t = np.full_like(lam, np.nan)
    j_lam_X = np.zeros_like(lam)
    j_lam_Y = np.zeros_like(lam)
    j_phi_X = np.zeros_like(lam)
    j_phi_Y = np.zeros_like(lam)
    # per-point trust radius: a candidate that worsens the residual is
    # rejected and the radius shrinks (the bare reference iteration can
    # ping-pong against the +-pi/2 clamp near the poles); an accepted step
    # re-grows it. Guarantees monotone residual decrease.
    trust = np.full_like(lam, max_step)
    res = np.full_like(lam, np.inf)
    with np.errstate(invalid="ignore", divide="ignore", over="ignore"):
        for i in range(max(n_iter, 60)):
            fx, fy, _, _ = op._fwd(lam, phi, z, t)
            dX = fx - x
            dY = fy - y
            res = np.maximum(np.abs(dX), np.abs(dY))
            done = (np.abs(dX) < tol) & (np.abs(dY) < tol)
            if np.all(done):
                break
            # refresh the Jacobian only while the residual is significant
            # (generic_inverse.cpp:64-85)
            refresh = (i == 0) | (np.abs(dX) > 1e-6) | (np.abs(dY) > 1e-6)
            dlam_h = np.where(lam > 0, -1e-6, 1e-6)
            fx1, fy1, _, _ = op._fwd(lam + dlam_h, phi, z, t)
            dXdl = (fx1 - fx) / dlam_h
            dYdl = (fy1 - fy) / dlam_h
            dphi_h = np.where(phi > 0, -1e-6, 1e-6)
            fx2, fy2, _, _ = op._fwd(lam, phi + dphi_h, z, t)
            dXdp = (fx2 - fx) / dphi_h
            dYdp = (fy2 - fy) / dphi_h
            det = dXdl * dYdp - dXdp * dYdl
            ok = refresh & np.isfinite(det) & (det != 0.0)
            j_lam_X = np.where(ok, dYdp / det, j_lam_X)
            j_lam_Y = np.where(ok, -dXdp / det, j_lam_Y)
            j_phi_X = np.where(ok, -dYdl / det, j_phi_X)
            j_phi_Y = np.where(ok, dXdl / det, j_phi_Y)
            step_l = np.clip(dX * j_lam_X + dY * j_lam_Y, -trust, trust)
            step_p = np.clip(dX * j_phi_X + dY * j_phi_Y, -trust, trust)
            upd_l = (~done) & (x != 0.0)
            upd_p = (~done) & (y != 0.0)
            cand_lam = np.where(upd_l, np.clip(lam - step_l, -np.pi, np.pi),
                                lam)
            cand_phi = np.where(upd_p,
                                np.clip(phi - step_p, -HALF_PI, HALF_PI), phi)
            cfx, cfy, _, _ = op._fwd(cand_lam, cand_phi, z, t)
            cres = np.maximum(np.abs(cfx - x), np.abs(cfy - y))
            accept = done | (cres <= res) | ~np.isfinite(res)
            lam = np.where(accept, cand_lam, lam)
            phi = np.where(accept, cand_phi, phi)
            trust = np.where(done, trust,
                             np.where(accept,
                                      np.minimum(trust * 2.0, max_step),
                                      trust * 0.25))
        # non-convergence -> poison, like the reference returning
        # PROJ_ERR_COORD_TRANSFM_OUTSIDE_PROJECTION_DOMAIN after its
        # iteration budget (generic_inverse.cpp:113-115)
        fx, fy, _, _ = op._fwd(lam, phi, z, t)
        bad = ~((np.abs(fx - x) < 1e-8) & (np.abs(fy - y) < 1e-8))
        lam = np.where(bad, np.nan, lam)
        phi = np.where(bad, np.nan, phi)
    return lam, phi
