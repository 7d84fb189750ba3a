"""Text-pipe application surface — the reference's CLI apps re-expressed as
composable line-filter functions (SURVEY.md §2.1):

- :func:`proj_filter`   — src/apps/proj.cpp:63-190 (forward/inverse project,
  ``-S`` factors columns, DMS output for inverse)
- :func:`cs2cs_filter`  — src/apps/cs2cs.cpp:101-200 (CRS -> CRS transform)
- :func:`geod_filter`   — src/apps/geod.cpp:38-96 (geodesic direct/inverse)
- :func:`cct_filter`    — src/apps/cct.cpp:96-134 (4D filter, column select)
- :func:`rtodms` / :func:`dmstor` — src/rtodms.cpp / src/dmstor.cpp
- :func:`trans_bounds`  — densified bbox transform
  (proj_trans_bounds, src/4D_api.cpp:1480-1539)

Each filter takes an iterable of text lines and yields output lines, so
``proj_filter(op, sys.stdin)`` behaves like ``echo ... | proj ...``. On
Spark the same operators run as fused Arrow-UDF stages (stages.py); these
filters exist for CLI parity and tiny driver-side jobs.
"""

from __future__ import annotations

import math
from typing import Iterable, Iterator

import numpy as np

from .crs import create, create_crs_to_crs
from .ops import parse_angle
from .kernels.core import DEG_TO_RAD, RAD_TO_DEG, Ellipsoid, resolve_ellipsoid
from .kernels import geodesic as geod


def dmstor(tok: str) -> float:
    """DMS or decimal token -> radians (reference src/dmstor.cpp)."""
    return parse_angle(tok) * DEG_TO_RAD


def rtodms(r_deg: float, pos: str = "", neg: str = "-", fract: int = 3) -> str:
    """Degrees -> DdM'S.SSS" text (reference src/rtodms.cpp:35-100):
    rounded at the seconds resolution, trailing zeros of the seconds
    trimmed."""
    sign = pos
    r = r_deg
    if r < 0:
        r = -r
        sign = neg
    res = 10.0 ** fract
    conv = 3600.0 * res
    total = math.floor(r * conv + 0.5)
    sec = (total / res) % 60.0
    total = math.floor(total / (res * 60.0))
    minute = int(total % 60)
    deg = int(total // 60)
    sec_s = f"{sec:.{fract}f}".rstrip("0").rstrip(".")
    body = f"{deg}d{minute}'{sec_s}\"" if sec_s not in ("", "0") else \
        (f"{deg}d{minute}'" if minute else f"{deg}d")
    if sign and sign != "-":
        return body + sign
    return ("-" if sign == "-" else "") + body


def _parse_line(line: str, n: int = 2):
    toks = line.split()
    vals = [parse_angle(t) for t in toks[:n]]
    rest = " ".join(toks[n:])
    return vals, rest


def proj_filter(op_def: str, lines: Iterable[str], inverse: bool = False,
                factors: bool = False, precision: int = 2,
                dms_out: bool = True) -> Iterator[str]:
    """``proj`` app emulation: lines of "lon lat [extra]" -> projected
    "x y [extra]" (or the reverse with ``inverse``); ``factors`` appends
    the ``-S`` scale-factor columns <h k s omega> (proj.cpp:122-132)."""
    op = create(op_def) if isinstance(op_def, str) else op_def
    from .factors import factors as compute_factors
    for line in lines:
        line = line.strip()
        if not line or line.startswith("#"):
            yield line
            continue
        (u, v), rest = _parse_line(line)
        if inverse:
            lam, phi, _, _ = op.inv(np.array([u]), np.array([v]))
            if np.isnan(lam[0]):
                out = "*\t*"
            elif dms_out:
                out = (rtodms(float(lam[0]) * RAD_TO_DEG, "E", "W") + "\t"
                       + rtodms(float(phi[0]) * RAD_TO_DEG, "N", "S"))
            else:
                out = (f"{float(lam[0]) * RAD_TO_DEG:.{precision + 6}f}\t"
                       f"{float(phi[0]) * RAD_TO_DEG:.{precision + 6}f}")
        else:
            x, y, _, _ = op.fwd(np.array([u * DEG_TO_RAD]),
                                np.array([v * DEG_TO_RAD]))
            if np.isnan(x[0]):
                out = "*\t*"
            else:
                out = f"{float(x[0]):.{precision}f}\t{float(y[0]):.{precision}f}"
            if factors:
                f = compute_factors(op, np.array([u * DEG_TO_RAD]),
                                    np.array([v * DEG_TO_RAD]))
                out += ("\t<%.5f %.5f %.5f %.5f>"
                        % (f["h"][0], f["k"][0], f["s"][0], f["omega"][0]))
        yield out + ("\t" + rest if rest else "")


def cs2cs_filter(src: str, dst: str, lines: Iterable[str],
                 precision: int = 3) -> Iterator[str]:
    """``cs2cs`` app emulation: "u v [z]" in the source CRS ->
    "x y [z]" in the target CRS (cs2cs.cpp:101-200).

    Angular vs linear handling follows the source/target CRS (reference
    proj_angular_input/output): geographic-source input is parsed as
    degrees/DMS and converted to radians; geographic-target output is
    printed in degrees; projected coordinates pass through in metres.
    """
    from .crs import crs_is_geographic
    pipe = create_crs_to_crs(src, dst)
    src_geo = crs_is_geographic(src)
    dst_geo = crs_is_geographic(dst)
    for line in lines:
        line = line.strip()
        if not line or line.startswith("#"):
            yield line
            continue
        toks = line.split()
        if src_geo:
            u = parse_angle(toks[0]) * DEG_TO_RAD
            v = parse_angle(toks[1]) * DEG_TO_RAD
        else:
            u = float(toks[0])
            v = float(toks[1])
        z = float(toks[2]) if len(toks) > 2 else 0.0
        x, y, zz, _ = pipe.fwd(np.array([u]), np.array([v]), np.array([z]))
        if np.isnan(x[0]):
            yield "*\t*"
            continue
        if dst_geo:
            x = x * RAD_TO_DEG
            y = y * RAD_TO_DEG
        yield (f"{float(x[0]):.{precision}f}\t{float(y[0]):.{precision}f} "
               f"{float(zz[0]):.{precision}f}")


def geod_filter(ell_def: str, lines: Iterable[str],
                inverse: bool = False) -> Iterator[str]:
    """``geod`` app emulation (geod.cpp:38-96): direct lines are
    "lat1 lon1 azi1 s12" -> "lat2 lon2 azi2"; with ``inverse``,
    "lat1 lon1 lat2 lon2" -> "azi1 azi2 s12"."""
    from .crs import parse_proj_params
    params = parse_proj_params(ell_def)[0] if ell_def else {}
    ell = resolve_ellipsoid(params)
    solver = geod.solver(ell)
    r = DEG_TO_RAD
    for line in lines:
        line = line.strip()
        if not line or line.startswith("#"):
            yield line
            continue
        toks = [parse_angle(t) for t in line.split()]
        if inverse:
            lat1, lon1, lat2, lon2 = toks[:4]
            s12, a1, a2 = solver.inverse(np.array([lon1 * r]), np.array([lat1 * r]),
                                         np.array([lon2 * r]), np.array([lat2 * r]))
            yield (f"{float(a1[0]) * RAD_TO_DEG:.9f}\t"
                   f"{float(a2[0]) * RAD_TO_DEG:.9f}\t{float(s12[0]):.3f}")
        else:
            lat1, lon1, a1, s12 = toks[:4]
            lon2, lat2, a2 = solver.direct(np.array([lon1 * r]), np.array([lat1 * r]),
                                           np.array([a1 * r]), np.array([s12]))
            yield (f"{float(lat2[0]) * RAD_TO_DEG:.9f}\t"
                   f"{float(lon2[0]) * RAD_TO_DEG:.9f}\t"
                   f"{float(a2[0]) * RAD_TO_DEG:.9f}")


def cct_filter(op_def: str, lines: Iterable[str], inverse: bool = False,
               skip_lines: int = 0, precision: int = 4) -> Iterator[str]:
    """``cct`` app emulation (cct.cpp:96-134): 4D "x y [z [t]]" lines
    through the operation; angular i/o in degrees like cct's default."""
    op = create(op_def) if isinstance(op_def, str) else op_def
    from .ops import U_RADIANS
    n = 0
    for line in lines:
        n += 1
        raw = line.rstrip("\n")
        if n <= skip_lines or not raw.strip() or raw.lstrip().startswith("#"):
            yield raw
            continue
        toks = raw.split()
        vals = [parse_angle(t) for t in toks[:4]]
        while len(vals) < 4:
            vals.append(0.0)
        x, y, z, t = (np.array([vals[0]]), np.array([vals[1]]),
                      np.array([vals[2]]), np.array([vals[3]]))
        direction = "inverse" if inverse else "forward"
        if op.input_units(direction) == U_RADIANS:
            x = x * DEG_TO_RAD
            y = y * DEG_TO_RAD
        ox, oy, oz, ot = op.apply(direction, x, y, z, t)
        if op.output_units(direction) == U_RADIANS:
            ox = ox * RAD_TO_DEG
            oy = oy * RAD_TO_DEG
        yield ("%14.*f %14.*f %12.*f %12.4f" %
               (precision, float(ox[0]), precision, float(oy[0]),
                precision, float(oz[0]), float(ot[0])))


def trans_bounds(op, xmin: float, ymin: float, xmax: float, ymax: float,
                 densify_pts: int = 21, direction: str = "forward"):
    """Transform a bounding box by densifying its edges (reference
    proj_trans_bounds, src/4D_api.cpp:1480-1539: >= 2, <= 10000 points per
    side; the output box is the min/max of the transformed edge samples).
    Input/output in the operator's native io-units (radians for angular)."""
    if not 2 <= densify_pts <= 10000:
        raise ValueError("densify_pts must be in [2, 10000]")
    xs = np.linspace(xmin, xmax, densify_pts)
    ys = np.linspace(ymin, ymax, densify_pts)
    ex = np.concatenate([xs, np.full(densify_pts, xmax), xs[::-1],
                         np.full(densify_pts, xmin)])
    ey = np.concatenate([np.full(densify_pts, ymin), ys, np.full(densify_pts, ymax),
                         ys[::-1]])
    ox, oy, _, _ = op.apply(direction, ex, ey)
    ok = np.isfinite(ox) & np.isfinite(oy)
    if not np.any(ok):
        return (np.nan, np.nan, np.nan, np.nan)
    return (float(np.min(ox[ok])), float(np.min(oy[ok])),
            float(np.max(ox[ok])), float(np.max(oy[ok])))
