"""Breadth batch 3: Putnins / McBryde / Wagner / van der Grinten II-IV /
globular family.

Vectorized numpy reimplementations of (src/projections/):
mbt_fps.cpp, mbtfpp.cpp, mbtfpq.cpp, putp2.cpp, putp3.cpp (putp3/putp3p),
putp4p.cpp (putp4p/weren), putp5.cpp (putp5/putp5p), putp6.cpp
(putp6/putp6p), urm5.cpp, urmfps.cpp (urmfps/wag1), wag2.cpp, wag3.cpp,
wag7.cpp, vandg2.cpp (vandg2/vandg3), vandg4.cpp, bacon.cpp
(bacon/apian/ortel), bertin1953.cpp, oea.cpp. Sphere-only (P->es = 0).
"""

from __future__ import annotations

import numpy as np

from ..ops import Operator, register, parse_angle, U_RADIANS, U_CLASSIC
from .core import DEG_TO_RAD, FORT_PI, HALF_PI, aasin, aacos, adjlon

_TOL = 1e-10
TWO_D_PI = 2.0 / np.pi


@register
class MbtFps(Operator):
    """McBryde-Thomas Flat-Pole Sine No. 2 (reference mbt_fps.cpp)."""

    name = "mbt_fps"
    left = U_RADIANS
    right = U_CLASSIC
    C1, C2, C3 = 0.45503, 1.36509, 1.41546
    C_x, C_y = 0.22248, 1.44492

    def _fwd(self, lam, phi, z, t):
        k = self.C3 * np.sin(phi)
        th = phi.copy()
        for _ in range(10):
            tt = th / self.C2
            V = (self.C1 * np.sin(tt) + np.sin(th) - k) / \
                (np.cos(tt) / 3.0 + np.cos(th))
            th = th - V
            if np.all(np.abs(V[np.isfinite(V)]) < 1e-7):
                break
        tt = th / self.C2
        x = self.C_x * lam * (1.0 + 3.0 * np.cos(th) / np.cos(tt))
        y = self.C_y * np.sin(tt)
        return x, y, z, t

    def _inv(self, x, y, z, t):
        tt = aasin(y / self.C_y)
        phi = self.C2 * tt
        lam = x / (self.C_x * (1.0 + 3.0 * np.cos(phi) / np.cos(tt)))
        phi = aasin((self.C1 * np.sin(tt) + np.sin(phi)) / self.C3)
        return lam, phi, z, t


def _edge_asin(v, onetol=1.0000001):
    """asin with the reference's near-edge clamp-or-poison pattern."""
    bad = np.abs(v) > onetol
    edge = (np.abs(v) >= 1.0) & ~bad
    out = np.where(edge, np.where(v < 0, -HALF_PI, HALF_PI),
                   np.arcsin(np.clip(v, -1.0, 1.0)))
    return np.where(bad, np.nan, out)


@register
class Mbtfpp(Operator):
    """McBryde-Thomas Flat-Polar Parabolic (reference mbtfpp.cpp)."""

    name = "mbtfpp"
    left = U_RADIANS
    right = U_CLASSIC
    CSy, FXC, FYC = 0.95257934441568037152, 0.92582009977255146156, \
        3.40168025708304504493
    C23, C13 = 2.0 / 3.0, 1.0 / 3.0

    def _fwd(self, lam, phi, z, t):
        ph = np.arcsin(np.clip(self.CSy * np.sin(phi), -1, 1))
        x = self.FXC * lam * (2.0 * np.cos(self.C23 * ph) - 1.0)
        y = self.FYC * np.sin(self.C13 * ph)
        return x, y, z, t

    def _inv(self, x, y, z, t):
        ph = _edge_asin(y / self.FYC)
        ph = ph * 3.0
        lam = x / (self.FXC * (2.0 * np.cos(self.C23 * ph) - 1.0))
        ph = _edge_asin(np.sin(ph) / self.CSy)
        return lam, ph, z, t


@register
class Mbtfpq(Operator):
    """McBryde-Thomas Flat-Polar Quartic (reference mbtfpq.cpp)."""

    name = "mbtfpq"
    left = U_RADIANS
    right = U_CLASSIC
    C = 1.70710678118654752440
    RC = 0.58578643762690495119
    FYC, RYC = 1.87475828462269495505, 0.53340209679417701685
    FXC, RXC = 0.31245971410378249250, 3.20041258076506210122

    def _fwd(self, lam, phi, z, t):
        c = self.C * np.sin(phi)
        th = phi.copy()
        for _ in range(20):
            th1 = (np.sin(0.5 * th) + np.sin(th) - c) / \
                (0.5 * np.cos(0.5 * th) + np.cos(th))
            th = th - th1
            if np.all(np.abs(th1[np.isfinite(th1)]) < 1e-7):
                break
        x = self.FXC * lam * (1.0 + 2.0 * np.cos(th) / np.cos(0.5 * th))
        y = self.FYC * np.sin(0.5 * th)
        return x, y, z, t

    def _inv(self, x, y, z, t):
        ONETOL = 1.000001
        v = self.RYC * y
        bad = np.abs(v) > ONETOL
        over = (np.abs(v) > 1.0) & ~bad
        tvar = np.where(over, np.where(v < 0, -1.0, 1.0), v)
        ph = np.where(over, np.where(v < 0, -np.pi, np.pi),
                      2.0 * np.arcsin(np.clip(v, -1.0, 1.0)))
        lam = self.RXC * x / (1.0 + 2.0 * np.cos(ph) / np.cos(0.5 * ph))
        ph = self.RC * (tvar + np.sin(ph))
        ph = _edge_asin(ph, ONETOL)
        return np.where(bad, np.nan, lam), np.where(bad, np.nan, ph), z, t


@register
class Putp2(Operator):
    """Putnins P2 (reference putp2.cpp)."""

    name = "putp2"
    left = U_RADIANS
    right = U_CLASSIC
    C_x, C_y, C_p = 1.89490, 1.71848, 0.6141848493043784
    PI_DIV_3 = 1.0471975511965977

    def _fwd(self, lam, phi, z, t):
        p = self.C_p * np.sin(phi)
        p2 = phi * phi
        th = phi * (0.615709 + p2 * (0.00909953 + p2 * 0.0046292))
        conv = np.zeros(th.shape, dtype=bool)
        for _ in range(10):
            c = np.cos(th)
            s = np.sin(th)
            V = (th + s * (c - 1.0) - p) / (1.0 + c * (c - 1.0) - s * s)
            th = np.where(conv, th, th - V)
            conv |= np.abs(V) < 1e-10
            if np.all(conv):
                break
        th = np.where(conv, th,
                      np.where(th < 0, -self.PI_DIV_3, self.PI_DIV_3))
        x = self.C_x * lam * (np.cos(th) - 0.5)
        y = self.C_y * np.sin(th)
        return x, y, z, t

    def _inv(self, x, y, z, t):
        ph = aasin(y / self.C_y)
        c = np.cos(ph)
        lam = x / (self.C_x * (c - 0.5))
        ph = aasin((ph + np.sin(ph) * (c - 1.0)) / self.C_p)
        return lam, ph, z, t


class _Putp3Base(Operator):
    left = U_RADIANS
    right = U_CLASSIC
    C = 0.79788456
    A = 4.0 * 0.1013211836

    def _fwd(self, lam, phi, z, t):
        x = self.C * lam * (1.0 - self.A * phi * phi)
        return x, self.C * phi, z, t

    def _inv(self, x, y, z, t):
        phi = y / self.C
        lam = x / (self.C * (1.0 - self.A * phi * phi))
        return lam, phi, z, t


@register
class Putp3(_Putp3Base):
    """Putnins P3 (reference putp3.cpp)."""

    name = "putp3"


@register
class Putp3p(_Putp3Base):
    """Putnins P3' (reference putp3.cpp:56-68)."""

    name = "putp3p"
    A = 2.0 * 0.1013211836


class _Putp4pBase(Operator):
    left = U_RADIANS
    right = U_CLASSIC
    C_x, C_y = 0.874038744, 3.883251825

    def _fwd(self, lam, phi, z, t):
        ph = aasin(0.883883476 * np.sin(phi))
        x = self.C_x * lam * np.cos(ph)
        ph = ph / 3.0
        x = x / np.cos(ph)
        y = self.C_y * np.sin(ph)
        return x, y, z, t

    def _inv(self, x, y, z, t):
        ph = aasin(y / self.C_y)
        lam = x * np.cos(ph) / self.C_x
        ph = ph * 3.0
        lam = lam / np.cos(ph)
        ph = aasin(1.13137085 * np.sin(ph))
        return lam, ph, z, t


@register
class Putp4p(_Putp4pBase):
    """Putnins P4' (reference putp4p.cpp)."""

    name = "putp4p"


@register
class Weren(_Putp4pBase):
    """Werenskiold I (reference putp4p.cpp:56-68)."""

    name = "weren"
    C_x, C_y = 1.0, 4.442882938


class _Putp5Base(Operator):
    left = U_RADIANS
    right = U_CLASSIC
    C, D = 1.01346, 1.2158542
    A, B = 2.0, 1.0

    def _fwd(self, lam, phi, z, t):
        x = self.C * lam * (self.A - self.B * np.sqrt(1.0 + self.D * phi * phi))
        return x, self.C * phi, z, t

    def _inv(self, x, y, z, t):
        phi = y / self.C
        lam = x / (self.C * (self.A - self.B * np.sqrt(1.0 + self.D * phi * phi)))
        return lam, phi, z, t


@register
class Putp5(_Putp5Base):
    """Putnins P5 (reference putp5.cpp)."""

    name = "putp5"


@register
class Putp5p(_Putp5Base):
    """Putnins P5' (reference putp5.cpp:51-63)."""

    name = "putp5p"
    A, B = 1.5, 0.5


class _Putp6Base(Operator):
    left = U_RADIANS
    right = U_CLASSIC
    C_x, C_y, A, B, D = 1.01346, 0.91910, 4.0, 2.1471437182129378784, 2.0
    CON_POLE = 1.732050807568877

    def _fwd(self, lam, phi, z, t):
        p = self.B * np.sin(phi)
        th = phi * 1.10265779
        conv = np.zeros(th.shape, dtype=bool)
        for _ in range(10):
            r = np.sqrt(1.0 + th * th)
            V = ((self.A - r) * th - np.log(th + r) - p) / (self.A - 2.0 * r)
            th = np.where(conv, th, th - V)
            conv |= np.abs(V) < 1e-10
            if np.all(conv):
                break
        r = np.where(conv, np.sqrt(1.0 + th * th), 2.0)
        th = np.where(conv, th,
                      np.where(p < 0.0, -self.CON_POLE, self.CON_POLE))
        x = self.C_x * lam * (self.D - r)
        y = self.C_y * th
        return x, y, z, t

    def _inv(self, x, y, z, t):
        phi = y / self.C_y
        r = np.sqrt(1.0 + phi * phi)
        lam = x / (self.C_x * (self.D - r))
        phi = aasin(((self.A - r) * phi - np.log(phi + r)) / self.B)
        return lam, phi, z, t


@register
class Putp6(_Putp6Base):
    """Putnins P6 (reference putp6.cpp)."""

    name = "putp6"


@register
class Putp6p(_Putp6Base):
    """Putnins P6' (reference putp6.cpp:84-99)."""

    name = "putp6p"
    C_x, C_y, A, B, D = 0.44329, 0.80404, 6.0, 5.61125, 3.0


@register
class Urm5(Operator):
    """Urmaev V (reference urm5.cpp); +n +q +alpha, no inverse."""

    name = "urm5"
    left = U_RADIANS
    right = U_CLASSIC
    has_inverse = False

    def setup(self):
        if "n" not in self.params:
            raise ValueError("urm5 requires +n")
        self.n = float(self.params["n"])
        if not 0.0 < self.n <= 1.0:
            from ..errors import illegal_arg
            illegal_arg("urm5: n should be in ]0,1]")
        self.q3 = float(self.params.get("q", 0.0)) / 3.0
        alpha = parse_angle(self.params.get("alpha", 0.0)) * DEG_TO_RAD
        tt = self.n * np.sin(alpha)
        denom = np.sqrt(1.0 - tt * tt)
        if denom == 0 or not np.isfinite(denom):
            from ..errors import illegal_arg
            illegal_arg("urm5: n*sin(|alpha|) should be < 1")
        self.m = np.cos(alpha) / denom
        self.rmn = 1.0 / (self.m * self.n)

    def _fwd(self, lam, phi, z, t):
        ph = aasin(self.n * np.sin(phi))
        x = self.m * lam * np.cos(ph)
        y = ph * (1.0 + ph * ph * self.q3) * self.rmn
        return x, y, z, t


class _UrmfpsBase(Operator):
    left = U_RADIANS
    right = U_CLASSIC
    C_x = 0.8773826753
    Cy = 1.139753528477

    def setup(self):
        self._setup_n()
        self.C_y = self.Cy / self.n

    def _setup_n(self):
        if "n" not in self.params:
            raise ValueError("urmfps requires +n")
        self.n = float(self.params["n"])
        if not 0.0 < self.n <= 1.0:
            raise ValueError("urmfps +n must be in ]0,1]")

    def _fwd(self, lam, phi, z, t):
        ph = aasin(self.n * np.sin(phi))
        x = self.C_x * lam * np.cos(ph)
        y = self.C_y * ph
        return x, y, z, t

    def _inv(self, x, y, z, t):
        yy = y / self.C_y
        phi = aasin(np.sin(yy) / self.n)
        lam = x / (self.C_x * np.cos(yy))
        return lam, phi, z, t


@register
class Urmfps(_UrmfpsBase):
    """Urmaev Flat-Polar Sinusoidal (reference urmfps.cpp)."""

    name = "urmfps"


@register
class Wag1(_UrmfpsBase):
    """Wagner I / Kavrayskiy VI (reference urmfps.cpp:61-72):
    urmfps with n = sqrt(3)/2."""

    name = "wag1"

    def _setup_n(self):
        self.n = 0.8660254037844386467637231707


@register
class Wag2(Operator):
    """Wagner II (reference wag2.cpp)."""

    name = "wag2"
    left = U_RADIANS
    right = U_CLASSIC
    C_x, C_y, C_p1, C_p2 = 0.92483, 1.38725, 0.88022, 0.88550

    def _fwd(self, lam, phi, z, t):
        ph = aasin(self.C_p1 * np.sin(self.C_p2 * phi))
        return self.C_x * lam * np.cos(ph), self.C_y * ph, z, t

    def _inv(self, x, y, z, t):
        ph = y / self.C_y
        lam = x / (self.C_x * np.cos(ph))
        ph = aasin(np.sin(ph) / self.C_p1) / self.C_p2
        return lam, ph, z, t


@register
class Wag3(Operator):
    """Wagner III (reference wag3.cpp); +lat_ts."""

    name = "wag3"
    left = U_RADIANS
    right = U_CLASSIC

    def setup(self):
        ts = parse_angle(self.params.get("lat_ts", 0.0)) * DEG_TO_RAD
        self.C_x = np.cos(ts) / np.cos(2.0 * ts / 3.0)

    def _fwd(self, lam, phi, z, t):
        return self.C_x * lam * np.cos(2.0 / 3.0 * phi), phi, z, t

    def _inv(self, x, y, z, t):
        return x / (self.C_x * np.cos(2.0 / 3.0 * y)), y, z, t


@register
class Wag7(Operator):
    """Wagner VII (reference wag7.cpp); no inverse."""

    name = "wag7"
    left = U_RADIANS
    right = U_CLASSIC
    has_inverse = False

    def _fwd(self, lam, phi, z, t):
        s = 0.90630778703664996 * np.sin(phi)
        theta = np.arcsin(np.clip(s, -1, 1))
        ct = np.cos(theta)
        lam3 = lam / 3.0
        x = 2.66723 * ct * np.sin(lam3)
        D = 1.0 / np.sqrt(0.5 * (1.0 + ct * np.cos(lam3)))
        y = s * 1.24104 * D
        x = x * D
        return x, y, z, t


class _Vandg2Base(Operator):
    left = U_RADIANS
    right = U_CLASSIC
    has_inverse = False
    vdg3 = False

    def _fwd(self, lam, phi, z, t):
        bt = np.abs(TWO_D_PI * phi)
        ct = np.sqrt(np.clip(1.0 - bt * bt, 0.0, None))
        center = np.abs(lam) < _TOL
        with np.errstate(divide="ignore", invalid="ignore"):
            at = 0.5 * np.abs(np.pi / lam - lam / np.pi)
            if self.vdg3:
                x1 = bt / (1.0 + ct)
                x = np.pi * (np.sqrt(at * at + 1.0 - x1 * x1) - at)
                y = np.pi * x1
            else:
                x1 = (ct * np.sqrt(1.0 + at * at) - at * ct * ct) / \
                    (1.0 + at * at * bt * bt)
                x = np.pi * x1
                y = np.pi * np.sqrt(np.clip(
                    1.0 - x1 * (x1 + 2.0 * at) + _TOL, 0.0, None))
        x = np.where(lam < 0.0, -x, x)
        y = np.where(phi < 0.0, -y, y)
        x = np.where(center, 0.0, x)
        y = np.where(center,
                     np.pi * np.where(phi < 0.0, -bt, bt) / (1.0 + ct), y)
        return x, y, z, t


@register
class Vandg2(_Vandg2Base):
    """van der Grinten II (reference vandg2.cpp)."""

    name = "vandg2"


@register
class Vandg3(_Vandg2Base):
    """van der Grinten III (reference vandg2.cpp:73-84)."""

    name = "vandg3"
    vdg3 = True


@register
class Vandg4(Operator):
    """van der Grinten IV (reference vandg4.cpp); no inverse."""

    name = "vandg4"
    left = U_RADIANS
    right = U_CLASSIC
    has_inverse = False

    def _fwd(self, lam, phi, z, t):
        eq = np.abs(phi) < _TOL
        merid = (np.abs(lam) < _TOL) | (np.abs(np.abs(phi) - HALF_PI) < _TOL)
        with np.errstate(divide="ignore", invalid="ignore"):
            bt = np.abs(TWO_D_PI * phi)
            bt2 = bt * bt
            ct = 0.5 * (bt * (8.0 - bt * (2.0 + bt2)) - 5.0) / (bt2 * (bt - 1.0))
            ct2 = ct * ct
            dt = TWO_D_PI * lam
            dt = dt + 1.0 / dt
            dt = np.sqrt(np.clip(dt * dt - 4.0, 0.0, None))
            dt = np.where((np.abs(lam) - HALF_PI) < 0.0, -dt, dt)
            dt2 = dt * dt
            x1 = (bt + ct) ** 2
            tt = bt + 3.0 * ct
            ft = x1 * (bt2 + ct2 * dt2 - 1.0) + (1.0 - bt2) * (
                bt2 * (tt * tt + 4.0 * ct2) + ct2 * (12.0 * bt * ct + 4.0 * ct2))
            x1v = (dt * (x1 + ct2 - 1.0) + 2.0 * np.sqrt(np.clip(ft, 0.0, None))) \
                / (4.0 * x1 + dt2)
            x = HALF_PI * x1v
            y = HALF_PI * np.sqrt(np.clip(
                1.0 + dt * np.abs(x1v) - x1v * x1v, 0.0, None))
        x = np.where(lam < 0.0, -x, x)
        y = np.where(phi < 0.0, -y, y)
        x = np.select([eq, merid], [lam, 0.0], default=x)
        y = np.select([eq, merid], [0.0, phi], default=y)
        return x, y, z, t


class _BaconBase(Operator):
    left = U_RADIANS
    right = U_CLASSIC
    has_inverse = False
    bacn = False
    ortl = False
    HLFPI2 = 2.46740110027233965467

    def _fwd(self, lam, phi, z, t):
        EPS = 1e-10
        y = HALF_PI * np.sin(phi) if self.bacn else phi
        ax = np.abs(lam)
        with np.errstate(divide="ignore", invalid="ignore"):
            f = 0.5 * (self.HLFPI2 / ax + ax)
            x_arc = ax - f + np.sqrt(np.clip(f * f - y * y, 0.0, None))
            if self.ortl:
                x_ort = np.sqrt(self.HLFPI2 - phi * phi + EPS) + ax - HALF_PI
                x_arc = np.where(ax >= HALF_PI, x_ort, x_arc)
        x = np.where(ax < EPS, 0.0, np.where(lam < 0.0, -x_arc, x_arc))
        return x, y, z, t


@register
class Bacon(_BaconBase):
    """Bacon Globular (reference bacon.cpp)."""

    name = "bacon"
    bacn = True


@register
class Apian(_BaconBase):
    """Apian Globular I (reference bacon.cpp:57-67)."""

    name = "apian"


@register
class Ortel(_BaconBase):
    """Ortelius Oval (reference bacon.cpp:69-80)."""

    name = "ortel"
    ortl = True


@register
class Bertin1953(Operator):
    """Bertin 1953 (reference bertin1953.cpp); fixed orientation, no
    inverse."""

    name = "bertin1953"
    left = U_RADIANS
    right = U_CLASSIC
    has_inverse = False

    def setup(self):
        # fixed projection center (bertin1953.cpp:81-88)
        self.lam0 = 0.0
        phi0 = -42.0 * DEG_TO_RAD
        self.cos_dphi = np.cos(phi0)
        self.sin_dphi = np.sin(phi0)

    def _fwd(self, lam, phi, z, t):
        fu, k, w = 1.4, 12.0, 1.68
        lam = lam + (-16.5 * DEG_TO_RAD)
        cosphi = np.cos(phi)
        x = np.cos(lam) * cosphi
        y = np.sin(lam) * cosphi
        zz = np.sin(phi)
        z0 = zz * self.cos_dphi + x * self.sin_dphi
        lam = np.arctan2(y, x * self.cos_dphi - zz * self.sin_dphi)
        phi = np.arcsin(np.clip(z0, -1.0, 1.0))
        lam = adjlon(lam)
        # pre-projection warp
        warp = lam + phi < -fu
        d = (lam - phi + 1.6) * (lam + phi + fu) / 8.0
        lam = np.where(warp, lam + d, lam)
        phi = np.where(warp, phi - 0.8 * d * np.sin(phi + np.pi / 2.0), phi)
        # Hammer (1.68, 2)
        cosphi = np.cos(phi)
        d = np.sqrt(2.0 / (1.0 + cosphi * np.cos(lam / 2.0)))
        xo = w * d * cosphi * np.sin(lam / 2.0)
        yo = d * np.sin(phi)
        # post-projection warp
        d = (1.0 - np.cos(lam * phi)) / k
        xo = np.where(yo < 0.0, xo * (1.0 + d), xo)
        yo = np.where(yo > 0.0, yo * (1.0 + d / 1.5 * xo * xo), yo)
        return xo, yo, z, t


@register
class Oea(Operator):
    """Oblated Equal Area (reference oea.cpp); +n +m +theta."""

    name = "oea"
    left = U_RADIANS
    right = U_CLASSIC

    def setup(self):
        self.n = float(self.params.get("n", 0.0))
        if self.n <= 0.0:
            raise ValueError("oea +n must be > 0")
        self.m = float(self.params.get("m", 0.0))
        if self.m <= 0.0:
            raise ValueError("oea +m must be > 0")
        self.theta = parse_angle(self.params.get("theta", 0.0)) * DEG_TO_RAD
        self.sp0 = np.sin(self.phi0)
        self.cp0 = np.cos(self.phi0)
        self.rn, self.rm = 1.0 / self.n, 1.0 / self.m
        self.two_r_n, self.two_r_m = 2.0 * self.rn, 2.0 * self.rm
        self.hm, self.hn = 0.5 * self.m, 0.5 * self.n

    def _fwd(self, lam, phi, z, t):
        cp = np.cos(phi)
        sp = np.sin(phi)
        cl = np.cos(lam)
        Az = np.arctan2(cp * np.sin(lam),
                        self.cp0 * sp - self.sp0 * cp * cl) + self.theta
        shz = np.sin(0.5 * aacos(self.sp0 * sp + self.cp0 * cp * cl))
        M = aasin(shz * np.sin(Az))
        N = aasin(shz * np.cos(Az) * np.cos(M) / np.cos(M * self.two_r_m))
        y = self.n * np.sin(N * self.two_r_n)
        x = self.m * np.sin(M * self.two_r_m) * np.cos(N) / \
            np.cos(N * self.two_r_n)
        return x, y, z, t

    def _inv(self, x, y, z, t):
        N = self.hn * aasin(y * self.rn)
        M = self.hm * aasin(x * self.rm * np.cos(N * self.two_r_n) / np.cos(N))
        xp = 2.0 * np.sin(M)
        yp = 2.0 * np.sin(N) * np.cos(M * self.two_r_m) / np.cos(M)
        Az = np.arctan2(xp, yp) - self.theta
        cAz = np.cos(Az)
        zz = 2.0 * aasin(0.5 * np.hypot(xp, yp))
        sz = np.sin(zz)
        cz = np.cos(zz)
        phi = aasin(self.sp0 * cz + self.cp0 * sz * cAz)
        lam = np.arctan2(sz * np.sin(Az), self.cp0 * cz - self.sp0 * sz * cAz)
        return lam, phi, z, t
