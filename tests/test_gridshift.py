"""Grid-shift kernel tests: bilinear correctness, domain poison, inverse."""

from __future__ import annotations

import numpy as np
import pytest

import proj_spark
from proj_spark.kernels.gridshift import get_grid


def test_bilinear_matches_manual():
    g = get_grid("synthetic_world")
    lon = np.array([12.3, -77.77, 179.0])
    lat = np.array([48.9, -33.21, 84.9])
    dlon, dlat, dz = g.interp(lon, lat)
    for i in range(len(lon)):
        fx = (lon[i] + 180.0) / 5.0
        fy = (lat[i] + 90.0) / 5.0
        c0, r0 = int(fx), int(fy)
        wx, wy = fx - c0, fy - r0
        def val(r, c, b):
            return (((r * 7919 + c * 104729 + b * 15485863) % 2000) - 1000) / 100.0
        want = (val(r0, c0, 0) * (1 - wx) * (1 - wy) + val(r0, c0 + 1, 0) * wx * (1 - wy)
                + val(r0 + 1, c0, 0) * (1 - wx) * wy + val(r0 + 1, c0 + 1, 0) * wx * wy)
        assert abs(dlon[i] - want) < 1e-12


def test_outside_grid_poisons():
    g = get_grid("synthetic_fine")  # covers lon [-10, 30], lat [35, 60]
    dlon, dlat, dz = g.interp(np.array([-50.0, 5.0]), np.array([40.0, 40.0]))
    assert np.isnan(dlon[0]) and np.isfinite(dlon[1])


def test_nan_input_poisons_without_raising():
    """A NaN coordinate (e.g. an inverse guess that left the grid) gives
    NaN shifts, not an out-of-range index from casting NaN to int64."""
    g = get_grid("synthetic_world")
    out = g.interp(np.array([np.nan, 10.0, 12.3]), np.array([0.0, np.nan, 48.9]))
    for band in out:
        assert np.isnan(band[:2]).all() and np.isfinite(band[2])


def _shift_across_east_edge(proj):
    """(operator, forward output) for lon 179.99906, which the forward
    shift moves east of the synthetic world grid's 180 deg edge."""
    op = proj_spark.create(f"+proj={proj} +grids=synthetic_world")
    lam, phi = np.radians([179.99906]), np.radians([-26.85298])
    x, y, z, t = op.fwd(lam, phi, np.zeros(1), np.full(1, np.nan))
    assert np.degrees(x[0]) > 180.0
    return op, (x, y, z, t)


@pytest.mark.parametrize("proj", ["gridshift", "hgridshift"])
def test_inverse_from_outside_grid_does_not_raise(proj):
    op, fwd = _shift_across_east_edge(proj)
    op.inv(*fwd)


@pytest.mark.xfail(strict=True, reason=(
    "known defect: the inverse starts outside the grid and returns NaN. "
    "The grid's -180 and 180 columns hold different values, so a 360 deg "
    "wrap would return the other preimage, lon -179.99959 (ROADMAP)"))
@pytest.mark.parametrize("proj", ["gridshift", "hgridshift"])
def test_roundtrip_across_east_edge(proj):
    op, fwd = _shift_across_east_edge(proj)
    xi, yi, _, _ = op.inv(*fwd)
    assert abs(np.degrees(xi[0]) - 179.99906) < 1e-8
    assert abs(np.degrees(yi[0]) + 26.85298) < 1e-8


def test_hgridshift_roundtrip_below_mm():
    op = proj_spark.create("+proj=hgridshift +grids=synthetic_fine")
    rng = np.random.default_rng(2)
    lam = np.radians(rng.uniform(-9, 29, 5000))
    phi = np.radians(rng.uniform(35.5, 59.5, 5000))
    x, y, z, t = op.fwd(lam, phi)
    xi, yi, _, _ = op.inv(x, y, z, t)
    # 1e-9 deg north-star bar
    assert np.nanmax(np.abs(np.degrees(xi - lam))) < 1e-9
    assert np.nanmax(np.abs(np.degrees(yi - phi))) < 1e-9


def test_vgridshift_exact_inverse():
    op = proj_spark.create("+proj=vgridshift +grids=synthetic_world +multiplier=2.5")
    lam = np.radians(np.array([10.0, -120.0]))
    phi = np.radians(np.array([45.0, -20.0]))
    z = np.array([100.0, -30.0])
    x, y, z2, t = op.fwd(lam, phi, z)
    _, _, z3, _ = op.inv(x, y, z2, t)
    assert np.allclose(z3, z, atol=1e-12)
    assert not np.allclose(z2, z)


def test_pipeline_hv_composition():
    p = proj_spark.create(
        "+proj=pipeline +step +proj=hgridshift +grids=synthetic_world "
        "+step +proj=vgridshift +grids=synthetic_world")
    lam = np.radians(np.array([33.0]))
    phi = np.radians(np.array([11.0]))
    z = np.array([5.0])
    x, y, z2, t = p.fwd(lam, phi, z)
    xi, yi, zi, _ = p.inv(x, y, z2, t)
    assert abs(np.degrees(xi[0] - lam[0])) < 1e-9
    assert abs(zi[0] - 5.0) < 1e-6
