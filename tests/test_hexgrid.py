"""Property tests for the aperture-7 hex hierarchy (proj_spark/hexgrid.py).

The load-bearing claim (docstring math): parent(u*p + d) == p for every
integer axial cell p and every digit d — i.e. the 7-ary id tree is exact,
not approximate. hypothesis sweeps the lattice; the geometric mapping and
the packed-id truncation rule are checked alongside.
"""

from __future__ import annotations

import sys
from pathlib import Path

import numpy as np
from hypothesis import given, settings
from hypothesis import strategies as st

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))

from proj_spark.hexgrid import (  # noqa: E402
    DIGITS, child_digit, cube_round, cube_round_sql, hex_ancestry,
    hex_children, hex_parent, xy_to_hex)

coord = st.integers(min_value=-10**6, max_value=10**6)


@given(coord, coord)
@settings(max_examples=300, deadline=None)
def test_children_roundtrip_and_digits(pq, pr):
    """All 7 children of p have parent p, distinct digits 0..6."""
    cq, cr = hex_children(pq, pr)
    gq, gr = hex_parent(cq, cr)
    assert (gq == pq).all() and (gr == pr).all()
    d = child_digit(cq, cr, gq, gr)
    assert sorted(d.tolist()) == list(range(7))


@given(coord, coord)
@settings(max_examples=300, deadline=None)
def test_parent_digit_reconstruction(q, r):
    """Every cell decomposes uniquely as u*parent + DIGITS[digit]."""
    pq, pr = hex_parent(q, r)
    d = int(child_digit(q, r, pq, pr))
    assert 0 <= d <= 6
    a, b = DIGITS[d]
    assert q == 2 * int(pq) - int(pr) + a
    assert r == int(pq) + 3 * int(pr) + b


@given(coord, coord)
@settings(max_examples=200, deadline=None)
def test_ancestry_chain(q, r):
    """hex_ancestry coarsens by one aperture-7 level per step."""
    # synthesize a plane point at the cell center: pointy-top basis
    size = 100.0
    x = size * np.sqrt(3.0) * (q + r / 2.0)
    y = size * 1.5 * r
    chain = hex_ancestry(x, y, size, levels=3)
    assert int(chain[0][0]) == q and int(chain[0][1]) == r
    for (cq, cr), (paq, par) in zip(chain, chain[1:]):
        pq, pr = hex_parent(cq, cr)
        assert int(pq) == int(paq) and int(pr) == int(par)


def test_cube_round_at_centers_and_offsets():
    """Small geometric offsets from a center stay in the cell (inradius
    of the axial Voronoi hexagon is 1/2 lattice unit)."""
    rng = np.random.default_rng(7)
    q = rng.integers(-1000, 1000, 500)
    r = rng.integers(-1000, 1000, 500)
    # offsets well inside the rounding hexagon
    eps_q = rng.uniform(-0.2, 0.2, 500)
    eps_r = rng.uniform(-0.2, 0.2, 500)
    oq, orr = cube_round(q + eps_q * 0.5, r + eps_r * 0.5)
    assert (oq == q).all() and (orr == r).all()


def _mercator_grid():
    """Spot grid over the mercator extent and its quantized fractional
    axial coords at the 250 km size used by hex_tile_counts; it includes
    true hexagon-corner points (axial fraction 1/3)."""
    xs = np.linspace(-2.0e7, 2.0e7, 101)
    ys = np.linspace(-1.9e7, 1.9e7, 101)
    X, Y = np.meshgrid(xs, ys)
    x, y = X.ravel(), Y.ravel()
    aq = np.round((np.sqrt(3.0) / 3.0 * x - y / 3.0) / 250000.0, 6)
    ar = np.round((y * 2.0 / 3.0) / 250000.0, 6)
    return x, y, aq, ar


def test_xy_to_hex_matches_querylib_binning():
    """xy_to_hex reproduces the SQL axial mapping at the 250 km size used
    by hex_tile_counts (spot grid over the mercator extent)."""
    x, y, aq, ar = _mercator_grid()
    q1, r1 = xy_to_hex(x, y, 250000.0)
    q2, r2 = cube_round(aq, ar)
    # the grid includes true hexagon-corner points (axial fraction 1/3):
    # the shared round-to-6 quantization is what makes both sides agree
    assert (q1 == q2).all() and (r1 == r2).all()
    # and the raw (unquantized) mapping agrees everywhere off the corners
    q3, r3 = xy_to_hex(x, y, 250000.0, decimals=None)
    assert ((q1 == q3) & (r1 == r3)).mean() > 0.999


def test_cube_round_sql_matches_numpy():
    """The SQL snap every hex query runs (engine and oracle alike, so the
    oracle sweep cannot see a change to it) equals cube_round, run in
    DuckDB over the corner-heavy mercator grid."""
    import duckdb
    import pandas as pd

    _, _, aq, ar = _mercator_grid()
    rounds, hq, hr = cube_round_sql("aq", "ar")
    axial = pd.DataFrame({"aq": aq, "ar": ar})
    with duckdb.connect() as con:
        con.register("axial", axial)
        got = con.sql(f"WITH cube AS (SELECT aq, ar, {rounds} FROM axial) "
                      f"SELECT CAST({hq} AS BIGINT) AS hq, "
                      f"CAST({hr} AS BIGINT) AS hr FROM cube").df()
    q, r = cube_round(aq, ar)
    np.testing.assert_array_equal(got["hq"].to_numpy(), q)
    np.testing.assert_array_equal(got["hr"].to_numpy(), r)


def test_packed_id_truncation():
    """querylib's packed ids: parent_id == cell_id DIV 8 (H3-style)."""
    rng = np.random.default_rng(11)
    q = rng.integers(-300, 300, 200)
    r = rng.integers(-300, 300, 200)
    p1q, p1r = hex_parent(q, r)
    p0q, p0r = hex_parent(p1q, p1r)
    d1 = child_digit(p1q, p1r, p0q, p0r)
    d2 = child_digit(q, r, p1q, p1r)
    base = (p0q + 4096) * 8192 + (p0r + 4096)
    parent_id = base * 8 + d1
    cell_id = parent_id * 8 + d2
    assert (cell_id // 8 == parent_id).all()
    assert (parent_id // 8 == base).all()
