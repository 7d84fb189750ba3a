"""Run the ported gie golden vectors through the numpy kernels.

Comparison semantics mirror the reference's gie harness
(src/apps/gie.cpp:1038-1065): angular outputs compared by metric distance in
metres (proj_lpz_dist analogue), cartesian/projected by Euclidean distance;
pass iff dist <= tolerance (default 0.5 mm). Inputs/outputs for angular
io-units are degrees in the vector file, radians inside the kernels.

A vector that names a grid or model file the engine cannot resolve (the
reference's ``data/`` tree is not on every host) is skipped with the file
named, unless its expected outcome does not depend on the file's contents.
"""

from __future__ import annotations

import json
import os
import re

import numpy as np
import pytest

import proj_spark
from proj_spark.errors import ProjError
from proj_spark.kernels.core import DEG_TO_RAD, RAD_TO_DEG, Ellipsoid
from proj_spark.kernels.geodesic import geod_dist_m as lp_dist_m
from proj_spark.kernels.jsonfiles import resolve_data_file
from proj_spark.ops import U_DEGREES, U_RADIANS

VEC_PATH = os.path.join(os.path.dirname(__file__), "vectors", "gie_vectors.json")

with open(VEC_PATH) as f:
    CASES = json.load(f)


def _ids():
    out = []
    for i, c in enumerate(CASES):
        kind = "fail" if c.get("expect_failure") else ("rt" if "roundtrip" in c else "fwd")
        opname = c["op_def"].split()[0].replace("+proj=", "")
        out.append(f"{i}-{opname}-{c['direction'][0]}{kind}")
    return out


_FILE_PARAM = re.compile(
    r"(?:^|\s)\+?(?:grids|nadgrids|geoidgrids|xy_grids|z_grids|file|model)"
    r"=(\S+)")

# expected failures that hold whether or not the named file is there
_FILE_INDEPENDENT_ERRNOS = (None, "invalid_op_file_not_found_or_invalid",
                            "invalid_op_missing_arg")


def _unresolved_files(case):
    """Files named by the vector that the engine's resolver cannot find."""
    if case.get("expect_failure") \
            and case.get("errno") in _FILE_INDEPENDENT_ERRNOS:
        return []
    missing = []
    for value in _FILE_PARAM.findall(case["op_def"]):
        for name in value.split(","):
            name = name.lstrip("@")
            if not name or name == "null":
                continue
            try:
                resolve_data_file(name)
            except ProjError:
                missing.append(name)
    return missing


def _make_op(op_def: str):
    return proj_spark.create(op_def)


def _angular(units: str) -> bool:
    return units in (U_RADIANS, U_DEGREES)


def _prep_input(op, direction, coords):
    x, y = coords[0], coords[1]
    z = coords[2] if len(coords) > 2 else 0.0
    # gie defaults missing coordinate fields to 0, including t
    # (gie.cpp parse_coord: proj_coord(0, 0, 0, 0))
    t = coords[3] if len(coords) > 3 else 0.0
    # gie converts input to radians only for RADIANS io-units
    # (proj_angular_input); DEGREES units pass through raw
    if op.input_units(direction) == U_RADIANS:
        x = x * DEG_TO_RAD
        y = y * DEG_TO_RAD
    return (np.array([x]), np.array([y]), np.array([z]), np.array([t]))


def _check(op, direction, got, expect, tol, ndims):
    gx, gy, gz, _ = got
    ex, ey = expect[0], expect[1]
    ez = expect[2] if len(expect) > 2 else None
    if op.output_units(direction) == U_RADIANS:
        # got is radians; expect is degrees -> metric compare (gie.cpp:1056)
        d = lp_dist_m(op.ell if hasattr(op, "ell") else Ellipsoid(6378137.0, 6356752.3142),
                      gx, gy, np.array([ex * DEG_TO_RAD]), np.array([ey * DEG_TO_RAD]))[0]
        if ez is not None and ndims >= 3:
            d = np.hypot(d, gz[0] - ez)
    else:
        d = np.hypot(gx[0] - ex, gy[0] - ey)
        if ez is not None and ndims >= 3:
            d = np.hypot(d, gz[0] - ez)
    assert np.isfinite(d), f"got NaN, expected {expect}: got={got}"
    assert d <= tol, f"distance {d} > tolerance {tol}; got=({gx[0]},{gy[0]},{gz[0]}) expect={expect}"


def _assert_errno(case, got_errno):
    """errno parity (reference gie.cpp:938-1005 expect_failure_with_errno):
    when the block names an errno, the engine's classification must match
    it, not merely fail."""
    want = case.get("errno")
    if want:
        assert got_errno == want, (
            f"errno mismatch for {case['op_def']}: "
            f"want {want}, got {got_errno}")


@pytest.mark.parametrize("case", CASES, ids=_ids())
def test_gie_case(case):
    from proj_spark.errors import classify_failure, errno_of_exception
    missing = _unresolved_files(case)
    if missing:
        pytest.skip(f"grid/model file not found: {', '.join(missing)}")
    try:
        op = _make_op(case["op_def"])
    except (ValueError, KeyError) as e:
        if case.get("expect_failure"):
            _assert_errno(case, errno_of_exception(e))
            return  # construction-time failure expected
        raise AssertionError(f"cannot construct {case['op_def']}: {e}") from e

    if case.get("expect_failure"):
        if "accept" not in case:
            pytest.fail(f"expected construction failure for {case['op_def']}")
        try:
            got = op.apply(case["direction"], *_prep_input(op, case["direction"], case["accept"]))
        except (ValueError, KeyError) as e:
            # deferred-grid-open failure at apply time: expected
            _assert_errno(case, errno_of_exception(e))
            return
        assert not (np.isfinite(got[0][0]) and np.isfinite(got[1][0])), (
            f"expected failure (NaN), got {got} for {case['op_def']}")
        inp = _prep_input(op, case["direction"], case["accept"])
        _assert_errno(case,
                      classify_failure(op, case["direction"], inp[0], inp[1]))
        return

    if any(np.isnan(v) for v in case["accept"][:2]):
        # NaN input must propagate NaN to all components
        # (reference src/4D_api.cpp:540-542)
        got = op.apply(case["direction"], *_prep_input(op, case["direction"], case["accept"]))
        assert np.isnan(got[0][0]) and np.isnan(got[1][0]), (
            f"NaN input must poison output, got {got}")
        return

    inp = _prep_input(op, case["direction"], case["accept"])
    if "roundtrip" in case:
        n = case["roundtrip"]
        fwd_dir = case["direction"]
        inv_dir = "inverse" if fwd_dir == "forward" else "forward"
        x, y, z, t = inp
        for _ in range(min(n, 100)):
            x, y, z, t = op.apply(fwd_dir, x, y, z, t)
            x, y, z, t = op.apply(inv_dir, x, y, z, t)
        if _angular(op.input_units(fwd_dir)):
            d = lp_dist_m(op.ell if hasattr(op, "ell") else Ellipsoid(6378137.0, 6356752.3),
                          x, y, inp[0], inp[1])[0]
        else:
            d = np.hypot(x[0] - inp[0][0], y[0] - inp[1][0])
        assert d <= case["tolerance_m"], f"roundtrip drift {d} > {case['tolerance_m']}"
        return

    got = op.apply(case["direction"], *inp)
    _check(op, case["direction"], got, case["expect"], case["tolerance_m"], len(case["expect"]))
