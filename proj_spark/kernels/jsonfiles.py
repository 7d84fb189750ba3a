"""Loaders for the reference's JSON model files: tinshift triangulations
and defmodel deformation-model master files.

Re-derives (clean-room, numpy/dict based) the parsing semantics of
reference src/transformations/tinshift_impl.hpp:60-358 (TINShiftFile::parse)
and src/transformations/defmodel_impl.hpp:270-617 (MasterFile/Component
parse) + defmodel.hpp. File resolution shares gridfiles' registered-path +
PROJ_SPARK_GRID_PATH search (the engine's PROJ_LIB analogue).
"""

from __future__ import annotations

import json

import numpy as np

from ..errors import (INVALID_OP_FILE_NOT_FOUND_OR_INVALID, ProjError)
from ..gridfiles import resolve_data_file


def _load_json(name: str, want_file_type: str) -> dict:
    path = resolve_data_file(name)
    try:
        with open(path, encoding="utf-8") as f:
            obj = json.load(f)
    except (ValueError, OSError) as e:
        raise ProjError(f"{name!r} is not a valid JSON file: {e}",
                        INVALID_OP_FILE_NOT_FOUND_OR_INVALID) from e
    if not isinstance(obj, dict) or obj.get("file_type") != want_file_type:
        raise ProjError(f"{name!r} is not a {want_file_type} file",
                        INVALID_OP_FILE_NOT_FOUND_OR_INVALID)
    return obj


def iso_decimal_year(dt: str) -> float:
    """ISO-8601 'YYYY-MM-DDTHH:MM:SSZ' -> decimal year, leap years but not
    leap seconds (reference defmodel_impl.hpp:225-251)."""
    try:
        date, clock = dt.rstrip("Z").split("T")
        year, month, day = (int(v) for v in date.split("-"))
        hour, minute, sec = (int(v) for v in clock.split(":"))
    except ValueError as e:
        raise ProjError(f"invalid date-time {dt!r}",
                        INVALID_OP_FILE_NOT_FOUND_OR_INVALID) from e
    leap = (year % 4 == 0 and year % 100 != 0) or year % 400 == 0
    months = (31, 29 if leap else 28, 31, 30, 31, 30, 31, 31, 30, 31, 30, 31)
    if not (year >= 1582 and 1 <= month <= 12 and 1 <= day <= months[month - 1]
            and 0 <= hour < 24 and 0 <= minute < 60 and 0 <= sec <= 60):
        raise ProjError(f"invalid date-time {dt!r}",
                        INVALID_OP_FILE_NOT_FOUND_OR_INVALID)
    day_in_year = day - 1 + sum(months[:month - 1])
    return year + (day_in_year * 86400 + hour * 3600 + minute * 60 + sec) \
        / (86400.0 * (366 if leap else 365))


# ---------------------------------------------------------------------------
# tinshift triangulation files (triangulation.schema.json)
# ---------------------------------------------------------------------------

def load_tinshift(name: str) -> dict:
    """Triangulation JSON -> canonical arrays (reference
    tinshift_impl.hpp:60-358): columns re-ordered to
    [source_x, source_y, (target_x, target_y), (z_offset)] where the
    z-offset column is offset_z or (target_z - source_z)."""
    j = _load_json(name, "triangulation_file")

    comps = j.get("transformed_components", [])
    horizontal = "horizontal" in comps
    vertical = "vertical" in comps

    cols = {c: i for i, c in enumerate(j["vertices_columns"])}

    def col(key):
        if key not in cols:
            raise ProjError(f"{key} must be specified in vertices_columns",
                            INVALID_OP_FILE_NOT_FOUND_OR_INVALID)
        return cols[key]

    v = np.asarray(j["vertices"], dtype=np.float64)
    if v.ndim != 2:
        raise ProjError("vertices[] malformed",
                        INVALID_OP_FILE_NOT_FOUND_OR_INVALID)
    out = {"horizontal": horizontal, "vertical": vertical,
           "sx": v[:, col("source_x")], "sy": v[:, col("source_y")]}
    if horizontal:
        out["tx"] = v[:, col("target_x")]
        out["ty"] = v[:, col("target_y")]
    if vertical:
        if "offset_z" in cols:
            out["dz"] = v[:, cols["offset_z"]]
        else:
            out["dz"] = v[:, col("target_z")] - v[:, col("source_z")]

    tcols = {c: i for i, c in enumerate(j["triangles_columns"])}
    for k in ("idx_vertex1", "idx_vertex2", "idx_vertex3"):
        if k not in tcols:
            raise ProjError(f"{k} must be specified in triangles_columns",
                            INVALID_OP_FILE_NOT_FOUND_OR_INVALID)
    tri = np.asarray(j["triangles"], dtype=np.int64)
    order = [tcols["idx_vertex1"], tcols["idx_vertex2"], tcols["idx_vertex3"]]
    tri = tri[:, order] if tri.size else tri.reshape(0, 3)
    if tri.size and (tri.min() < 0 or tri.max() >= len(v)):
        raise ProjError("invalid vertex index",
                        INVALID_OP_FILE_NOT_FOUND_OR_INVALID)
    out["tris"] = tri

    fallback = j.get("fallback_strategy", "none")
    if fallback not in ("none", "nearest_side", "nearest_centroid"):
        raise ProjError(f"invalid fallback_strategy {fallback!r}",
                        INVALID_OP_FILE_NOT_FOUND_OR_INVALID)
    out["fallback"] = fallback
    return out


# ---------------------------------------------------------------------------
# defmodel master files (deformation_model.schema.json)
# ---------------------------------------------------------------------------

def _time_function(tf: dict):
    """time_function object -> vectorized factor(t_decimal_year)
    (reference defmodel_impl.hpp:621-704)."""
    typ = tf.get("type")
    p = tf.get("parameters", {})
    if typ == "constant":
        return lambda t: np.ones_like(t)
    if typ == "velocity":
        e = iso_decimal_year(p["reference_epoch"])
        return lambda t: t - e
    if typ == "step":
        e = iso_decimal_year(p["step_epoch"])
        return lambda t: np.where(t < e, 0.0, 1.0)
    if typ == "reverse_step":
        e = iso_decimal_year(p["step_epoch"])
        return lambda t: np.where(t < e, -1.0, 0.0)
    if typ == "piecewise":
        before = p.get("before_first", "zero")
        after = p.get("after_last", "zero")
        pts = [(iso_decimal_year(m["epoch"]), float(m["scale_factor"]))
               for m in p.get("model", [])]
        epochs = np.asarray([e for e, _ in pts])
        factors = np.asarray([f for _, f in pts])

        def piecewise(t):
            # boundary rules per defmodel_impl.hpp:647-690: t < first knot
            # uses before_first; t >= LAST knot (loop condition is strict <)
            # uses after_last; interior is linear interpolation
            t = np.asarray(t, dtype=np.float64)
            if len(pts) == 0:
                return np.zeros_like(t)
            out = np.interp(t, epochs, factors)
            lo = t < epochs[0]
            hi = t >= epochs[-1]
            if before == "zero":
                out = np.where(lo, 0.0, out)
            elif before == "constant" or len(pts) == 1:
                out = np.where(lo, factors[0], out)
            elif epochs[0] != epochs[1]:  # linear extrapolation, knots 0-1
                ex = (factors[0] * (epochs[1] - t)
                      + factors[1] * (t - epochs[0])) / (epochs[1] - epochs[0])
                out = np.where(lo, ex, out)
            else:
                out = np.where(lo, factors[0], out)
            if after == "zero":
                out = np.where(hi, 0.0, out)
            elif after == "constant" or len(pts) == 1:
                out = np.where(hi, factors[-1], out)
            elif epochs[-2] != epochs[-1]:  # linear extrapolation, last two
                ex = (factors[-2] * (epochs[-1] - t)
                      + factors[-1] * (t - epochs[-2])) \
                    / (epochs[-1] - epochs[-2])
                out = np.where(hi, ex, out)
            else:
                out = np.where(hi, factors[-1], out)
            return out

        return piecewise
    if typ == "exponential":
        t0 = iso_decimal_year(p["reference_epoch"])
        tau = float(p["relaxation_constant"])
        if tau <= 0:
            raise ProjError("invalid relaxation_constant",
                            INVALID_OP_FILE_NOT_FOUND_OR_INVALID)
        before = float(p["before_scale_factor"])
        a0 = float(p["initial_scale_factor"])
        a1 = float(p["final_scale_factor"])
        end = p.get("end_epoch")
        t_end = iso_decimal_year(end) if end else None

        def expo(t):
            t = np.asarray(t, dtype=np.float64)
            tt = np.minimum(t, t_end) if t_end is not None else t
            val = a0 + (a1 - a0) * (1.0 - np.exp(-(tt - t0) / tau))
            return np.where(t < t0, before, val)

        return expo
    raise ProjError(f"unsupported time function {typ!r}",
                    INVALID_OP_FILE_NOT_FOUND_OR_INVALID)


def _bbox(j: dict) -> tuple[float, float, float, float]:
    if j.get("type") != "bbox":
        raise ProjError("only bbox extents are supported",
                        INVALID_OP_FILE_NOT_FOUND_OR_INVALID)
    b = j["parameters"]["bbox"]
    return float(b[0]), float(b[1]), float(b[2]), float(b[3])


def _crs_is_geographic(crs: str) -> bool:
    """Reference EvaluatorIface::isGeographicCRS (defmodel.cpp:264-274):
    resolve the CRS definition and test its type."""
    s = crs.strip()
    if s.upper().startswith("EPSG:"):
        from ..crs import epsg_to_proj
        s = epsg_to_proj(int(s.split(":")[1]))
    low = s.lower()
    return "longlat" in low or "latlong" in low or "lonlat" in low


def load_defmodel(name: str) -> dict:
    """Deformation-model master JSON -> evaluated model description
    (reference defmodel_impl.hpp MasterFile::parse + Component::parse).
    Component grids are opened eagerly via gridfiles (GeoTIFF/GTX/...)."""
    from ..gridfiles import load_grid_file

    j = _load_json(name, "deformation_model_master_file")
    is_geo = _crs_is_geographic(j.get("definition_crs", "EPSG:4326"))

    def norm_ext(ext):
        mnx, mny, mxx, mxy = _bbox(ext)
        if is_geo:
            return (np.radians(mnx), np.radians(mny),
                    np.radians(mxx), np.radians(mxy))
        return mnx, mny, mxx, mxy

    model = {
        "is_geographic": is_geo,
        "hunit_degree": j.get("horizontal_offset_unit") == "degree",
        "is_addition": j.get("horizontal_offset_method",
                             "addition") == "addition",
        "extent": norm_ext(j["extent"]),
        "time_first": iso_decimal_year(j["time_extent"]["first"]),
        "time_last": iso_decimal_year(j["time_extent"]["last"]),
        "components": [],
    }
    if not is_geo and not model["is_addition"]:
        raise ProjError("geocentric horizontal_offset_method requires a "
                        "geographic definition_crs",
                        INVALID_OP_FILE_NOT_FOUND_OR_INVALID)
    for comp in j.get("components", []):
        disp = comp.get("displacement_type", "none")
        sm = comp["spatial_model"]
        grid = load_grid_file(sm["filename"])
        members = getattr(grid, "grids", None) or [grid]
        model["components"].append({
            "disp": disp,
            "extent": norm_ext(comp["extent"]),
            "bilinear": sm.get("interpolation_method",
                               "bilinear") == "bilinear",
            "grids": members,
            "tfunc": _time_function(comp["time_function"]),
        })
    return model
