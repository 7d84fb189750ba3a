"""Real grid-file readers: NTv2 (.gsb), GTX (.gtx), CTable2 (.ct2), GTiff,
and the engine's own node parquet.

Parses the three classic PROJ datum-shift raster formats with numpy
``frombuffer`` — no external libs. Layouts follow the reference's readers
(src/grids.cpp: GTXVerticalShiftGrid::open :242-312, CTable2Grid::open
:1966-2021, NTv2GridSet::open :2174-2340, NTv2Grid::valueAt :2112-2165):

- **NTv2**: 11x16-byte overview header (endianness detected from
  NUM_OREC==11 at offset 8, grids.cpp:2200); per-subgrid 11x16-byte header
  (S_LAT/N_LAT/E_LONG/W_LONG/LAT_INC/LONG_INC doubles in arcsec at offsets
  72..152, GS_COUNT int32 at 168) followed by GS_COUNT nodes of 4 float32
  (lat shift, lon shift, lat err, lon err) in arcsec. Rows run south to
  north; columns run EAST to WEST (grids.cpp:2143 "NTv2 is organized from
  east to west"), and longitudes/shifts use the positive-WEST convention —
  both are normalized here (columns flipped, lon shift negated).
- **GTX**: 40-byte big-endian header (south double, west double, dlat,
  dlon, nrows int32, ncols int32), float32 geoid heights in metres,
  row-major from the south row. Official nodata -88.8888 (plus the
  |value| > 1000 heuristic, grids.cpp:355-360).
- **CTable2**: 160-byte little-endian header ("CTABLE V2" magic; west,
  south, resX, resY doubles in RADIANS at offset 96; width/height int32 at
  128); data from offset 160 as float32 (lon shift, lat shift) pairs in
  radians, row-major from the south row, lon positive-west (negated here).
- **GTiff**: PROJ-convention Geodetic TIFF Grids (see the reader below).
- **Node parquet** (``PAR1`` magic): one row per node with int64 ``r``
  (row, 0 = south) and ``c`` (column, 0 = west) and one float64 column per
  band — ``dlon_as``/``dlat_as`` (arcsec, east-positive), ``dz`` (metres).
  The header lives in the file's key-value metadata under
  ``proj_spark.grid`` as JSON: ``lon0``/``lat0`` (degrees of node (0, 0)),
  ``dlon``/``dlat`` (degrees), ``width``/``height`` (nodes), ``bands``
  (column -> unit), ``lon_positive`` ("east") and ``row0`` ("south"). The
  driver queries export their file-backed grids in this form for the
  DuckDB oracles (``export_node_parquet``), whose bilinear replay reads
  only the header (``node_parquet_header``); a node parquet with no header
  is refused, never opened with a guessed one.

All loaded grids expose the same ``interp(lon_deg, lat_deg) ->
(dlon_arcsec_east_positive, dlat_arcsec, dz_m)`` interface as the
synthetic registry grids, with NaN outside coverage, so every gridshift
operator works identically over synthetic and file-backed rasters.

Spark-side scale note: a parsed grid is a plain numpy array pytree —
broadcast once per job (SparkContext.broadcast or UDF closure capture);
the multi-GB continental grid sets the reference streams from a CDN are
out of scope (no external data), and would factor into the cell-keyed
join form instead (``joins.raster_lookup``).
"""

from __future__ import annotations

import json
import os
import struct

import numpy as np

from .errors import INVALID_OP_FILE_NOT_FOUND_OR_INVALID, ProjError

_SEC2DEG = 1.0 / 3600.0
_RAD2AS = 3600.0 * 180.0 / np.pi


class FileGrid:
    """One georeferenced shift raster, east-positive degrees.

    Bands are float64 2-D arrays [row, col], row 0 = south, col 0 = west.
    ``dlon_as``/``dlat_as`` in arcsec (east-positive), ``dz_m`` metres; a
    band may be None (horizontal-only / vertical-only grids).
    """

    def __init__(self, name, lon0, lat0, dlon, dlat, width, height,
                 dlon_as=None, dlat_as=None, dz_m=None):
        self.name = name
        self.lon0, self.lat0 = float(lon0), float(lat0)
        self.dlon, self.dlat = float(dlon), float(dlat)
        self.width, self.height = int(width), int(height)
        self.dlon_as = dlon_as
        self.dlat_as = dlat_as
        self.dz_m = dz_m
        # global-in-longitude raster: width cells span exactly 360 deg,
        # the seam column wraps back to column 0 (reference
        # grids.cpp fullWorldLongitude / pj_hgrid longitude wrap)
        self.global_lon = abs(self.dlon * self.width - 360.0) < 1e-8
        # projected-CRS grid (reference ExtentAndRes.isGeographic false):
        # axes are easting/northing metres — no 360-deg wrap, offsets in
        # metres; parse_gtiff flips this on from the ModelType geokey
        self.projected = False
        # per-axis constant offset added AFTER interpolation on fwd /
        # removed from input on inv (gridshift.cpp:846-847, 863-864)
        self.const_xy = (0.0, 0.0)

    @property
    def bands(self):
        """(has_lon, has_lat, has_z) band availability."""
        return (self.dlon_as is not None, self.dlat_as is not None,
                self.dz_m is not None)

    def _lon_rel(self, lon_deg):
        """Longitude -> grid-frame offset in [0, 360) degrees east of
        lon0. The modulo brings any ±n*360 alias into the grid frame
        (reference normalizes input longitude into the grid's extent);
        projected grids use the plain easting difference — no wrap."""
        x = np.asarray(lon_deg, dtype=np.float64) - self.lon0
        return x if self.projected else x % 360.0

    def contains(self, lon_deg, lat_deg):
        eps = 1e-7 * max(self.dlon, self.dlat) if self.projected else 1e-9
        lat_deg = np.asarray(lat_deg, dtype=np.float64)
        lat_in = ((lat_deg >= self.lat0 - eps)
                  & (lat_deg <= self.lat0 + self.dlat * (self.height - 1) + eps))
        if self.projected:
            rel = self._lon_rel(lon_deg)
            return (rel >= -eps) & (rel <= self.dlon * (self.width - 1) + eps) \
                & lat_in
        if self.global_lon:
            return np.broadcast_to(lat_in, np.broadcast(
                np.asarray(lon_deg), lat_deg).shape).copy()
        rel = self._lon_rel(lon_deg)
        span = self.dlon * (self.width - 1)
        # a point epsilon west of lon0 aliases to rel ~ 360-eps: outside
        lon_in = (rel <= span + eps) | (rel >= 360.0 - eps)
        return lon_in & lat_in

    def interp(self, lon_deg, lat_deg):
        """Bilinear (dlon_as, dlat_as, dz_m); NaN outside coverage
        (reference bilinear: src/transformations/gridshift.cpp:337-356)."""
        lon_deg = np.asarray(lon_deg, dtype=np.float64)
        lat_deg = np.asarray(lat_deg, dtype=np.float64)
        rel = self._lon_rel(lon_deg)
        # NaN inputs are gated by `inside`; zero them so the int casts
        # below stay warning-free
        fx = np.nan_to_num(rel / self.dlon)
        fy = np.nan_to_num((lat_deg - self.lat0) / self.dlat)
        inside = self.contains(lon_deg, lat_deg) & np.isfinite(lon_deg) \
            & np.isfinite(lat_deg)
        if self.global_lon:
            base = np.floor(fx)
            c0 = base.astype(np.int64) % self.width
            c1 = (c0 + 1) % self.width
            wx = np.clip(fx - base, 0.0, 1.0)
        elif self.projected:
            # no 360-wrap aliasing in projected frames: clamp to the
            # east edge (outside points are gated by `inside` anyway)
            fx = np.minimum(fx, float(self.width - 1))
            c0 = np.clip(np.floor(fx), 0, self.width - 2).astype(np.int64)
            c1 = c0 + 1
            wx = np.clip(fx - c0, 0.0, 1.0)
        else:
            # rel ~ 360 (eps west of lon0) clamps to the first cell
            fx = np.where(fx > self.width - 1, 0.0, fx)
            c0 = np.clip(np.floor(fx), 0, self.width - 2).astype(np.int64)
            c1 = c0 + 1
            wx = np.clip(fx - c0, 0.0, 1.0)
        r0 = np.clip(np.floor(fy), 0, self.height - 2).astype(np.int64)
        c0 = np.where(inside, c0, 0)
        c1 = np.where(inside, c1, 0)
        r0 = np.where(inside, r0, 0)
        wx = np.where(inside, wx, 0.0)
        wy = np.clip(fy - r0, 0.0, 1.0)
        out = []
        for band in (self.dlon_as, self.dlat_as, self.dz_m):
            if band is None:
                out.append(np.where(inside, 0.0, np.nan))
                continue
            # nodata corners (NaN) are excluded and the remaining weights
            # renormalized; all-nodata -> NaN (reference grids.cpp
            # read_vgrid_value:3687-3745, fix for OSGeo/proj.4#1002)
            val = np.zeros(np.shape(wx))
            tot = np.zeros(np.shape(wx))
            for rr, cc, w in ((r0, c0, (1 - wx) * (1 - wy)),
                              (r0, c1, wx * (1 - wy)),
                              (r0 + 1, c0, (1 - wx) * wy),
                              (r0 + 1, c1, wx * wy)):
                v = band[rr, cc]
                ok = np.isfinite(v)
                val = val + np.where(ok, v * w, 0.0)
                tot = tot + np.where(ok, w, 0.0)
            with np.errstate(invalid="ignore", divide="ignore"):
                v = np.where(tot > 0, val / tot, np.nan)
            out.append(np.where(inside, v, np.nan))
        return out


    def interp_bq(self, lon_deg, lat_deg):
        """Biquadratic (NOAA qterp) 3x3 interpolation — the reference's
        default for the unified gridshift operator
        (transformations/gridshift.cpp:472-535). NaN outside coverage or
        when any window value is nodata."""
        lon_deg = np.asarray(lon_deg, dtype=np.float64)
        lat_deg = np.asarray(lat_deg, dtype=np.float64)
        if self.width < 3 or self.height < 3:
            return self.interp(lon_deg, lat_deg)
        rel = self._lon_rel(lon_deg)
        fx = np.nan_to_num(rel / self.dlon)
        fy = np.nan_to_num((lat_deg - self.lat0) / self.dlat)
        inside = self.contains(lon_deg, lat_deg) & np.isfinite(lon_deg) \
            & np.isfinite(lat_deg)
        if self.global_lon:
            ix = np.floor(fx).astype(np.int64)
            frx = fx - ix
        else:
            if self.projected:
                fx = np.minimum(fx, float(self.width - 1))
            else:
                fx = np.where(fx > self.width - 1, 0.0, fx)
            ix = np.clip(np.floor(fx), 0, self.width - 2).astype(np.int64)
            frx = np.clip(fx - ix, 0.0, 1.0)
        iy = np.clip(np.floor(fy), 0, self.height - 2).astype(np.int64)
        fry = np.clip(fy - iy, 0.0, 1.0)
        # window shift (gridshift.cpp:476-486)
        shx = ((frx <= 0.5) & (ix > 0)) | (ix + 2 >= self.width)
        ix = ix - shx
        frx = frx + shx
        shy = ((fry <= 0.5) & (iy > 0)) | (iy + 2 >= self.height)
        iy = iy - shy
        fry = fry + shy
        ix = np.where(inside, ix, 0)
        iy = np.where(inside, iy, 0)

        def qterp(x, f0, f1, f2):
            df0 = f1 - f0
            d2f0 = (f2 - f1) - df0
            return f0 + x * df0 + 0.5 * x * (x - 1.0) * d2f0

        out = []
        for band in (self.dlon_as, self.dlat_as, self.dz_m):
            if band is None:
                out.append(np.where(inside, 0.0, np.nan))
                continue
            rows = []
            for j in range(3):
                cols = []
                for i in range(3):
                    cc = ix + i
                    if self.global_lon:
                        cc = cc % self.width
                    cols.append(band[iy + j, cc])
                rows.append(qterp(frx, *cols))
            v = qterp(fry, *rows)
            out.append(np.where(inside, v, np.nan))
        return out


class GridSet:
    """Ordered collection of grids (NTv2 subgrids / +grids=a,b lists).

    ``interp`` resolves each point against the FIRST grid (in priority
    order, children/finer first) whose extent contains it — the
    reference's subgrid selection (grids.hpp gridAt / hgridshift grid
    iteration). Vectorized as masked fills, one pass per member grid.
    """

    def __init__(self, name, grids):
        self.name = name
        # may be EMPTY: all-optional (@grid) members missing. The gridshift
        # operators treat an empty set as pass-through, mirroring the
        # reference's "Only try the gridshift if at least one grid is
        # loaded" (hgridshift.cpp:39-43)
        self.grids = list(grids)

    def contains(self, lon_deg, lat_deg):
        shape = np.broadcast(np.asarray(lon_deg), np.asarray(lat_deg)).shape
        m = np.zeros(shape, dtype=bool)
        for g in self.grids:
            m = m | g.contains(lon_deg, lat_deg)
        return m

    @property
    def bands(self):
        out = [False, False, False]
        for g in self.grids:
            for b, h in enumerate(g.bands):
                out[b] = out[b] or h
        return tuple(out)

    def interp(self, lon_deg, lat_deg, method: str | None = None):
        """Per-BAND first-match resolution: a member grid only resolves the
        bands it carries, so hybrid sets that split horizontal and vertical
        components across members with different extents (NADCON5 GTiff:
        lat/lon offsets in one IFD, ellipsoidal height in another) compose
        correctly (reference gridshift.cpp picks the grid per component).
        A band no member carries yields 0 inside overall coverage."""
        lon_deg = np.asarray(lon_deg, dtype=np.float64)
        lat_deg = np.asarray(lat_deg, dtype=np.float64)
        shape = np.broadcast(lon_deg, lat_deg).shape
        outs = [np.full(shape, np.nan) for _ in range(3)]
        unresolved = [np.ones(shape, dtype=bool) for _ in range(3)]
        band_exists = [False, False, False]
        covered = np.zeros(shape, dtype=bool)
        for g in self.grids:
            has = g.bands  # (lon, lat, z) availability; nested sets union
            if not any(has):
                continue
            need = [u for h, u in zip(has, unresolved) if h]
            pending = np.zeros(shape, dtype=bool)
            for u in need:
                pending |= u
            if not pending.any():
                continue
            cont = g.contains(lon_deg, lat_deg)
            covered |= cont
            if isinstance(g, GridSet):
                vals = g.interp(lon_deg, lat_deg, method=method)
            else:
                m = method or getattr(g, "interp_default", "") or "bilinear"
                if m == "biquadratic":
                    vals = g.interp_bq(lon_deg, lat_deg)
                else:
                    vals = g.interp(lon_deg, lat_deg)
            for b in range(3):
                if not has[b]:
                    continue
                band_exists[b] = True
                take = unresolved[b] & cont
                if take.any():
                    outs[b][take] = np.broadcast_to(vals[b], shape)[take]
                    unresolved[b] &= ~take
        for b in range(3):
            if not band_exists[b]:
                outs[b] = np.where(covered, 0.0, np.nan)
        return outs

    def interp_bq(self, lon_deg, lat_deg):
        return self.interp(lon_deg, lat_deg, method="biquadratic")


# ---------------------------------------------------------------------------
# parsers
# ---------------------------------------------------------------------------


def parse_ntv2(data: bytes, name: str = "ntv2") -> GridSet:
    """NTv2 .gsb -> GridSet (reference NTv2GridSet::open grids.cpp:2174)."""
    if len(data) < 11 * 16:
        raise ValueError("NTv2 file too short")
    # endianness: NUM_OREC value (int32 at offset 8) is 11 in native order
    le = struct.unpack_from("<i", data, 8)[0] == 11
    bo = "<" if le else ">"
    if data[56:63] != b"SECONDS":
        raise ValueError("only GS_TYPE=SECONDS NTv2 files supported")
    num_sub = struct.unpack_from(bo + "i", data, 40)[0]
    f4 = np.dtype(bo + "f4")
    pos = 11 * 16
    grids = []
    for sub in range(num_sub):
        hdr = data[pos:pos + 11 * 16]
        if hdr[0:8] != b"SUB_NAME":
            raise ValueError("bad NTv2 subgrid header")
        sub_name = hdr[8:16].decode("ascii", "replace").strip()
        parent = hdr[24:32]
        s_lat, n_lat, e_lon, w_lon, lat_inc, lon_inc = (
            struct.unpack_from(bo + "d", hdr, 72 + 16 * i)[0]
            for i in range(6))
        gs_count = struct.unpack_from(bo + "i", hdr, 168)[0]
        # positive-west arcsec -> east-positive degrees
        west = -w_lon * _SEC2DEG
        east = -e_lon * _SEC2DEG
        south = s_lat * _SEC2DEG
        north = n_lat * _SEC2DEG
        cols = int(round((east - west) / (lon_inc * _SEC2DEG))) + 1
        rows = int(round((north - south) / (lat_inc * _SEC2DEG))) + 1
        if cols * rows != gs_count:
            raise ValueError(
                f"NTv2 GS_COUNT {gs_count} != {cols}x{rows}")
        pos += 11 * 16
        nodes = np.frombuffer(data, dtype=f4, count=gs_count * 4,
                              offset=pos).reshape(rows, cols, 4)
        pos += gs_count * 16
        # columns run east->west in the file: flip to west->east
        lat_as = nodes[:, ::-1, 0].astype(np.float64)
        lon_as = -nodes[:, ::-1, 1].astype(np.float64)  # west-positive -> east
        g = FileGrid(f"{name}:{sub_name}", west, south,
                     lon_inc * _SEC2DEG, lat_inc * _SEC2DEG, cols, rows,
                     dlon_as=lon_as, dlat_as=lat_as)
        is_child = parent.strip() not in (b"NONE", b"")
        grids.append((is_child, sub, g))
    # children (finer subgrids) are probed before top-level grids; file
    # order breaks ties (reference picks the deepest matching subgrid)
    grids.sort(key=lambda t: (not t[0], t[1]))
    return GridSet(name, [g for _, _, g in grids])


def parse_gtx(data: bytes, name: str = "gtx") -> FileGrid:
    """GTX .gtx -> vertical FileGrid (reference grids.cpp:242-312)."""
    if len(data) < 40:
        raise ValueError("GTX file too short")
    south, west, dlat, dlon = struct.unpack_from(">4d", data, 0)
    rows, cols = struct.unpack_from(">2i", data, 32)
    if cols <= 0 or rows <= 0 or not (-360 <= west <= 360) \
            or not (-90 <= south <= 90):
        raise ValueError("GTX header has invalid extents")
    if west >= 180.0:
        west -= 360.0
    vals = np.frombuffer(data, dtype=">f4", count=rows * cols,
                         offset=40).reshape(rows, cols).astype(np.float64)
    # nodata: official -88.8888 plus the big-value heuristic
    vals = np.where((np.abs(vals) > 1000.0)
                    | (np.abs(vals - (-88.8888)) < 1e-3), np.nan, vals)
    return FileGrid(name, west, south, dlon, dlat, cols, rows, dz_m=vals)


def parse_ntv1(data: bytes, name: str = "ntv1") -> FileGrid:
    """NTv1 .dat -> horizontal FileGrid (reference grids.cpp:1834-1921).

    192-byte big-endian header ('HEADER  ' + record count 12, then
    labelled doubles: S LAT@24, N LAT@40, E LONG@56, W LONG@72 — both
    stored positive-WEST — N GRID resY@88, W GRID resX@104, all degrees);
    nodes are (lat_shift, lon_shift) float64 pairs in arcseconds, rows
    south->north, columns stored EAST-to-west, longitude positive west."""
    if len(data) < 192 or not data.startswith(b"HEADER"):
        raise ValueError("not an NTv1 file")
    (nrec,) = struct.unpack_from(">i", data, 8)
    if nrec != 12:
        raise ValueError("NTv1 grid shift file has wrong record count")
    south = struct.unpack_from(">d", data, 24)[0]
    north = struct.unpack_from(">d", data, 40)[0]
    east = -struct.unpack_from(">d", data, 56)[0]
    west = -struct.unpack_from(">d", data, 72)[0]
    res_y = struct.unpack_from(">d", data, 88)[0]
    res_x = struct.unpack_from(">d", data, 104)[0]
    if not (abs(west) <= 720 and abs(east) <= 720 and abs(north) <= 180.00001
            and abs(south) <= 180.00001 and west < east and south < north
            and res_x > 1e-10 and res_y > 1e-10):
        raise ValueError("inconsistent NTv1 georeferencing")
    width = int(abs((east - west) / res_x + 0.5)) + 1
    height = int(abs((north - south) / res_y + 0.5)) + 1
    if len(data) < 192 + width * height * 16:
        raise ValueError("NTv1 file truncated")
    nodes = np.frombuffer(data, dtype=">f8", count=width * height * 2,
                          offset=192).reshape(height, width, 2)
    # columns run east->west in the file (grids.cpp:1905 "organized from
    # east to west"); flip to west->east, negate lon to east-positive
    lat_as = nodes[:, ::-1, 0].astype(np.float64)
    lon_as = -nodes[:, ::-1, 1].astype(np.float64)
    return FileGrid(name, west, south, res_x, res_y, width, height,
                    dlon_as=lon_as, dlat_as=lat_as)


def parse_ctable2(data: bytes, name: str = "ct2") -> FileGrid:
    """CTable2 .ct2 -> horizontal FileGrid (reference grids.cpp:1966)."""
    if len(data) < 160 or not data.startswith(b"CTABLE V2"):
        raise ValueError("not a CTable2 file")
    west, south, res_x, res_y = struct.unpack_from("<4d", data, 96)
    width, height = struct.unpack_from("<2i", data, 128)
    if width <= 0 or height <= 0:
        raise ValueError("CTable2 header has invalid size")
    nodes = np.frombuffer(data, dtype="<f4", count=width * height * 2,
                          offset=160).reshape(height, width, 2)
    # radians, lon positive-west -> arcsec east-positive
    lon_as = -nodes[:, :, 0].astype(np.float64) * _RAD2AS
    lat_as = nodes[:, :, 1].astype(np.float64) * _RAD2AS
    deg = 180.0 / np.pi
    return FileGrid(name, west * deg, south * deg, res_x * deg, res_y * deg,
                    width, height, dlon_as=lon_as, dlat_as=lat_as)


# node-parquet band column -> (FileGrid attribute, unit)
_NODE_BANDS = {"dlon_as": ("dlon_as", "arcsec"),
               "dlat_as": ("dlat_as", "arcsec"),
               "dz": ("dz_m", "m")}
_NODE_HEADER_KEY = b"proj_spark.grid"


def write_node_parquet(g: FileGrid, path: str) -> None:
    """FileGrid -> node parquet (format in the module docstring)."""
    import pyarrow as pa
    import pyarrow.parquet as pq
    rr, cc = np.mgrid[0:g.height, 0:g.width]
    cols = {"r": rr.ravel().astype(np.int64), "c": cc.ravel().astype(np.int64)}
    units = {}
    for col, (attr, unit) in _NODE_BANDS.items():
        band = getattr(g, attr)
        if band is not None:
            cols[col] = band.ravel().astype(np.float64)
            units[col] = unit
    header = {"lon0": g.lon0, "lat0": g.lat0, "dlon": g.dlon, "dlat": g.dlat,
              "width": g.width, "height": g.height, "bands": units,
              "lon_positive": "east", "row0": "south"}
    table = pa.table(cols).replace_schema_metadata(
        {_NODE_HEADER_KEY: json.dumps(header)})
    pq.write_table(table, path)


def export_node_parquet(g: FileGrid, path: str) -> None:
    """Write ``g``'s node parquet unless ``path`` exists, atomically
    (driver-side only — never at module import, so executor re-imports
    stay side-effect free)."""
    if os.path.exists(path):
        return
    os.makedirs(os.path.dirname(path), exist_ok=True)
    tmp = f"{path}.tmp.{os.getpid()}"
    write_node_parquet(g, tmp)
    os.replace(tmp, path)


def _node_header(metadata) -> dict:
    """Checked grid header from a node parquet's key-value metadata:
    lon0/lat0/dlon/dlat (float), width/height (int), bands (col -> unit)."""
    raw = (metadata or {}).get(_NODE_HEADER_KEY)
    if raw is None:
        raise ValueError("node parquet has no grid header metadata")
    try:
        hdr = json.loads(raw)
        out = {k: float(hdr[k]) for k in ("lon0", "lat0", "dlon", "dlat")}
        out.update(width=int(hdr["width"]), height=int(hdr["height"]),
                   bands=dict(hdr["bands"]))
    except (KeyError, TypeError, ValueError) as e:
        raise ValueError(f"bad node parquet grid header: {e}") from e
    if hdr.get("lon_positive") != "east" or hdr.get("row0") != "south":
        raise ValueError("node parquet must be east-positive, row 0 south")
    for col, unit in out["bands"].items():
        if _NODE_BANDS.get(col, (None, None))[1] != unit:
            raise ValueError(f"unsupported node band {col!r} in {unit!r}")
    return out


def node_parquet_header(path: str) -> dict:
    """A node parquet file's grid header, read from its footer alone (no
    node is read): ``_node_header``'s dict."""
    import pyarrow.parquet as pq
    return _node_header(pq.read_metadata(path).metadata)


def parse_node_parquet(data: bytes, name: str = "nodes") -> FileGrid:
    """Node parquet -> FileGrid; the header comes only from the file's
    metadata, and every node of the width x height raster must be present
    exactly once."""
    import pyarrow as pa
    import pyarrow.parquet as pq
    pf = pq.ParquetFile(pa.BufferReader(data))
    hdr = _node_header(pf.metadata.metadata)
    width, height, bands = hdr["width"], hdr["height"], hdr["bands"]
    geo = [hdr[k] for k in ("lon0", "lat0", "dlon", "dlat")]
    t = pf.read(columns=["r", "c", *bands])
    r = t["r"].to_numpy()
    c = t["c"].to_numpy()
    flat = r * width + c
    if (width <= 0 or height <= 0 or not bands
            or t.num_rows != width * height
            or r.min() < 0 or r.max() >= height
            or c.min() < 0 or c.max() >= width
            or np.unique(flat).size != flat.size):
        raise ValueError(f"node parquet does not cover its {width}x{height} "
                         "raster exactly once")
    out = {}
    for col in bands:
        arr = np.empty(width * height)
        arr[flat] = t[col].to_numpy()
        out[_NODE_BANDS[col][0]] = arr.reshape(height, width)
    return FileGrid(name, *geo, width, height, **out)


# ---------------------------------------------------------------------------
# resolver
# ---------------------------------------------------------------------------

_FILE_GRID_CACHE: dict[str, object] = {}
_REGISTERED_PATHS: dict[str, str] = {}


def grid_search_path() -> list[str]:
    """Colon-separated PROJ_SPARK_GRID_PATH (the engine's PROJ_LIB)."""
    p = os.environ.get("PROJ_SPARK_GRID_PATH", "")
    return [d for d in p.split(":") if d]


def register_grid_file(name: str, path: str) -> None:
    """Pin a grid name to an explicit file path (takes precedence over the
    search path)."""
    _REGISTERED_PATHS[name] = path
    _FILE_GRID_CACHE.pop(name, None)


def resolve_data_file(name: str) -> str:
    """Resolve a grid/model file name against registered paths + search
    path (reference FileManager::open_resource_file)."""
    path = _REGISTERED_PATHS.get(name)
    if path is not None and os.path.isfile(path):
        return path
    if os.path.isabs(name) and os.path.isfile(name):
        return name  # explicit absolute path wins over the search path
    base = os.path.basename(name)
    for d in grid_search_path():
        for cand in (os.path.join(d, name), os.path.join(d, base)):
            if os.path.isfile(cand):
                return cand
    raise ProjError(f"cannot open {name!r} (search path {grid_search_path()})",
                    INVALID_OP_FILE_NOT_FOUND_OR_INVALID)


class NullGrid(FileGrid):
    """The built-in ``null`` grid: global coverage, zero shift (reference
    grids.cpp NullVerticalShiftGrid / the special "null" grid name)."""

    def __init__(self):
        super().__init__("null", -180.0, -90.0, 360.0, 180.0, 2, 2,
                         dz_m=np.zeros((2, 2)))

    def interp(self, lon_deg, lat_deg):
        shape = np.broadcast(np.asarray(lon_deg), np.asarray(lat_deg)).shape
        return [np.zeros(shape), np.zeros(shape), np.zeros(shape)]

    def contains(self, lon_deg, lat_deg):
        shape = np.broadcast(np.asarray(lon_deg), np.asarray(lat_deg)).shape
        return np.ones(shape, dtype=bool)


def load_grid_file(name: str):
    """Resolve + parse a grid file by name; cached per-process. The format
    is sniffed from content (magic/extension), mirroring the reference's
    open-by-signature dispatch (grids.cpp grid open functions)."""
    if name == "null":
        return NullGrid()
    if name in _FILE_GRID_CACHE:
        return _FILE_GRID_CACHE[name]
    try:
        path = resolve_data_file(name)
    except ProjError:
        # an unresolved name stays a KeyError for the callers that fall
        # back on it (optional @grids, vertical-CRS geoid candidates)
        raise KeyError(f"grid file {name!r} not found "
                       f"(search path {grid_search_path()})") from None
    with open(path, "rb") as f:
        data = f.read()
    try:
        if data.startswith(b"CTABLE V2"):
            g = parse_ctable2(data, name)
        elif data.startswith(b"HEADER"):
            g = parse_ntv1(data, name)
        elif data[0:8] == b"NUM_OREC":
            g = parse_ntv2(data, name)
        elif data[:2] in (b"II", b"MM"):
            g = parse_gtiff(data, name)
        elif data.startswith(b"PAR1"):
            g = parse_node_parquet(data, name)
        elif name.endswith(".gtx") or len(data) >= 40 and _looks_gtx(data):
            g = parse_gtx(data, name)
        else:
            raise ProjError(f"unrecognized grid format for {name!r}",
                            INVALID_OP_FILE_NOT_FOUND_OR_INVALID)
    except ProjError:
        raise
    except ValueError as e:
        # malformed/unsupported grid content is the reference's
        # file-not-found-or-invalid class (grids.cpp open failures)
        raise ProjError(f"invalid grid file {name!r}: {e}",
                        INVALID_OP_FILE_NOT_FOUND_OR_INVALID) from e
    _FILE_GRID_CACHE[name] = g
    return g


def _looks_gtx(data: bytes) -> bool:
    try:
        south, west, dlat, dlon = struct.unpack_from(">4d", data, 0)
        rows, cols = struct.unpack_from(">2i", data, 32)
    except struct.error:
        return False
    return (0 < rows < 100000 and 0 < cols < 100000
            and -90 <= south <= 90 and -360 <= west <= 360
            and 0 < dlat < 90 and 0 < dlon < 90
            and len(data) >= 40 + 4 * rows * cols)


# ---------------------------------------------------------------------------
# GeoTIFF (PROJ-convention GTG: Geodetic TIFF Grids) reader
# ---------------------------------------------------------------------------
# Mirrors the reference's GTiffDataset/GTiffGrid readers (src/grids.cpp:
# metadata parse :531-637, geokeys/extent :1195-1320, hgrid band selection
# :2520-2640, vgrid candidates :1550-1580): classic little/big-endian TIFF,
# strips or tiles, none/deflate compression with horizontal (2) and
# floating-point (3) predictors, int/uint/float samples with per-band
# scale/offset, chunky or separate planes, multiple IFDs as subgrids
# ordered children-first via grid_name/parent_grid_name.

# reference grids.cpp GTiffGrid::getGridValues: only Int16/UInt16/Int32/
# UInt32/Float32/Float64 samples are valid grid channels — 8-bit (Byte)
# rejects the file (gie geotiff_grids 'unsupported_byte')
_TIFF_DTYPES = {
    (1, 16): "u2", (1, 32): "u4",
    (2, 16): "i2", (2, 32): "i4",
    (3, 32): "f4", (3, 64): "f8",
}

_TYPE_SIZES = {1: 1, 2: 1, 3: 2, 4: 4, 5: 8, 6: 1, 7: 1, 8: 2, 9: 4,
               10: 8, 11: 4, 12: 8, 16: 8, 17: 8, 18: 8}


def _tiff_ifds(data: bytes):
    """Yield {tag: (type, values)} per IFD. Classic TIFF (magic 42, 4-byte
    offsets, 12-byte entries) and BigTIFF (magic 43, 8-byte offsets,
    20-byte entries, LONG8/SLONG8/IFD8 types 16/17/18), both endians."""
    if data[:2] == b"II":
        bo = "<"
    elif data[:2] == b"MM":
        bo = ">"
    else:
        raise ValueError("not a TIFF")
    magic = struct.unpack_from(bo + "H", data, 2)[0]
    if magic == 43:
        offsize, pad = struct.unpack_from(bo + "HH", data, 4)
        if offsize != 8 or pad != 0:
            raise ValueError("malformed BigTIFF header")
        off = struct.unpack_from(bo + "Q", data, 8)[0]
        nfmt, entsz, inline, ofmt = "Q", 20, 8, "Q"
        cntfmt, hdrsz = "HHQ", 8
    elif magic == 42:
        off = struct.unpack_from(bo + "I", data, 4)[0]
        nfmt, entsz, inline, ofmt = "H", 12, 4, "I"
        cntfmt, hdrsz = "HHI", 2
    else:
        raise ValueError("not a TIFF")
    seen = set()
    while off and off not in seen:
        seen.add(off)
        n = struct.unpack_from(bo + nfmt, data, off)[0]
        tags = {}
        for i in range(n):
            tag, typ, cnt = struct.unpack_from(bo + cntfmt,
                                               data, off + hdrsz + i * entsz)
            size = _TYPE_SIZES.get(typ, 1) * cnt
            vpos = off + hdrsz + i * entsz + (entsz - inline)
            if size > inline:
                vpos = struct.unpack_from(bo + ofmt, data, vpos)[0]
            if typ in (3,):
                vals = struct.unpack_from(bo + f"{cnt}H", data, vpos)
            elif typ in (4,):
                vals = struct.unpack_from(bo + f"{cnt}I", data, vpos)
            elif typ in (8,):
                vals = struct.unpack_from(bo + f"{cnt}h", data, vpos)
            elif typ in (9,):
                vals = struct.unpack_from(bo + f"{cnt}i", data, vpos)
            elif typ == 12:
                vals = struct.unpack_from(bo + f"{cnt}d", data, vpos)
            elif typ == 11:
                vals = struct.unpack_from(bo + f"{cnt}f", data, vpos)
            elif typ in (1, 6, 7):
                vals = data[vpos:vpos + cnt]
            elif typ == 2:
                vals = data[vpos:vpos + cnt].split(b"\0")[0].decode(
                    "utf-8", "replace")
            elif typ == 5:
                raw = struct.unpack_from(bo + f"{2 * cnt}I", data, vpos)
                vals = tuple(raw[2 * i] / raw[2 * i + 1] if raw[2 * i + 1]
                             else 0.0 for i in range(cnt))
            elif typ in (16, 18):
                vals = struct.unpack_from(bo + f"{cnt}Q", data, vpos)
            elif typ == 17:
                vals = struct.unpack_from(bo + f"{cnt}q", data, vpos)
            else:
                vals = data[vpos:vpos + size]
            tags[tag] = (typ, vals)
        off = struct.unpack_from(bo + ofmt, data, off + hdrsz + n * entsz)[0]
        yield bo, tags


def _tag1(tags, tag, default=None):
    if tag not in tags:
        return default
    v = tags[tag][1]
    if isinstance(v, (tuple, list)):
        return v[0] if v else default
    return v


def _parse_gdal_metadata(xml: str):
    """GDAL_METADATA items -> {(sample, name): value} (sample -1 = dataset;
    reference grids.cpp:556-614)."""
    import re as _re
    out = {}
    for m in _re.finditer(
            r"<Item\s+([^>]*)>([^<]*)</Item>", xml):
        attrs, value = m.group(1), m.group(2).strip()
        nm = _re.search(r'name="([^"]+)"', attrs)
        if not nm:
            continue
        sm = _re.search(r'sample="(\d+)"', attrs)
        sample = int(sm.group(1)) if sm else -1
        out[(sample, nm.group(1))] = value
        role = _re.search(r'role="(\w+)"', attrs)
        if role:
            out[(sample, "__role_" + role.group(1))] = value
    return out


def _undo_predictor(raw: np.ndarray, predictor: int, rows: int, cols: int,
                    spp: int, itemsize: int, bo: str):
    """Per-row predictor decode (TIFF 6.0 + TechNote: 2 = horizontal
    difference over samples, 3 = floating-point byte-plane difference)."""
    if predictor == 2:
        a = raw.reshape(rows, cols, spp)
        return np.cumsum(a.astype(np.int64), axis=1).astype(raw.dtype) \
            .reshape(raw.shape) if False else \
            np.cumsum(a, axis=1, dtype=raw.dtype).reshape(raw.shape)
    if predictor == 3:
        # bytes per row: delta-coded byte planes, MSB plane first
        b = raw.view(np.uint8).reshape(rows, cols * spp * itemsize)
        b = np.cumsum(b, axis=1, dtype=np.uint8)
        planes = b.reshape(rows, itemsize, cols * spp)
        le = np.transpose(planes[:, ::-1, :], (0, 2, 1))  # LSB-first bytes
        flat = np.ascontiguousarray(le).reshape(rows, -1)
        return flat.view("<" + raw.dtype.str[1:]).reshape(raw.shape)
    return raw


def _read_raster(data: bytes, bo: str, tags: dict, w: int, h: int, spp: int):
    """Decode the full raster -> float64 array (h, w, spp)."""
    import zlib
    bits = tags[258][1] if 258 in tags else (32,)
    sfmt = tags.get(339, (3, (3,) * spp))[1]
    comp = _tag1(tags, 259, 1)
    predictor = _tag1(tags, 317, 1)
    planar = _tag1(tags, 284, 1)
    dt0 = _TIFF_DTYPES.get((sfmt[0], bits[0]))
    if dt0 is None:
        raise ValueError(f"unsupported GTiff sample type {sfmt[0]}/{bits[0]}")
    dtype = np.dtype(bo + dt0)
    if comp not in (1, 8, 32946):
        raise ValueError(f"unsupported GTiff compression {comp}")

    def blocks(offs, cnts):
        for o, c in zip(offs, cnts):
            buf = data[o:o + c]
            if comp in (8, 32946):
                buf = zlib.decompress(buf)
            yield buf

    nplanes = spp if planar == 2 else 1
    chans = spp if planar == 1 else 1
    out = np.empty((h, w, spp), dtype=np.float64)
    if 322 in tags:  # tiled
        tw, th = _tag1(tags, 322), _tag1(tags, 323)
        offs, cnts = tags[324][1], tags[325][1]
        tiles_x = (w + tw - 1) // tw
        tiles_y = (h + th - 1) // th
        it = blocks(offs, cnts)
        for plane in range(nplanes):
            for ty in range(tiles_y):
                for tx in range(tiles_x):
                    buf = next(it)
                    a = np.frombuffer(buf, dtype=dtype,
                                      count=tw * th * chans)
                    a = _undo_predictor(a, predictor, th, tw, chans,
                                        dtype.itemsize, bo)
                    a = a.reshape(th, tw, chans).astype(np.float64)
                    ys = min(th, h - ty * th)
                    xs = min(tw, w - tx * tw)
                    if planar == 2:
                        out[ty * th:ty * th + ys, tx * tw:tx * tw + xs,
                            plane] = a[:ys, :xs, 0]
                    else:
                        out[ty * th:ty * th + ys,
                            tx * tw:tx * tw + xs, :] = a[:ys, :xs, :]
    else:  # strips
        rps = _tag1(tags, 278, h)
        offs, cnts = tags[273][1], tags[279][1]
        it = blocks(offs, cnts)
        for plane in range(nplanes):
            y = 0
            while y < h:
                ys = min(rps, h - y)
                buf = next(it)
                n_items = ys * w * chans
                a = np.frombuffer(buf, dtype=dtype, count=n_items)
                a = _undo_predictor(a, predictor, ys, w, chans,
                                    dtype.itemsize, bo)
                a = a.reshape(ys, w, chans).astype(np.float64)
                if planar == 2:
                    out[y:y + ys, :, plane] = a[:, :, 0]
                else:
                    out[y:y + ys, :, :] = a
                y += ys
    return out


def parse_gtiff(data: bytes, name: str = "gtiff"):
    """PROJ-convention GeoTIFF -> FileGrid or GridSet (see module notes)."""
    grids = []
    for bo, tags in _tiff_ifds(data):
        subfile = _tag1(tags, 254, 0)
        if subfile not in (0, 2):  # skip overviews (grids.cpp:1534)
            continue
        w, h = _tag1(tags, 256), _tag1(tags, 257)
        spp = _tag1(tags, 277, 1)
        md = _parse_gdal_metadata(tags[42112][1]) if 42112 in tags else {}
        raster = _read_raster(data, bo, tags, w, h, spp)
        # per-band scale/offset
        for s in range(spp):
            sc = md.get((s, "__role_scale"))
            of = md.get((s, "__role_offset"))
            if sc is not None or of is not None:
                raster[:, :, s] = (raster[:, :, s]
                                   * (float(sc) if sc else 1.0)
                                   + (float(of) if of else 0.0))
        nod = tags.get(42113)
        if nod is not None:
            try:
                nd = float(str(nod[1]).strip())
                raster[np.isclose(raster, nd)] = np.nan
            except ValueError:
                pass
        # georeferencing (grids.cpp:1240-1320)
        geokeys = tags.get(34735, (3, ()))[1]
        pixel_is_area = False
        geographic = True
        for i in range(4, len(geokeys) - 3, 4):
            if geokeys[i] == 1024 and geokeys[i + 3] == 1:
                geographic = False
            elif geokeys[i] == 1025 and geokeys[i + 3] == 1:
                pixel_is_area = True
        if 34264 in tags:
            m = tags[34264][1]
            west, hres = m[3], m[0]
            north, vres = m[7], -m[5]
        else:
            ps = tags[33550][1]
            tp = tags[33922][1]
            hres, vres = ps[0], ps[1]
            west = tp[3] - tp[0] * hres
            north = tp[4] + tp[1] * vres
        if pixel_is_area:
            west += 0.5 * hres
            north -= 0.5 * vres
        south = north - vres * (h - 1)
        # our FileGrid stores row 0 = south; TIFF row 0 = north (unless
        # vres < 0, the bottom-up case)
        if vres >= 0:
            raster = raster[::-1, :, :]
        else:
            south, north = north, north - vres * (h - 1)

        def item(s, key, default=""):
            return md.get((s, key), default)

        descs = [item(s, "DESCRIPTION") for s in range(spp)]
        any_desc = any(descs)
        vert_names = ("geoid_undulation", "vertical_offset", "hydroid_height",
                      "ellipsoidal_height_offset")
        kind = None
        if spp >= 2 and (not any_desc or ("latitude_offset" in descs
                                          and "longitude_offset" in descs)):
            kind = "h"
            ilat = descs.index("latitude_offset") if any_desc else 0
            ilon = descs.index("longitude_offset") if any_desc else 1
            # hybrid 3-band grids (NADCON5): horizontal + ellipsoidal
            # height offset in one file (grids.cpp generic gridshift)
            iz_h = next((i for i, d in enumerate(descs)
                         if d in vert_names), None)
        elif "easting_offset" in descs and "northing_offset" in descs:
            # projected-CRS horizontal grid in metres
            # (gridshift.cpp:274-290)
            kind = "hm"
            ie_m = descs.index("easting_offset")
            in_m = descs.index("northing_offset")
        elif ("x_translation" in descs and "y_translation" in descs
              and "z_translation" in descs):
            # geocentric-translation grid for xyzgridshift
            # (xyzgridshift.cpp:80-95): raw metre bands
            kind = "xyzt"
            ix_t = descs.index("x_translation")
            iy_t = descs.index("y_translation")
            iz_t = descs.index("z_translation")
        elif "east_offset" in descs and "north_offset" in descs:
            # deformation-model displacement grid (defmodel.cpp:76-141
            # checkHorizontal: east_offset/north_offset[/vertical_offset]
            # bands, unit degree or metre) — bands exposed raw
            kind = "defm"
            ie_d = descs.index("east_offset")
            in_d = descs.index("north_offset")
            iz_d = (descs.index("vertical_offset")
                    if "vertical_offset" in descs else None)
        elif any(d in vert_names for d in descs):
            kind = "v"
            iz = next(i for i, d in enumerate(descs) if d in vert_names)
        elif not any_desc and spp == 1:
            kind = "v"
            iz = 0
        elif ("east_velocity" in descs and "north_velocity" in descs
              and "up_velocity" in descs):
            kind = "vel"
        else:
            # non-offset IFD (e.g. *_offset_accuracy companion rasters):
            # the reference only consumes recognized offset bands — skip
            continue

        if kind == "h":
            unit = item(ilat, "UNITTYPE") or "arc-second"
            to_as = {"arc-second": 1.0, "arc-seconds per year": 1.0,
                     "degree": 3600.0, "radian": _RAD2AS}[unit]
            sgn = -1.0 if item(ilon, "positive_value") == "west" else 1.0
            g = FileGrid(name, west, south, hres, abs(vres), w, h,
                         dlon_as=sgn * raster[:, :, ilon] * to_as,
                         dlat_as=raster[:, :, ilat] * to_as,
                         dz_m=raster[:, :, iz_h] if iz_h is not None
                         else None)
        elif kind == "hm":
            sgn_e = -1.0 if item(ie_m, "positive_value") == "west" else 1.0
            sgn_n = -1.0 if item(in_m, "positive_value") == "south" else 1.0
            g = FileGrid(name, west, south, hres, abs(vres), w, h,
                         dlon_as=sgn_e * raster[:, :, ie_m],
                         dlat_as=sgn_n * raster[:, :, in_m])
            g.offset_unit = "metre"
            g.const_xy = (float(item(ie_m, "constant_offset", 0.0) or 0.0),
                          float(item(in_m, "constant_offset", 0.0) or 0.0))
        elif kind == "xyzt":
            g = FileGrid(name, west, south, hres, abs(vres), w, h,
                         dlon_as=raster[:, :, ix_t],
                         dlat_as=raster[:, :, iy_t],
                         dz_m=raster[:, :, iz_t])
            g.geocentric_translation = True
        elif kind == "defm":
            g = FileGrid(name, west, south, hres, abs(vres), w, h,
                         dlon_as=raster[:, :, ie_d],
                         dlat_as=raster[:, :, in_d],
                         dz_m=raster[:, :, iz_d] if iz_d is not None
                         else None)
            g.offset_unit = item(ie_d, "UNITTYPE") or "metre"
            g.defmodel = True
        elif kind == "v":
            g = FileGrid(name, west, south, hres, abs(vres), w, h,
                         dz_m=raster[:, :, iz])
        else:  # velocity: bands exposed raw (ve, vn, vu mm/yr)
            ie = descs.index("east_velocity")
            inn = descs.index("north_velocity")
            iu = descs.index("up_velocity")
            g = FileGrid(name, west, south, hres, abs(vres), w, h,
                         dlon_as=raster[:, :, ie],
                         dlat_as=raster[:, :, inn],
                         dz_m=raster[:, :, iu])
        if not geographic:
            g.global_lon = False
            g.geographic = False
            g.projected = True
        g.grid_name = item(-1, "grid_name")
        g.parent_name = item(-1, "parent_grid_name")
        # per-grid preferred method (gridshift.cpp:337-341: explicit
        # +interpolation > grid metadata > bilinear)
        g.interp_default = item(-1, "interpolation_method")
        grids.append(g)
    if not grids:
        raise ValueError("no usable grid IFD in GTiff file")
    if len(grids) == 1:
        return grids[0]
    # children-first ordering (insertIntoHierarchy, grids.cpp:1378-1430):
    # sort by hierarchy depth, deepest first; stable within a level
    by_name = {g.grid_name: g for g in grids if g.grid_name}

    def depth(g):
        d, seen = 0, set()
        while g.parent_name and g.parent_name in by_name \
                and g.parent_name not in seen:
            seen.add(g.parent_name)
            g = by_name[g.parent_name]
            d += 1
        return d

    if all(g.grid_name for g in grids):
        order = sorted(range(len(grids)),
                       key=lambda i: (-depth(grids[i]), i))
    else:
        # unnamed subgrids: hierarchy by extent containment (reference
        # insertIntoHierarchy extent path) — smaller/finer grids are
        # children and must be probed first
        def span(g):
            return g.dlon * (g.width - 1) * g.dlat * (g.height - 1)

        order = sorted(range(len(grids)), key=lambda i: (span(grids[i]), i))
    return GridSet(name, [grids[i] for i in order])
