"""S2 cell IDs: sphere -> cube-face (s,t) -> Hilbert-curve cell id.

The face/UV/ST math follows the reference's s2 projection
(src/projections/s2.cpp:126-239: STtoUV/UVtoST quadratic profile :153-158,
FaceUVtoXYZ :168-183, GetFace = largest-|component| :223-239). The Hilbert
cell-id bit layout itself is NOT in the reference (its header comment
:42-48 cites the s2geometry scheme); we implement the standard public
scheme: 3 face bits + 60 Hilbert position bits + 1 sentinel bit, built with
4-level lookup tables, fully vectorized over numpy int64 arrays.

The quadratic ST profile is sqrt-based — no tan/atan platform variance —
which is why cell assignment is bit-stable across machines (SURVEY.md §7.3.2).
"""

from __future__ import annotations

import numpy as np

MAX_LEVEL = 30
_POS_BITS = 2 * MAX_LEVEL + 1

_SWAP_MASK = 0x1
_INVERT_MASK = 0x2

# Hilbert base tables (public s2geometry constants)
_POS_TO_IJ = np.array([
    [0, 1, 3, 2],   # canonical order
    [0, 2, 3, 1],   # axes swapped
    [3, 2, 0, 1],   # bits inverted
    [3, 1, 0, 2],   # swapped & inverted
], dtype=np.int64)
_POS_TO_ORIENTATION = np.array([_SWAP_MASK, 0, 0, _INVERT_MASK + _SWAP_MASK], dtype=np.int64)

_LOOKUP_BITS = 4


def _build_lookup():
    lookup_pos = np.zeros(1 << (2 * _LOOKUP_BITS + 2), dtype=np.int64)
    lookup_ij = np.zeros(1 << (2 * _LOOKUP_BITS + 2), dtype=np.int64)

    def init(level, i, j, orig_orientation, pos, orientation):
        if level == _LOOKUP_BITS:
            ij = (i << _LOOKUP_BITS) + j
            lookup_pos[(ij << 2) + orig_orientation] = (pos << 2) + orientation
            lookup_ij[(pos << 2) + orig_orientation] = (ij << 2) + orientation
            return
        level += 1
        i <<= 1
        j <<= 1
        pos <<= 2
        r = _POS_TO_IJ[orientation]
        for index in range(4):
            ij = int(r[index])
            init(level, i + (ij >> 1), j + (ij & 1), orig_orientation,
                 pos + index, orientation ^ int(_POS_TO_ORIENTATION[index]))

    for orientation in range(4):
        init(0, 0, 0, orientation, 0, orientation)
    return lookup_pos, lookup_ij


_LOOKUP_POS, _LOOKUP_IJ = _build_lookup()


# ---------------------------------------------------------------------------
# sphere <-> face/UV/ST (reference s2.cpp math)
# ---------------------------------------------------------------------------

def lonlat_to_xyz(lon_rad, lat_rad):
    cl = np.cos(lat_rad)
    return cl * np.cos(lon_rad), cl * np.sin(lon_rad), np.sin(lat_rad)


def xyz_to_face_uv(x, y, z):
    """face = axis of largest |component| (s2.cpp:223-239), uv = the two
    remaining components scaled by the major axis (s2.cpp:189-217)."""
    ax, ay, az = np.abs(x), np.abs(y), np.abs(z)
    face = np.where(ax > ay,
                    np.where(ax > az, 0, 2),
                    np.where(ay > az, 1, 2)).astype(np.int64)
    face = face + np.where(
        np.select([face == 0, face == 1], [x, y], default=z) < 0, 3, 0)
    # u,v per face (canonical s2 ValidFaceXYZtoUV axis assignment)
    with np.errstate(divide="ignore", invalid="ignore"):
        u = np.select(
            [face == 0, face == 1, face == 2, face == 3, face == 4],
            [y / x, -x / y, -x / z, z / x, z / y],
            default=-y / z)
        v = np.select(
            [face == 0, face == 1, face == 2, face == 3, face == 4],
            [z / x, z / y, -y / z, y / x, -x / y],
            default=-x / z)
    return face, u, v


def face_uv_to_xyz(face, u, v):
    """Inverse of xyz_to_face_uv (s2.cpp:168-183), unnormalized."""
    one = np.ones_like(u)
    x = np.select([face == 0, face == 1, face == 2, face == 3, face == 4],
                  [one, -u, -u, -one, v], default=v)
    y = np.select([face == 0, face == 1, face == 2, face == 3, face == 4],
                  [u, one, -v, -v, -one], default=u)
    z = np.select([face == 0, face == 1, face == 2, face == 3, face == 4],
                  [v, v, one, -u, -u], default=-one)
    return x, y, z


def uv_to_st(u):
    """Quadratic profile (s2.cpp:153-158): sqrt-based, platform-stable."""
    with np.errstate(invalid="ignore"):
        return np.where(u >= 0, 0.5 * np.sqrt(1.0 + 3.0 * u),
                        1.0 - 0.5 * np.sqrt(1.0 - 3.0 * u))


def st_to_uv(s):
    return np.where(s >= 0.5, (1.0 / 3.0) * (4.0 * s * s - 1.0),
                    (1.0 / 3.0) * (1.0 - 4.0 * (1.0 - s) * (1.0 - s)))


def st_to_ij(s):
    return np.clip((s * (1 << MAX_LEVEL)).astype(np.int64), 0, (1 << MAX_LEVEL) - 1)


# ---------------------------------------------------------------------------
# (face, i, j) <-> cell id (s2geometry Hilbert scheme, 4-bit lookup chunks)
# ---------------------------------------------------------------------------

def from_face_ij(face, i, j):
    """Leaf (level-30) cell id from face + 30-bit (i, j). Vectorized.

    Standard s2geometry S2CellId::FromFaceIJ: id = face(3b) | hilbert
    pos(60b) | sentinel(1b). Faces 4-5 wrap into negative int64 — ids are
    opaque join/sort keys, so two's-complement wrap is fine and stable.
    """
    pos = np.zeros(np.shape(face), dtype=np.int64)
    bits = (np.asarray(face, dtype=np.int64) & _SWAP_MASK)
    i = np.asarray(i, dtype=np.int64)
    j = np.asarray(j, dtype=np.int64)
    mask = (1 << _LOOKUP_BITS) - 1
    for k in range(7, -1, -1):
        bits = bits + (((i >> (k * _LOOKUP_BITS)) & mask) << (_LOOKUP_BITS + 2))
        bits = bits + (((j >> (k * _LOOKUP_BITS)) & mask) << 2)
        bits = _LOOKUP_POS[bits]
        pos = pos | ((bits >> 2) << (k * 2 * _LOOKUP_BITS))
        bits = bits & (_SWAP_MASK | _INVERT_MASK)
    u = ((np.asarray(face, dtype=np.int64).astype(np.uint64) << np.uint64(60))
         | pos.astype(np.uint64))
    return np.asarray((u << np.uint64(1)) | np.uint64(1)).view(np.int64)


def to_face_ij(cell_id):
    """Inverse: leaf cell id -> (face, i, j). Vectorized
    (s2geometry S2CellId::ToFaceIJOrientation)."""
    u = np.asarray(cell_id, dtype=np.int64).view(np.uint64)
    face = (u >> np.uint64(61)).astype(np.int64)
    bits = face & _SWAP_MASK
    i = np.zeros_like(face)
    j = np.zeros_like(face)
    for k in range(7, -1, -1):
        nbits = (MAX_LEVEL - 7 * _LOOKUP_BITS) if k == 7 else _LOOKUP_BITS
        chunk = ((u >> np.uint64(k * 2 * _LOOKUP_BITS + 1)).astype(np.int64)
                 & ((1 << (2 * nbits)) - 1))
        bits = bits + (chunk << 2)
        bits = _LOOKUP_IJ[bits]
        i = i | ((bits >> (_LOOKUP_BITS + 2)) << (k * _LOOKUP_BITS))
        j = j | (((bits >> 2) & ((1 << _LOOKUP_BITS) - 1)) << (k * _LOOKUP_BITS))
        bits = bits & (_SWAP_MASK | _INVERT_MASK)
    return face, i, j


def lonlat_to_cell(lon_deg, lat_deg, level: int = MAX_LEVEL):
    """(lon, lat) degrees -> S2 cell id at ``level``. NaN -> 0 (invalid id)."""
    lon_deg = np.asarray(lon_deg, dtype=np.float64)
    # normalize to (-180, 180] so the +-180 antimeridian maps to one cell
    lon_deg = lon_deg - 360.0 * np.floor((lon_deg + 180.0) / 360.0)
    lon_deg = np.where(lon_deg == -180.0, 180.0, lon_deg)
    lon = lon_deg * (np.pi / 180.0)
    lat = np.asarray(lat_deg, dtype=np.float64) * (np.pi / 180.0)
    x, y, z = lonlat_to_xyz(lon, lat)
    face, u, v = xyz_to_face_uv(x, y, z)
    bad = ~(np.isfinite(u) & np.isfinite(v))
    u = np.where(bad, 0.0, u)
    v = np.where(bad, 0.0, v)
    i = st_to_ij(uv_to_st(u))
    j = st_to_ij(uv_to_st(v))
    leaf = from_face_ij(face, i, j)
    out = parent(leaf, level) if level < MAX_LEVEL else leaf
    return np.where(bad, 0, out)


def cell12(lon_deg, lat_deg):
    """Level-12 cell ids (~2 km cells), the grain at which the geolocate job
    and the ``s2_cell_counts`` query bin points. A point with no cell (NaN
    or infinite input, id 0) is masked, which the Spark boundary
    (``stages.numpy_udf``) returns as NULL."""
    return np.ma.masked_equal(lonlat_to_cell(lon_deg, lat_deg, 12), 0)


def lsb_for_level(level: int) -> int:
    return 1 << (2 * (MAX_LEVEL - level))


def parent(cell_id, level: int):
    """Ancestor cell at ``level`` (clear sub-level bits, set sentinel)."""
    lsb = np.int64(lsb_for_level(level))
    return (np.asarray(cell_id, dtype=np.int64) & -lsb) | lsb


def cell_level(cell_id):
    """Level from trailing-one position."""
    cell_id = np.asarray(cell_id, dtype=np.int64)
    lsb = cell_id & -cell_id
    # log2 of lsb
    lvl = MAX_LEVEL - (np.round(np.log2(lsb.astype(np.float64))) / 2).astype(np.int64)
    return lvl


def cell_center_lonlat(cell_id):
    """Center (lon, lat) degrees of a cell at any level."""
    cell_id = np.asarray(cell_id, dtype=np.int64)
    lsb = cell_id & -cell_id
    # first leaf inside the cell: drop the sentinel at lsb, set leaf sentinel
    face, i, j = to_face_ij(cell_id - lsb + 1)
    # cell size in leaf-ij units = 2^(30-level) = sqrt(lsb), a power of two
    size = np.sqrt(lsb.astype(np.float64)).astype(np.int64)
    i_c = (i & ~(size - 1)) + size // 2
    j_c = (j & ~(size - 1)) + size // 2
    s = (i_c.astype(np.float64) + 0.5 * (size == 1)) / (1 << MAX_LEVEL)
    t = (j_c.astype(np.float64) + 0.5 * (size == 1)) / (1 << MAX_LEVEL)
    u = st_to_uv(s)
    v = st_to_uv(t)
    x, y, z = face_uv_to_xyz(face, u, v)
    lon = np.degrees(np.arctan2(y, x))
    lat = np.degrees(np.arctan2(z, np.hypot(x, y)))
    return lon, lat
