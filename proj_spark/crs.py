"""proj-string parsing, CRS registry, and the CRS->CRS mini-planner.

The parser mirrors the reference's free-format tokenizer
(src/4D_api.cpp:993-1041 pj_trim_argc/argv + src/init.cpp:482-538 paralist ->
constructor dispatch), restricted to the +key=value grammar. The CRS->CRS
planner is the driver-side replacement for proj_create_crs_to_crs
(src/4D_api.cpp:2072-2270): we support a static registry of CRS definitions
(the full EPSG SQLite database, src/iso19111/factory.cpp, is explicitly not
ported — SURVEY.md §7.4), and build a pipeline
``inv(src) -> [datum shift via cart/helmert] -> fwd(dst)`` the way the
reference's cs2cs emulation rewrites +towgs84 (src/4D_api.cpp:845-992).

Per-coordinate dispatch: ED50 -> WGS84 has ~30 regional EPSG Helmerts
with different areas of use, ranked by accuracy/area
(``transform_candidates``, coordinateoperationfactory.cpp:853-950); EACH
COORDINATE takes the first candidate whose extent contains it
(pj_get_suggested_operation, 4D_api.cpp:217-346). ``_registry_helmert``
turns a registry row into the operator of both forms: the numpy
``CrsToCrsDispatcher`` and the Spark ``dispatch_geocentric``, where the
candidate table is DATA (broadcast bbox join, min(rnk) per point, JVM
SQL math). The Spark form stops at geocentric XYZ, so its DuckDB oracle
stays closed-form (no iterative cart inverse).
"""

from __future__ import annotations

import re

from .ops import Operator, Pipeline, PushPop, create_operator


def _read_pkg_gz(name: str) -> str:
    """Read a gzipped text resource from proj_spark/data/. Goes through
    importlib.resources, not a filesystem path, so it works when the
    package ships as a spark-submit --py-files zip."""
    import gzip
    from importlib import resources
    raw = (resources.files(__package__) / "data" / name).read_bytes()
    return gzip.decompress(raw).decode("utf-8")
from .kernels import cyl, conic, cartgeo, datum, azimuthal, gridshift, pseudocyl, misc2, misc3, dgg, meta, interrupted, tail1, tail2, tail3, tail4, tail5, tail6, complexpoly, space, adams  # noqa: F401 (registration)


def parse_proj_params(s: str) -> list[dict]:
    """Tokenize a proj-string; returns one dict per step (a non-pipeline
    string yields a single-element list)."""
    # a standalone backslash is a gie-style line continuation and is
    # dropped; a backslash embedded in a token (e.g. a file-valued param
    # like +grids=dir\file.tif) must survive tokenization
    toks = [t for t in s.replace("\\\n", " ").replace("\n", " ").split()
            if t != "\\"]
    # merge free-format "key = value" / "key =value" / "key= value" triples
    # (reference pj_trim_argv tokenization, src/4D_api.cpp:993-1041)
    merged = []
    i = 0
    while i < len(toks):
        tok = toks[i]
        if tok == "=" and merged and i + 1 < len(toks):
            merged[-1] = merged[-1] + "=" + toks[i + 1]
            i += 2
            continue
        if tok.endswith("=") and i + 1 < len(toks) and "=" not in toks[i + 1]:
            merged.append(tok + toks[i + 1])
            i += 2
            continue
        if tok.startswith("=") and merged and "=" not in merged[-1]:
            merged[-1] = merged[-1] + tok
            i += 1
            continue
        # "towgs84=1, 2, 3" comma-continuation (pj_trim_argc list values)
        if merged and "=" in merged[-1] and merged[-1].endswith(","):
            merged[-1] = merged[-1] + tok
            i += 1
            continue
        merged.append(tok)
        i += 1
    toks = merged
    global_params: dict = {}
    steps: list[dict] = []
    cur: dict | None = None
    is_pipeline = False
    for tok in toks:
        tok = tok.lstrip("+")
        if not tok:
            continue
        if "=" in tok:
            k, v = tok.split("=", 1)
        else:
            k, v = tok, True
        if k == "step":
            is_pipeline = True
            if cur is not None:
                steps.append(cur)
            cur = {}
            continue
        if k == "proj" and v == "pipeline":
            is_pipeline = True
            continue
        # first occurrence wins (reference paralist search order,
        # src/init.cpp:375-383: earlier params take precedence)
        if cur is None:
            global_params.setdefault(k, v)
        else:
            cur.setdefault(k, v)
    if cur is not None:
        steps.append(cur)
    if not is_pipeline:
        return [global_params]
    # pipeline global params (e.g. +ellps before first step) inherit into
    # steps; a global +inv inverts the PIPELINE, not each step
    # (pipeline.cpp runs the op inverted via P->inverted), handled in create()
    inherit = {k: v for k, v in global_params.items()
               if k not in ("proj", "inv")}
    out = []
    for st in steps:
        merged = dict(inherit)
        merged.update(st)
        out.append(merged)
    return out


_WKT_ROOTS = ("GEOGCRS", "GEODCRS", "GEOGCS", "GEODETICCRS", "PROJCRS",
              "PROJCS", "PROJECTEDCRS", "BOUNDCRS", "COMPD_CS",
              "COMPOUNDCRS")


def normalize_crs_def(defn: str) -> str:
    """Accept proj-string / EPSG:code / WKT1 / WKT2 / PROJJSON, return a
    proj-string (reference proj_create's input dispatch,
    4D_api.cpp + io.cpp createFromUserInput)."""
    s = defn.strip()
    if s.startswith("{"):
        from .wktio import from_projjson
        return from_projjson(s)
    head = re.split(r"[\[\(]", s, 1)[0].strip().upper()
    if head in _WKT_ROOTS:
        from .wktio import from_wkt
        return from_wkt(s)
    # remaining WKT roots (GEOCCS, VERTCRS, ENGCRS, ...) must fail
    # cleanly as unsupported-CRS, not fall through to the proj-string
    # parser (reference io.cpp createFromUserInput raises ParsingException)
    if head and re.fullmatch(r"[A-Z_][A-Z0-9_]*", head) and ("[" in s or "(" in s):
        from .errors import INVALID_OP_WRONG_SYNTAX, ProjError
        raise ProjError(f"unsupported WKT CRS type: {head}",
                        INVALID_OP_WRONG_SYNTAX)
    return s


def create(defn: str):
    """proj-string / EPSG / WKT / PROJJSON -> Operator or Pipeline (the
    engine's proj_create)."""
    defn = normalize_crs_def(defn)
    if defn.upper().startswith("EPSG:"):
        defn = epsg_to_proj(int(defn.split(":")[1]))
    steps = parse_proj_params(defn)
    if len(steps) == 1 and "step" not in defn and "pipeline" not in defn:
        p = steps[0]
        op, direction = _create_step(p)
        if direction == "inverse":
            # +inv on a plain operator runs it inverted (P->inverted)
            return Pipeline([(op, "inverse")])
        return op
    head = []
    for tok in defn.replace("\n", " ").split():
        t = tok.lstrip("+")
        if t == "step":
            break
        head.append(t)
    # a second +proj= in the GLOBAL segment is malformed (reference: the
    # global args are appended to every step, and a duplicate +proj in
    # the pipeline's own args aborts creation)
    if sum(1 for t in head if t.startswith("proj=")) > 1:
        from .errors import INVALID_OP_WRONG_SYNTAX, ProjError
        raise ProjError("pipeline: duplicate +proj in global arguments",
                        INVALID_OP_WRONG_SYNTAX)
    # global +inv toggles each step's inversion, step order preserved;
    # +inv in BOTH global and step args means forward
    # (reference pipeline.cpp:516-523)
    if "inv" in head:
        for p in steps:
            if "inv" in p:
                p.pop("inv")
            else:
                p["inv"] = True
    ops = [_create_step(p) for p in steps]
    return Pipeline(ops)


def _create_step(p: dict):
    direction = "inverse" if "inv" in p else "forward"
    q = {k: v for k, v in p.items() if k != "inv"}
    if "init" in q:
        # +init= expansion (reference src/init.cpp:505-512); epsg: codes
        # resolve through the static registry, other init files through
        # _INIT_STATIC; explicit params take precedence
        target = str(q.pop("init")).lower()
        if target.startswith("epsg:"):
            defn = epsg_to_proj(int(target.split(":")[1]))
        elif target in _INIT_STATIC:
            defn = _INIT_STATIC[target]
        else:
            raise KeyError(f"unsupported init file {target}")
        expanded = parse_proj_params(defn)[0]
        # proj4 init rules (the reference's use_proj4_init_rules /
        # PROJ_USE_PROJ4_INIT_RULES): +init= CRS expansions keep the
        # traditional GIS axis order — drop a pure north/east ORDER swap
        # (neu) the registry carries, but keep genuine projection axis
        # conventions (wsu south-oriented TM etc.), which the legacy
        # proj4 init files also carried
        if str(expanded.get("axis", "")) == "neu":
            expanded.pop("axis")
        for k, v in expanded.items():
            q.setdefault(k, v)
    op = create_operator(q)
    # dead-step elision flags (reference src/conversions/pipeline.cpp:119-120)
    op._omit_fwd = "omit_fwd" in p
    op._omit_inv = "omit_inv" in p
    return (op, direction)


# init-file entries used by the reference test suite (data/nad27:579-582)
_INIT_STATIC = {
    "nad27:3901": "proj=lcc datum=NAD27 lon_0=-81 lat_1=34d58 lat_2=33d46 "
                  "lat_0=33 x_0=609601.2192024384 y_0=0",
}


# ---------------------------------------------------------------------------
# Static CRS registry (EPSG subset; replaces the 9,990-LoC SQLite factory)
# ---------------------------------------------------------------------------

_EPSG_STATIC = {
    4326: "+proj=longlat +ellps=WGS84",            # WGS84 geographic
    4258: "+proj=longlat +ellps=GRS80",            # ETRS89 geographic
    4269: "+proj=longlat +ellps=GRS80",            # NAD83 geographic
    4277: "+proj=longlat +ellps=airy +towgs84=446.448,-125.157,542.060,0.1502,0.2470,0.8421,-20.4894",  # OSGB36
    4230: "+proj=longlat +datum=ED50",             # ED50
    3857: "+proj=webmerc +ellps=WGS84",            # Web Mercator
    4978: "+proj=geocent +ellps=WGS84",            # WGS84 geocentric
    2154: "+proj=lcc +lat_0=46.5 +lon_0=3 +lat_1=49 +lat_2=44 +x_0=700000 +y_0=6600000 +ellps=GRS80",  # RGF93 / Lambert-93
    5070: "+proj=aea +lat_0=23 +lon_0=-96 +lat_1=29.5 +lat_2=45.5 +x_0=0 +y_0=0 +ellps=GRS80",  # NAD83 / CONUS Albers
    27700: "+proj=tmerc +lat_0=49 +lon_0=-2 +k=0.9996012717 +x_0=400000 +y_0=-100000 +ellps=airy "
           "+towgs84=446.448,-125.157,542.060,0.1502,0.2470,0.8421,-20.4894",  # British National Grid
    25832: "+proj=utm +zone=32 +ellps=GRS80",      # ETRS89 / UTM 32N
    3035: "+proj=laea +lat_0=52 +lon_0=10 +x_0=4321000 +y_0=3210000 +ellps=GRS80",  # ETRS89-LAEA (needs laea op)
    32600: None,  # handled by pattern
}


_EPSG_GENERATED: dict | None = None


def _epsg_generated() -> dict:
    """Lazy-loaded table compiled from the reference's published EPSG SQL
    registry (tools/epsg_extract.py over data/sql/*.sql — 6,400+
    geographic and projected CRS). The handcrafted entries above take
    precedence (they carry curated towgs84 values)."""
    global _EPSG_GENERATED
    if _EPSG_GENERATED is None:
        import json
        try:
            _EPSG_GENERATED = json.loads(_read_pkg_gz("epsg.json.gz"))
        except OSError:
            _EPSG_GENERATED = {}
    return _EPSG_GENERATED


def epsg_to_proj(code: int) -> str:
    """EPSG code -> proj-string (reference analogue: SQLite lookup in
    src/iso19111/factory.cpp; here a handcrafted core + a table compiled
    from the same published EPSG SQL, per SURVEY.md §1.3)."""
    if 32601 <= code <= 32660:  # WGS84 / UTM north
        return f"+proj=utm +zone={code - 32600} +ellps=WGS84"
    if 32701 <= code <= 32760:  # WGS84 / UTM south
        return f"+proj=utm +zone={code - 32700} +south +ellps=WGS84"
    if 25828 <= code <= 25838:  # ETRS89 / UTM
        return f"+proj=utm +zone={code - 25800} +ellps=GRS80"
    if 26901 <= code <= 26923:  # NAD83 / UTM
        return f"+proj=utm +zone={code - 26900} +ellps=GRS80"
    s = _EPSG_STATIC.get(code)
    if s:
        return s
    s = _epsg_generated().get(str(code))
    if not s:
        raise KeyError(f"EPSG:{code} not in static registry")
    return s


def _towgs84_of(params: dict):
    tw = params.get("towgs84")
    if tw is None:
        if "datum" in params:
            from .kernels.core import DATUM_TABLE
            shift = DATUM_TABLE[params["datum"]][1]
            if isinstance(shift, str):
                # grid-based datum sentinel (e.g. NAD27 "@grid:...") —
                # propagated so create_crs_to_crs can route via the grid
                # registry or raise, never a silent zero Helmert
                return shift
            return tuple(shift)
        return None
    vals = tuple(float(v) for v in str(tw).split(","))
    if all(v == 0 for v in vals):
        return None
    return vals


_GEOGRAPHIC_PROJS = ("longlat", "latlong", "lonlat", "latlon")


def crs_is_geographic(crs: str) -> bool:
    """True when the CRS's coordinates are lon/lat degrees (the reference's
    proj_angular_input/output distinction, src/4D_api.cpp:81-118)."""
    crs = normalize_crs_def(crs)
    d = epsg_to_proj(int(crs.split(":")[1])) if crs.upper().startswith("EPSG:") else crs
    steps = parse_proj_params(d)
    return steps[0].get("proj") in _GEOGRAPHIC_PROJS


# ---------------------------------------------------------------------------
# Compound / vertical CRS planning (r3 VERDICT item 2)
# ---------------------------------------------------------------------------

# Vertical CRS whose ellipsoidal conversion is a geoid-undulation
# vgridshift (reference coordinateoperationfactory.cpp
# createOperationsCompoundCRS / the EPSG "geographic3D to GravityRelated
# Height" method 9665): EPSG vertical code -> candidate geoid grid names,
# first resolvable wins (reference proj.db grid_alternatives: the CDN
# .tif first, then the legacy .gtx the test tree ships downsampled).
VERTICAL_CRS: dict[int, tuple[str, list[str]]] = {
    5773: ("EGM96 height", ["us_nga_egm96_15.tif", "egm96_15.gtx",
                            "egm96_15_downsampled.gtx"]),
    5798: ("EGM84 height", ["us_nga_egm84_30.tif", "egm84_30.gtx"]),
    3855: ("EGM2008 height", ["us_nga_egm08_25.tif", "egm08_25.gtx"]),
    5703: ("NAVD88 height", ["us_noaa_g2018u0.tif", "g2018u0.gtx"]),
}

# 3D geographic CRS -> their 2D horizontal subset (reference
# demoteTo2D); a 3D code on either side of a compound plan keeps
# ellipsoidal height as the third coordinate.
_GEOG3D_TO_2D = {4979: 4326, 4957: 4269, 4937: 4258, 7912: 9057}


def _split_compound(s: str) -> tuple[int, int] | None:
    """'EPSG:hhhh+vvvv' (proj_create_crs_to_crs compound syntax) ->
    (horizontal_code, vertical_code); None when not compound."""
    m = re.fullmatch(r"(?i)\s*EPSG:(\d+)\s*\+\s*(\d+)\s*", str(s))
    return (int(m.group(1)), int(m.group(2))) if m else None


def _vertical_leg(vcode: int):
    """vgridshift operator for a gravity-related vertical CRS: forward is
    orthometric -> ellipsoidal (z + N, the EPSG 9665 direction — the
    generated reference pipeline is `+proj=vgridshift +grids=...
    +multiplier=1`)."""
    from .gridfiles import load_grid_file
    name, grids = VERTICAL_CRS[vcode]  # KeyError: unsupported vertical CRS
    for g in grids:
        try:
            load_grid_file(g)
        except (KeyError, FileNotFoundError, OSError):
            continue
        return create_operator({"proj": "vgridshift", "grids": g,
                                "multiplier": 1.0})
    raise KeyError(f"no geoid grid resolvable for EPSG:{vcode} ({name}); "
                   f"tried {grids}")


def _compound_crs_pipeline(sc, dc, src: str, dst: str,
                           use_registry: bool) -> Pipeline:
    """Compound (horizontal + gravity-related vertical) <-> 3D planning
    (reference coordinateoperationfactory.cpp compound-CRS handling,
    test/unit/test_operationfactory.cpp compoundCRS_to_geogCRS_3D):

        [src geoid fwd: H + N -> h_ell]  (at source geographic position)
        -> horizontal plan src_h -> dst_h (create_crs_to_crs)
        -> [dst geoid inv: h_ell -> H]

    A non-compound side must be a geodetic EPSG code; a 3D geographic
    code (e.g. 4979) is demoted to its 2D horizontal for the middle leg
    and keeps ellipsoidal height."""
    def _side(code_pair, plain):
        if code_pair is not None:
            return code_pair
        n = normalize_crs_def(str(plain))
        if not n.upper().startswith("EPSG:"):
            raise ValueError("compound planning needs EPSG codes on both "
                             f"sides, got {plain!r}")
        return int(n.split(":")[1]), None

    s_h, s_v = _side(sc, src)
    d_h, d_v = _side(dc, dst)
    s_h = _GEOG3D_TO_2D.get(s_h, s_h)
    d_h = _GEOG3D_TO_2D.get(d_h, d_h)
    steps: list[tuple] = []
    if s_v is not None and s_v != d_v:
        steps.append((_vertical_leg(s_v), "forward"))
    if s_h != d_h:
        steps.extend(create_crs_to_crs(f"EPSG:{s_h}", f"EPSG:{d_h}",
                                       use_registry=use_registry).steps)
    if d_v is not None and d_v != s_v:
        steps.append((_vertical_leg(d_v), "inverse"))
    if not steps:
        steps.append((create_operator({"proj": "noop"}), "forward"))
    return Pipeline(steps)


def create_crs_to_crs(src: str, dst: str,
                      use_registry: bool = False) -> Pipeline:
    """Build the cs2cs-equivalent pipeline src CRS -> dst CRS.

    Mirrors the reference's prepared-operation construction for the
    static-registry case (src/4D_api.cpp:845-992 cs2cs emulation):

      inv(src proj) -> [src towgs84: cart -> helmert -> cart^-1]
                    -> [dst towgs84: cart -> helmert^-1 -> cart^-1]
                    -> fwd(dst proj)

    With ``use_registry=True`` and two geodetic EPSG codes, the datum leg
    instead comes from the EPSG transformation registry's best-ranked
    candidate (transform_candidates — accuracy/area ordering incl.
    WGS84-pivot compositions, the reference's
    AuthorityFactory::createFromCoordinateReferenceSystemCodes path);
    per-COORDINATE candidate selection is CrsToCrsDispatcher.

    Coordinates are (lon, lat) in degrees in, (x, y) CRS units out; the
    engine universally uses GIS (lon,lat) order (axis normalization the
    reference applies via proj_normalize_for_visualization).

    Compound 'EPSG:hhhh+vvvv' on either side routes through the
    vertical/compound planner (_compound_crs_pipeline): the vertical
    member's geoid leg wraps the horizontal plan.
    """
    sc, dc = _split_compound(src), _split_compound(dst)
    if sc is not None or dc is not None:
        return _compound_crs_pipeline(sc, dc, src, dst, use_registry)
    if use_registry:
        src_n = normalize_crs_def(src)
        dst_n = normalize_crs_def(dst)
        if (src_n.upper().startswith("EPSG:")
                and dst_n.upper().startswith("EPSG:")):
            s_code = int(src_n.split(":")[1])
            d_code = int(dst_n.split(":")[1])
            for cand in transform_candidates(s_code, d_code):
                try:
                    return registry_datum_pipeline(s_code, d_code, cand)
                except (KeyError, ValueError):
                    # unresolvable grid file: try the next candidate
                    # (reference grid-free fallback, 4D_api.cpp:436-530)
                    continue
    src = normalize_crs_def(src)
    dst = normalize_crs_def(dst)
    src_def = epsg_to_proj(int(src.split(":")[1])) if src.upper().startswith("EPSG:") else src
    dst_def = epsg_to_proj(int(dst.split(":")[1])) if dst.upper().startswith("EPSG:") else dst
    src_steps = parse_proj_params(src_def)
    dst_steps = parse_proj_params(dst_def)
    if len(src_steps) != 1 or len(dst_steps) != 1:
        raise ValueError("crs_to_crs expects single-operator CRS definitions")
    sp, dp = src_steps[0], dst_steps[0]

    steps: list[tuple] = []
    # 1. into geodetic coordinates of the source datum. The step operators
    # are built with op-level datum handling disabled: this pipeline adds
    # the datum legs explicitly, so leaving +towgs84/+datum live on the
    # step would apply the shift twice.
    if sp.get("proj") not in ("longlat", "latlong", "lonlat", "latlon"):
        steps.append((create_operator({**sp, "_no_datum_shift": True}),
                      "inverse"))
    s_tw = _towgs84_of(sp)
    d_tw = _towgs84_of(dp)
    grid_steps_pre: list[tuple] = []
    grid_steps_post: list[tuple] = []
    if isinstance(s_tw, str) or isinstance(d_tw, str):
        # grid-based datum (NAD27/potsdam nadgrids): same datum on both
        # sides cancels; otherwise route through hgridshift — grid fwd is
        # local -> pivot (WGS84/NAD83), reference PJD_GRIDSHIFT semantics
        if s_tw == d_tw:
            s_tw = d_tw = None
        else:
            if isinstance(s_tw, str):
                grid_steps_pre.append(
                    (create_operator({"proj": "hgridshift", "grids": s_tw,
                                      "_no_datum_shift": True}), "forward"))
                s_tw = None
            if isinstance(d_tw, str):
                grid_steps_post.append(
                    (create_operator({"proj": "hgridshift", "grids": d_tw,
                                      "_no_datum_shift": True}), "inverse"))
                d_tw = None
    steps.extend(grid_steps_pre)
    if s_tw != d_tw:
        from .kernels.datum import Helmert
        from .kernels.cartgeo import Cart
        # the cart legs must NOT re-apply op-level datum handling: the
        # shift is this pipeline's own explicit Helmert leg (previously a
        # +datum= CRS put the implicit shift on the Cart step too, and the
        # two cancelled into a silent identity — r3 fix)
        if s_tw is not None:
            ell_s = {k: sp[k] for k in ("ellps", "a", "b", "rf", "R", "datum") if k in sp}
            steps.append((Cart({"proj": "cart", "_no_datum_shift": True,
                                **ell_s}), "forward"))
            steps.append((Helmert(_helmert_params(s_tw)), "forward"))
            steps.append((Cart({"proj": "cart", "ellps": "WGS84",
                                "_no_datum_shift": True}), "inverse"))
            cur_ell = {"ellps": "WGS84"}
        else:
            cur_ell = {k: sp[k] for k in ("ellps", "a", "b", "rf", "R", "datum") if k in sp}
        if d_tw is not None:
            ell_d = {k: dp[k] for k in ("ellps", "a", "b", "rf", "R", "datum") if k in dp}
            steps.append((Cart({"proj": "cart", "_no_datum_shift": True,
                                **cur_ell}), "forward"))
            steps.append((Helmert(_helmert_params(d_tw)), "inverse"))
            steps.append((Cart({"proj": "cart", "_no_datum_shift": True,
                                **ell_d}), "inverse"))
    steps.extend(grid_steps_post)
    # 2. into the destination CRS
    if dp.get("proj") not in ("longlat", "latlong", "lonlat", "latlon"):
        steps.append((create_operator(dp), "forward"))
    if not steps:
        steps.append((create_operator({"proj": "noop"}), "forward"))
    return Pipeline(steps)


def _helmert_params(tw: tuple) -> dict:
    p = {"proj": "helmert"}
    keys7 = ("x", "y", "z", "rx", "ry", "rz", "s")
    for k, v in zip(keys7, tw):
        p[k] = v
    if len(tw) > 3:
        p["convention"] = "position_vector"
    return p


# ---------------------------------------------------------------------------
# EPSG transformation registry + per-coordinate operation dispatch
# ---------------------------------------------------------------------------
# The reference ranks CANDIDATE coordinate operations per CRS pair by
# accuracy and area of use (iso19111/coordinateoperationfactory.cpp:
# 853-950 filterAndSort) and picks, per coordinate, the first candidate
# whose extent contains the point (src/4D_api.cpp:217-346
# pj_get_suggested_operation, antimeridian-split extents :2023-2040,
# grid-free fallback :436-530). The registry here is compiled from the
# reference's published EPSG SQL by tools/epsg_xform_extract.py.

_XFORM_IDX: dict | None = None

# EPSG registry grid names -> the classic grid files shipped with the
# reference tests (data/sql/grid_alternatives*.sql old_proj_grid_name)
_EPSG_GRID_FILES = {
    "conus.las": "conus",
    "alaska.las": "alaska",
    "NTv2_0.gsb": "ntv2_0.gsb",
    "NTv1_0.gsb": "ntv1_can.dat",
    "BETA2007.gsb": "BETA2007.gsb",
    "MD.las": "MD",
    "ntf_r93.gsb": "ntf_r93.gsb",
}


def _xform_index() -> dict:
    global _XFORM_IDX
    if _XFORM_IDX is None:
        import json
        idx: dict = {}
        try:
            rows = json.loads(_read_pkg_gz("epsg_xforms.json.gz"))
        except OSError:
            # degrade like _epsg_generated: registry queries return no
            # candidates instead of the whole module failing to import
            # (querylib's oracle text reads the registry at import time)
            rows = []
        for rec in rows:
            idx.setdefault((rec["src"], rec["dst"]), []).append(rec)
        _XFORM_IDX = idx
    return _XFORM_IDX


def _bbox_intersect(b1, b2):
    """Intersection of two areas of use, honoring antimeridian-crossing
    extents (west > east, e.g. the NAD27 Alaska grid 168.1..-129.99).
    Returns None for disjoint extents; a crossing result keeps the
    west > east encoding that bbox_contains/_bbox_area understand."""
    if b1 is None:
        return b2
    if b2 is None:
        return b1
    s, n = max(b1[1], b2[1]), min(b1[3], b2[3])
    if s >= n:
        return None
    w1, e1 = b1[0], b1[2] + (360.0 if b1[2] < b1[0] else 0.0)
    w2o, e2o = b2[0], b2[2] + (360.0 if b2[2] < b2[0] else 0.0)
    # a (near-)global extent constrains only latitude
    if e1 - w1 >= 360.0 - 1e-9:
        return (b2[0], s, b2[2], n)
    if e2o - w2o >= 360.0 - 1e-9:
        return (b1[0], s, b1[2], n)
    best = None
    for shift in (-360.0, 0.0, 360.0):  # compare on the unwrapped circle
        w, e = max(w1, w2o + shift), min(e1, e2o + shift)
        if e > w and (best is None or e - w > best[1] - best[0]):
            best = (w, e)
    if best is None:
        return None

    def norm(x):
        return x - 360.0 if x > 180.0 else x + 360.0 if x < -180.0 else x

    return (norm(best[0]), s, norm(best[1]), n)


def _bbox_area(bbox) -> float:
    if bbox is None:
        return 4.0 * 180.0 * 360.0  # unknown extent sorts as world-sized
    w, s, e, n = bbox
    if e < w:
        e += 360.0  # antimeridian-crossing extent
    return max(e - w, 0.0) * max(n - s, 0.0)


def bbox_contains(bbox, lon_deg, lat_deg):
    """Vectorized area-of-use test with antimeridian-split extents
    (reference 4D_api.cpp:2023-2040: an extent with west > east is split
    into [west, 180] + [-180, east])."""
    import numpy as np
    lon = np.asarray(lon_deg, dtype=np.float64)
    lat = np.asarray(lat_deg, dtype=np.float64)
    if bbox is None:
        return np.ones(np.broadcast(lon, lat).shape, dtype=bool)
    w, s, e, n = bbox
    lat_in = (lat >= s) & (lat <= n)
    if e < w:
        lon_in = (lon >= w) | (lon <= e)
    else:
        lon_in = (lon >= w) & (lon <= e)
    return lon_in & lat_in


def transform_candidates(src_code: int, dst_code: int,
                         pivot: int = 4326, limit: int = 24) -> list[dict]:
    """Ranked candidate operations for a geodetic CRS pair: direct rows,
    reversed rows (helmert/grid ops invert exactly), and two-leg
    compositions through the WGS84 pivot (the reference's
    createOperations intermediate-CRS path). Sort order mirrors
    filterAndSort: accuracy ascending (unknown last), then LARGER area of
    use first, then EPSG code for determinism. Each candidate dict:
    {legs: [(rec, inverted), ...], acc, bbox, codes}."""
    idx = _xform_index()

    def one_way(s, d):
        out = [(r, False) for r in idx.get((s, d), ())]
        out += [(r, True) for r in idx.get((d, s), ())]
        return out

    def acc_of(r):
        return r["acc"] if r["acc"] is not None else 1e9

    cands = []
    for r, inv in one_way(src_code, dst_code):
        cands.append({"legs": [(r, inv)], "acc": acc_of(r),
                      "bbox": r["bbox"], "codes": [r["code"]]})
    if src_code != pivot and dst_code != pivot:
        for r1, i1 in one_way(src_code, pivot):
            for r2, i2 in one_way(pivot, dst_code):
                b1, b2 = r1["bbox"], r2["bbox"]
                if b1 is not None or b2 is not None:
                    bbox = _bbox_intersect(b1, b2)
                    if bbox is None:
                        continue  # disjoint areas of use
                else:
                    bbox = None
                cands.append({"legs": [(r1, i1), (r2, i2)],
                              "acc": acc_of(r1) + acc_of(r2),
                              "bbox": bbox,
                              "codes": [r1["code"], r2["code"]]})
    cands.sort(key=lambda c: (c["acc"], -_bbox_area(c["bbox"]),
                              tuple(c["codes"])))
    return cands[:limit]


def _geodetic_ell_params(code: int) -> dict:
    """Ellipsoid-defining params of a geodetic EPSG CRS (for the cart
    legs around a registry helmert)."""
    p = parse_proj_params(epsg_to_proj(code))[0]
    return {k: p[k] for k in ("ellps", "a", "b", "rf", "R", "datum")
            if k in p}


def _registry_helmert(rec: dict) -> Operator:
    """A registry Helmert row -> its kernel operator: a Helmert (3/7
    parameters, kinematic rates) or, for a row with a pivot point, a
    Molodensky-Badekas. The one place a registry row becomes a datum
    operator."""
    from .kernels.datum import Helmert
    hp = {"proj": "helmert", "x": rec["x"], "y": rec["y"], "z": rec["z"]}
    if rec.get("convention"):
        for k in ("rx", "ry", "rz", "s"):
            hp[k] = rec.get(k, 0.0)
        hp["convention"] = rec["convention"]
    for k in ("dx", "dy", "dz", "drx", "dry", "drz", "ds", "t_epoch"):
        if k in rec:
            hp[k] = rec[k]
    if "px" in rec:
        hp["px"], hp["py"], hp["pz"] = rec["px"], rec["py"], rec["pz"]
        return create_operator({**hp, "proj": "molobadekas"})
    return Helmert(hp)


def _registry_leg_steps(rec: dict, inverted: bool,
                        src_ell: dict, dst_ell: dict) -> list[tuple]:
    """One registry row -> pipeline steps geodetic(src) -> geodetic(dst)."""
    from .kernels.cartgeo import Cart
    direction = "inverse" if inverted else "forward"
    if rec["kind"] == "grid":
        name = _EPSG_GRID_FILES.get(rec["grid"], rec["grid"])
        op = create_operator({"proj": "hgridshift", "grids": name,
                              "_no_datum_shift": True})
        return [(op, direction)]
    return [
        (Cart({"proj": "cart", "_no_datum_shift": True, **src_ell}),
         "forward"),
        (_registry_helmert(rec), direction),
        (Cart({"proj": "cart", "_no_datum_shift": True, **dst_ell}),
         "inverse"),
    ]


def registry_datum_pipeline(src_code: int, dst_code: int,
                            candidate: dict) -> Pipeline:
    """Candidate -> runnable geodetic->geodetic Pipeline (radians io)."""
    src_ell = _geodetic_ell_params(src_code)
    dst_ell = _geodetic_ell_params(dst_code)
    steps: list[tuple] = []
    legs = candidate["legs"]
    cur = src_ell
    for i, (rec, inv) in enumerate(legs):
        nxt = dst_ell if i == len(legs) - 1 else {"ellps": "WGS84"}
        steps.extend(_registry_leg_steps(rec, inv, cur, nxt))
        cur = nxt
    if not steps:
        steps.append((create_operator({"proj": "noop"}), "forward"))
    return Pipeline(steps)


N_MAX_RETRY = 2  # reference 4D_api.cpp:421 (constexpr int N_MAX_RETRY = 2)


class CrsToCrsDispatcher:
    """Per-coordinate alternative-operation dispatch between two geodetic
    EPSG CRS (the engine's pj_get_suggested_operation): candidates come
    from the EPSG transformation registry ranked by accuracy/area; each
    batch point routes through the FIRST candidate whose area of use
    contains it; points outside every extent fall back to the
    best-ranked candidate with a world/unknown extent, else the best
    candidate overall. When a selected candidate FAILS for a point (its
    grid's actual cells miss it even though its bbox contained it — the
    reference's own example is long=-111.5 lat=45.26 inside the Canadian
    ntv2_0.gsb bbox but in no subgrid, 4D_api.cpp:430-434), that
    candidate is excluded for that point and selection re-runs, up to
    N_MAX_RETRY exclusions, then the first grid-free candidate is used
    (reference retry loop + grids-free fallback, 4D_api.cpp:436-530).
    Grid candidates whose files don't resolve are dropped at
    construction.

    ``only_codes`` restricts (and re-ranks, in the given order) the
    candidate set by leading EPSG code — the analogue of the reference's
    candidate sets shrinking when grids are not installed
    (skipNonInstantiable in pj_get_suggested_operation)."""

    def __init__(self, src: str, dst: str, limit: int = 24,
                 only_codes: list[int] | None = None):
        import numpy as np  # noqa: F401
        self.src_code = int(str(src).upper().replace("EPSG:", ""))
        self.dst_code = int(str(dst).upper().replace("EPSG:", ""))
        self.candidates = []
        for cand in transform_candidates(self.src_code, self.dst_code,
                                         limit=limit):
            try:
                pipe = registry_datum_pipeline(self.src_code,
                                               self.dst_code, cand)
            except (KeyError, ValueError):
                continue  # unresolvable grid / unsupported method: skip
            self.candidates.append({**cand, "pipe": pipe})
        if only_codes is not None:
            by_code = {c["codes"][0]: c for c in self.candidates}
            self.candidates = [by_code[k] for k in only_codes
                               if k in by_code]
        if not self.candidates:
            raise KeyError(f"no registry transformation for "
                           f"EPSG:{self.src_code} -> EPSG:{self.dst_code}")
        # fallback: best world/unknown-extent candidate, else rank 0
        self.fallback = next(
            (i for i, c in enumerate(self.candidates)
             if c["bbox"] is None or _bbox_area(c["bbox"]) > 300 * 120),
            0)
        # grids-free fallback (4D_api.cpp:495-530): first candidate none
        # of whose legs needs a grid file; None if every candidate does
        self.gridfree = next(
            (i for i, c in enumerate(self.candidates)
             if all(rec["kind"] != "grid" for rec, _ in c["legs"])),
            None)

    def _select(self, lon, lat, excluded=None):
        """First containing extent per point, skipping per-point excluded
        candidate indices; -1 where no candidate contains the point."""
        import numpy as np
        out = np.full(np.broadcast(lon, lat).shape, -1, dtype=np.int64)
        for i, c in enumerate(self.candidates):
            m = (out < 0) & bbox_contains(c["bbox"], lon, lat)
            if excluded is not None:
                m &= ~(excluded == i).any(axis=1)
            out[m] = i
        return out

    def select(self, lon_deg, lat_deg):
        """Candidate index per point (first containing extent)."""
        import numpy as np
        lon = np.asarray(lon_deg, dtype=np.float64)
        lat = np.asarray(lat_deg, dtype=np.float64)
        out = self._select(lon, lat)
        out[out < 0] = self.fallback
        return out

    def _run(self, direction, sel, mask, lon, lat, z, t,
             ox, oy, oz, code):
        """Apply each selected candidate's pipeline to its masked points."""
        import numpy as np
        d2r = 3.141592653589793 / 180.0
        for i in np.unique(sel[mask]):
            m = mask & (sel == i)
            c = self.candidates[i]
            gx, gy, gz, _ = c["pipe"].apply(direction, lon[m] * d2r,
                                            lat[m] * d2r, z[m], t[m])
            ox[m] = gx / d2r
            oy[m] = gy / d2r
            oz[m] = gz
            code[m] = c["codes"][0]

    def apply(self, direction, lon_deg, lat_deg, z=None, t=None):
        """Geodetic degrees in -> geodetic degrees out, routed per point
        with failed-candidate exclusion retries (4D_api.cpp:436-493).
        Returns (lon, lat, z, t, candidate_epsg_code); code -1 and NaN
        output for points no candidate could transform."""
        import numpy as np
        lon = np.asarray(lon_deg, dtype=np.float64)
        lat = np.asarray(lat_deg, dtype=np.float64)
        z = np.zeros_like(lon) if z is None else np.asarray(z, np.float64)
        t = np.zeros_like(lon) if t is None else np.asarray(t, np.float64)
        ox = np.full_like(lon, np.nan)
        oy = np.full_like(lat, np.nan)
        oz = np.full_like(z, np.nan)
        code = np.full(lon.shape, -1, dtype=np.int64)
        in_ok = np.isfinite(lon) & np.isfinite(lat)
        pending = in_ok.copy()
        excluded = np.full(lon.shape + (N_MAX_RETRY,), -1, dtype=np.int64)
        for retry in range(N_MAX_RETRY + 1):
            sel = self._select(lon, lat, excluded)
            if retry == 0:
                # points outside every extent: world/best candidate
                sel[pending & (sel < 0)] = self.fallback
            act = pending & (sel >= 0)
            if not act.any():
                break
            self._run(direction, sel, act, lon, lat, z, t, ox, oy, oz, code)
            failed = act & ~np.isfinite(ox)
            code[failed] = -1
            pending = failed | (pending & ~act)
            if not failed.any() or retry == N_MAX_RETRY:
                break
            excluded[failed, retry] = sel[failed]
        if pending.any() and self.gridfree is not None:
            # grids-free fallback (4D_api.cpp:495-530)
            sel = np.full(lon.shape, self.gridfree, dtype=np.int64)
            self._run(direction, sel, pending, lon, lat, z, t,
                      ox, oy, oz, code)
        # poison passthrough: NaN in -> NaN out, code -1, no exception
        return ox, oy, oz, t, code


GEOCENTRIC_DDL = ("rnk INT, code INT, w DOUBLE, s DOUBLE, e DOUBLE, n DOUBLE, "
                  + "".join(f"a{i}{j} DOUBLE, " for i in "123" for j in "123")
                  + "tx DOUBLE, ty DOUBLE, tz DOUBLE")


def geocentric_candidates(src_code: int, dst_code: int) -> list[tuple]:
    """The pair's single-leg, non-kinematic Helmert candidates (of the 40
    best) in rank order as affine geocentric maps X' = A.X + t, rows in
    ``GEOCENTRIC_DDL`` order. A = (1 + s 1e-6) R forward; reversed,
    A = R^T / scale and t' = -A.t (the kernel's inverse R^T((X - t)/scale),
    helmert.cpp: a transpose, not a matrix inverse); 3-param rows, A = I."""
    import numpy as np

    from .kernels.datum import _rot_matrix

    rows = []
    for cand in transform_candidates(src_code, dst_code, limit=40):
        if len(cand["legs"]) != 1:
            continue
        rec, inv = cand["legs"][0]
        if rec["kind"] != "helmert" or "dx" in rec or "px" in rec:
            continue
        op = _registry_helmert(rec)
        r = (np.eye(3) if op.no_rotation else
             _rot_matrix(op.rx, op.ry, op.rz, op.exact, op.position_vector))
        scale = 1.0 + op.s * 1e-6
        t = np.array([op.x, op.y, op.z])
        if inv:
            a = r.T / scale
            t = -a @ t
        else:
            a = scale * r
        w, s, e, n = rec["bbox"] if rec["bbox"] else (-180, -90, 180, 90)
        rows.append((len(rows), rec["code"], float(w), float(s), float(e),
                     float(n), *[float(v) for v in a.reshape(-1)],
                     *[float(v) for v in t]))
    return rows


def geocentric_a_es(code: int) -> tuple[float, float]:
    """(a, es = 2f - f^2 with f = 1/rf) of a geodetic EPSG CRS, as the
    oracles write it; the Cart kernel goes through b = a(1 - f) and
    differs in the last bits (International 1924: ...322 vs ...209)."""
    from .kernels.core import _ELLPS_TABLE, DATUM_TABLE
    p = _geodetic_ell_params(code)
    if "rf" in p:
        a, rf = float(p["a"]), float(p["rf"])
    else:
        a, rf = _ELLPS_TABLE[p.get("ellps") or DATUM_TABLE[p["datum"]][0]]
    f = 1.0 / rf
    return a, 2.0 * f - f * f


def dispatch_geocentric(points, src_code: int, dst_code: int):
    """Spark per-coordinate dispatch: points (pid, lon, lat degrees) ->
    (pid, code, gx, gy, gz) geocentric metres. Each point takes the lowest
    rank of ``geocentric_candidates`` whose bbox contains it, else rank 0.
    The candidates are a broadcast ``session.local_df``; all expressions
    are SQL text, so no row crosses into Python."""
    from pyspark.sql import functions as F

    from .session import local_df

    cand = F.broadcast(local_df(points.sparkSession,
                                geocentric_candidates(src_code, dst_code),
                                GEOCENTRIC_DDL))
    a, es = geocentric_a_es(src_code)
    nn = (f"{a!r}D / sqrt(1.0D - {es!r}D * sin(radians(lat))"
          " * sin(radians(lat)))")
    routed = (points.select("pid", "lon", "lat")
                    .join(cand, F.expr("lon >= w AND lon <= e"
                                       " AND lat >= s AND lat <= n"), "left")
                    .groupBy("pid", "lon", "lat")
                    .agg(F.expr("coalesce(min(rnk), 0) AS rnk"))
                    .join(cand, "rnk"))
    return (routed.selectExpr(
                "*", f"{nn} * cos(radians(lat)) * cos(radians(lon)) AS xx",
                f"{nn} * cos(radians(lat)) * sin(radians(lon)) AS yy",
                f"{nn} * {1.0 - es!r}D * sin(radians(lat)) AS zz")
            .selectExpr("pid", "code", *[
                f"a{i}1 * xx + a{i}2 * yy + a{i}3 * zz + t{c} AS g{c}"
                for i, c in zip("123", "xyz")]))
