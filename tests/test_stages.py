"""The Python-boundary contract of ``proj_spark/stages.py`` and the guard
that keeps it the engine's only scalar-UDF crossing.

Contract (reference HUGE_VAL poison semantics, src/fwd.cpp:41-44): a NULL,
NaN, +-inf or |lat| > 90 input, and a kernel NaN in a scalar, struct or
``array<long>`` return, come back as SQL NULL and never fail a task; an
empty Arrow batch yields an empty result.
"""

from __future__ import annotations

import ast
import io
import math
import os
import tokenize
from collections import Counter

import numpy as np
import pyarrow as pa
import pytest

from proj_spark import stages
from proj_spark.crs import create
from proj_spark.kernels.core import DEG_TO_RAD
from proj_spark.stages import apply_transform, numpy_udf

UTM = create("+proj=utm +zone=32 +ellps=GRS80")

# (id, lon, lat): row 1 is valid, every other row is poison
ROWS = [(1, 9.0, 50.0), (2, None, 50.0), (3, 9.0, None),
        (4, float("nan"), 50.0), (5, float("inf"), 50.0),
        (6, float("-inf"), 50.0), (7, 9.0, 91.0), (8, 9.0, -90.5)]


@pytest.fixture(scope="module")
def spark():
    from proj_spark.session import get_spark
    s = get_spark("stages_contract", cpus=2, shuffle_partitions=2)
    s.sparkContext.setLogLevel("ERROR")
    yield s
    s.stop()


@pytest.fixture(scope="module")
def points(spark):
    return spark.createDataFrame(ROWS, "id long, lon double, lat double")


def test_entry_point_maps_poison_to_null(spark, points):
    # kernels are defined here, not at module level: the workers cannot
    # import this test module, so the UDFs must pickle by value
    def utm(lon, lat):
        n = len(lon)
        return UTM.apply("forward", lon * DEG_TO_RAD, lat * DEG_TO_RAD,
                         np.zeros(n), np.full(n, np.nan))

    @numpy_udf("double")
    def utm_x(lon, lat):
        return utm(lon, lat)[0]

    @numpy_udf("struct<x:double, y_km:long>")
    def utm_xy(lon, lat):
        x, y = utm(lon, lat)[:2]
        return x, np.floor(y / 1000.0)

    @numpy_udf("array<long>")
    def utm_cell(lon, lat):
        x, y = utm(lon, lat)[:2]
        return np.floor(np.stack([x, y], axis=1) / 1000.0)

    @numpy_udf("boolean")
    def saw_nan(lon, lat):
        return np.isnan(lon) | np.isnan(lat)

    out = {r["id"]: r for r in points.select(
        "id", utm_x("lon", "lat").alias("x"), utm_xy("lon", "lat").alias("s"),
        utm_cell("lon", "lat").alias("c"),
        saw_nan("lon", "lat").alias("nan_in")).collect()}
    assert len(out) == len(ROWS)
    x, y = (float(v[0]) for v in utm(np.array([9.0]), np.array([50.0]))[:2])
    ok = out.pop(1)
    assert ok["x"] == x and ok["s"]["x"] == x
    assert ok["s"]["y_km"] == y // 1000
    assert ok["c"] == [x // 1000, y // 1000]
    assert not ok["nan_in"]
    for rid, r in out.items():
        assert r["x"] is None, rid
        assert r["s"]["x"] is None and r["s"]["y_km"] is None, rid
        assert r["c"] == [None, None], rid
    # NULL reaches the kernel as NaN
    assert out[2]["nan_in"] and out[3]["nan_in"] and out[4]["nan_in"]
    assert points.filter("id < 0").select(utm_cell("lon", "lat")).collect() == []


def test_s2_cell_of_poison_point_is_null(spark, points):
    """s2cell.cell12 masks the invalid id 0 of a NaN or infinite point, and
    the boundary keeps the mask as NULL (not as cell 0)."""
    from proj_spark.kernels import s2cell
    out = {r["id"]: r["cell"] for r in points.select(
        "id", numpy_udf("long")(s2cell.cell12)("lon", "lat").alias("cell"))
        .collect()}
    assert out[1] == int(s2cell.cell12(np.array([9.0]), np.array([50.0]))[0])
    for rid in (2, 3, 4, 5, 6):
        assert out[rid] is None, rid


def test_apply_transform_maps_poison_to_null(spark, points):
    out = {r["id"]: r for r in apply_transform(
        points, UTM, "lon", "lat").collect()}
    assert math.isfinite(out.pop(1)["x"])
    for rid, r in out.items():
        assert r["x"] is None and r["y"] is None, rid


def test_apply_transform_returns_only_out_cols(spark, points):
    df = points.withColumn("h", points["lat"] * 0.0 + 100.0)
    out = apply_transform(df, UTM, "lon", "lat", z_col="h",
                          out_cols=("e", "n", "up"))
    assert out.columns == ["id", "lon", "lat", "h", "e", "n", "up"]
    row = out.filter("id = 1").first()
    assert row["up"] == 100.0


def test_empty_input_runs(spark, points):
    empty = points.filter("id < 0")
    assert apply_transform(empty, UTM, "lon", "lat").collect() == []


@pytest.mark.parametrize("atype", [
    pa.float64(), pa.struct([("x", pa.float64()), ("y_km", pa.int64())]),
    pa.list_(pa.int64())])
def test_empty_batch_skips_kernel(atype):
    def kernel(*_):
        raise AssertionError("kernel called on an empty batch")

    for col_type in (pa.float64(), pa.list_(pa.float64())):
        out = stages._run_batch(kernel, atype, [pa.array([], col_type)])
        assert len(out) == 0 and out.type == atype


def test_list_column_reaches_kernel_as_matrix():
    col = pa.array([[1.0, 2.0], None, [3.0, float("nan")]],
                   pa.list_(pa.float64()))
    seen = stages._to_numpy(col.slice(1))
    assert seen.shape == (2, 2)
    assert np.isnan(seen[0]).all() and seen[1, 0] == 3.0


# --- guard: stages.py is the only scalar-UDF crossing -----------------------

_CROSSINGS = {"pandas_udf", "arrow_udf", "mapInPandas", "mapInArrow",
              "applyInPandas", "applyInPandasWithState"}

# each entry: (file, name) -> count, with the reason it stays off stages.py
# (the same reason is commented at the call site)
ALLOWED = {
    # binary batch decode: bytes per row, not numeric columns
    ("proj_spark/multimodal.py", "mapInPandas"): 2,
    # stateful: per-key state across streaming micro-batches
    ("proj_spark/streaming.py", "applyInPandasWithState"): 2,
}

_ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _crossings():
    """(file, name) -> count of code tokens (not strings or comments)
    naming a Python-crossing API, outside stages.py: the engine, the jobs
    and the benchmark drivers."""
    paths = [os.path.join(_ROOT, "bench.py")]
    for top in ("proj_spark", "jobs", "BENCH"):
        for d, _, files in os.walk(os.path.join(_ROOT, top)):
            paths += [os.path.join(d, f) for f in files if f.endswith(".py")]
    hits = Counter()
    for path in paths:
        rel = os.path.relpath(path, _ROOT)
        if rel == os.path.join("proj_spark", "stages.py"):
            continue
        with open(path, encoding="utf-8") as fh:
            src = fh.read()
        for tok in tokenize.generate_tokens(io.StringIO(src).readline):
            if tok.type == tokenize.NAME and tok.string in _CROSSINGS:
                hits[(rel, tok.string)] += 1
    return hits


def test_only_stages_crosses_into_python():
    assert dict(_crossings()) == ALLOWED


# --- guard: no operator UDF is defined in the query registry ---------------

# registry query -> the reason its numpy_udf stays in querylib.py rather
# than in an operator module (also commented at the call site)
QUERYLIB_UDFS = {
    "compound_geoid_height": "the compound CRS->CRS plan at t = 0; it "
                             "cannot run without the egm96 file",
    "nad27_dispatch_retry": "returns the dispatcher's candidate code",
    "factors_merc": "factors() returns a dict, not a column operator",
    "geod_polygon_area_wgs84": "the oracle's certification (the ok bound)",
    "s2_cell_counts": "the S2 kernel applied as is; a cell id needs no "
                      "operator module",
}


def _querylib_udfs():
    """Registry query -> count of ``numpy_udf(...)`` calls (a decorator
    or a call; the import does not count) in its ``q_`` function, from
    querylib.py's syntax tree; one outside every query counts under
    None."""
    with open(os.path.join(_ROOT, "proj_spark", "querylib.py"),
              encoding="utf-8") as fh:
        tree = ast.parse(fh.read())
    hits = Counter()

    def visit(node, query):
        if isinstance(node, ast.FunctionDef) and node.name.startswith("q_"):
            query = node.name[2:]
        if isinstance(node, ast.Call) and "numpy_udf" in (
                getattr(node.func, "id", None),
                getattr(node.func, "attr", None)):
            hits[query] += 1
        for child in ast.iter_child_nodes(node):
            visit(child, query)

    visit(tree, None)
    return hits


def test_querylib_defines_no_operator_udf():
    """Operator UDFs live in operator modules (joins, geodesy, ann, ...);
    querylib.py keeps only the allowlisted ones."""
    assert dict(_querylib_udfs()) == dict.fromkeys(QUERYLIB_UDFS, 1)
