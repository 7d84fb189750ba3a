"""Node-parquet grids (gridfiles.write_node_parquet / load_grid_file): the
header travels in the parquet metadata, and a file without one is refused
rather than opened with a guessed header."""

import os

import numpy as np
import pyarrow.parquet as pq
import pytest

from proj_spark.errors import INVALID_OP_FILE_NOT_FOUND_OR_INVALID, ProjError
from proj_spark.gridfiles import (FileGrid, load_grid_file,
                                  node_parquet_header, parse_ntv2,
                                  write_node_parquet)

TESTGRIDS = os.path.join(os.path.dirname(os.path.dirname(
    os.path.abspath(__file__))), "testgrids")
BETA_NODES = os.path.join(TESTGRIDS, "beta2007_nodes.parquet")
BETA_GSB = "/root/reference/data/tests/BETA2007.gsb"


def _same_grid(a, b):
    assert (a.lon0, a.lat0, a.dlon, a.dlat, a.width, a.height) == \
        (b.lon0, b.lat0, b.dlon, b.dlat, b.width, b.height)
    assert a.bands == b.bands
    for attr in ("dlon_as", "dlat_as", "dz_m"):
        if getattr(a, attr) is not None:
            assert np.array_equal(getattr(a, attr), getattr(b, attr)), attr


@pytest.mark.parametrize("stem", ["alaska", "conus", "egm96", "ntv2_cawest"])
def test_headerless_node_parquet_is_refused(stem):
    path = os.path.join(TESTGRIDS, f"{stem}_nodes.parquet")
    with pytest.raises(ProjError) as e:
        load_grid_file(path)
    assert e.value.errno == INVALID_OP_FILE_NOT_FOUND_OR_INVALID


def test_write_then_load_round_trips(tmp_path):
    rng = np.random.default_rng(7)
    g = FileGrid("t", -3.25, 40.5, 0.25, 0.5, 5, 4,
                 dlon_as=rng.normal(size=(4, 5)),
                 dlat_as=rng.normal(size=(4, 5)),
                 dz_m=rng.normal(size=(4, 5)))
    path = str(tmp_path / "g.parquet")
    write_node_parquet(g, path)
    _same_grid(load_grid_file(path), g)


def test_incomplete_node_set_is_refused(tmp_path):
    g = FileGrid("t", 0.0, 0.0, 1.0, 1.0, 3, 3, dz_m=np.zeros((3, 3)))
    path = str(tmp_path / "g.parquet")
    write_node_parquet(g, path)
    t = pq.read_table(path)
    pq.write_table(t.slice(0, t.num_rows - 1), path)
    with pytest.raises(ProjError) as e:
        load_grid_file(path)
    assert e.value.errno == INVALID_OP_FILE_NOT_FOUND_OR_INVALID


def test_beta2007_node_parquet_header():
    g = load_grid_file(BETA_NODES)
    assert (g.lon0, g.lat0, g.width, g.height) == (5.5, 47.0, 62, 84)
    assert (g.dlon * 3600.0, g.dlat * 3600.0) == pytest.approx((600.0, 360.0))
    assert g.bands == (True, True, False)


@pytest.mark.skipif(not os.path.isfile(BETA_GSB),
                    reason=f"{BETA_GSB} not present")
def test_beta2007_node_parquet_equals_reference_gsb():
    with open(BETA_GSB, "rb") as f:
        (ref,) = parse_ntv2(f.read(), "BETA2007.gsb").grids
    _same_grid(load_grid_file(BETA_NODES), ref)


def test_grid_loader_resolves_like_data_file_resolver(tmp_path, monkeypatch):
    """A registered path that is missing falls back to the search path in
    both resolvers, so a vector's file check and the engine agree."""
    from proj_spark import gridfiles
    from proj_spark.kernels.jsonfiles import resolve_data_file
    g = FileGrid("t", 0.0, 0.0, 1.0, 1.0, 2, 2, dz_m=np.ones((2, 2)))
    write_node_parquet(g, str(tmp_path / "fallback.gsb"))
    monkeypatch.setenv("PROJ_SPARK_GRID_PATH", str(tmp_path))
    monkeypatch.setitem(gridfiles._REGISTERED_PATHS, "fallback.gsb",
                        str(tmp_path / "missing" / "fallback.gsb"))
    assert resolve_data_file("fallback.gsb") == str(tmp_path / "fallback.gsb")
    _same_grid(load_grid_file("fallback.gsb"), g)


def test_header_alone_equals_parsed_grid(tmp_path):
    g = FileGrid("t", -7.3, 41.1, 1 / 6, 0.1, 4, 3, dz_m=np.ones((3, 4)))
    path = str(tmp_path / "g.parquet")
    write_node_parquet(g, path)
    hdr = node_parquet_header(path)
    assert [hdr[k] for k in ("lon0", "lat0", "dlon", "dlat", "width",
                             "height", "bands")] == \
        [g.lon0, g.lat0, g.dlon, g.dlat, g.width, g.height, {"dz": "m"}]


@pytest.mark.spark
def test_node_bilinear_oracle_equals_grid_shift(tmp_path):
    """The oracles' DuckDB bilinear replay from a node parquet
    (``querylib._node_bilinear_sql``) equals the engine's degree-domain
    shift (``joins.grid_shift``) bit for bit at interior points, on a grid
    with non-dyadic spacing, both horizontal bands and dz."""
    import duckdb
    import pandas as pd
    from proj_spark import joins, querylib
    from proj_spark.session import get_spark

    rng = np.random.default_rng(11)
    shape = (17, 23)
    g = FileGrid("t", -7.3, 41.1, 1 / 6, 0.1, shape[1], shape[0],
                 dlon_as=rng.normal(size=shape) * 3.0,
                 dlat_as=rng.normal(size=shape) * 3.0,
                 dz_m=rng.normal(size=shape) * 30.0)
    path = str(tmp_path / "g.parquet")
    write_node_parquet(g, path)
    n = 3000
    pts = pd.DataFrame({
        "pid": np.arange(n),
        "lon": g.lon0 + rng.uniform(0.001, 0.999, n) * g.dlon * (g.width - 1),
        "lat": g.lat0 + rng.uniform(0.001, 0.999, n) * g.dlat * (g.height - 1),
        "h": rng.uniform(-100.0, 3000.0, n)})
    cols = ["pid", "lon_out", "lat_out", "z_down", "z_up"]

    con = duckdb.connect()
    con.register("pts", pts)
    want = con.sql(querylib._node_bilinear_sql(
        node_parquet_header(path), path, "pts", "pid",
        *querylib._HSHIFT_COLS, "h - {dz} AS z_down",
        "h + {dz} AS z_up")).df()
    con.close()

    spark = get_spark("test_node_parquet", cpus=2)
    got = (spark.createDataFrame(pts)
           .withColumn("_s", joins.grid_shift(g.interp, "lon", "lat", 3600.0))
           .selectExpr("pid", "_s.lon_out", "_s.lat_out",
                       "h - _s.dz AS z_down", "h + _s.dz AS z_up")
           .toPandas())
    want, got = (d[cols].sort_values("pid").reset_index(drop=True)
                 for d in (want, got))
    assert len(want) == n
    for c in cols[1:]:
        assert np.array_equal(got[c].to_numpy(), want[c].to_numpy()), c
