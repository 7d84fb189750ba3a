"""Node-parquet grids (gridfiles.write_node_parquet / load_grid_file): the
header travels in the parquet metadata, and a file without one is refused
rather than opened with a guessed header."""

import os

import numpy as np
import pyarrow.parquet as pq
import pytest

from proj_spark.errors import INVALID_OP_FILE_NOT_FOUND_OR_INVALID, ProjError
from proj_spark.gridfiles import (FileGrid, load_grid_file, parse_ntv2,
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
