"""Spatial-join layer tests: PIP kernel edge cases + Spark join exactness.

The crossing-number kernel mirrors the reference's pnpoly
(src/projections/healpix.cpp:132-165) with exact int64 fixed-point math;
Spark-side joins are checked against slow pure-Python oracles at sf0.001.
"""

from __future__ import annotations

import numpy as np
import pytest

from proj_spark import geo_fixtures
from proj_spark.kernels import pip as pipk

S = geo_fixtures.SCALE


def _edges_of(pid):
    rows = [(x1, y1, x2, y2) for p, x1, y1, x2, y2 in geo_fixtures.edges()
            if p == pid]
    return tuple(np.array(c, dtype=np.int64) for c in zip(*rows))


def _inside(pid, x, y):
    return bool(pipk.points_in_polygon(
        np.array([x], dtype=np.int64), np.array([y], dtype=np.int64),
        _edges_of(pid))[0])


class TestPipKernel:
    def test_square_basic(self):
        # ocean band: lon [-170, 170], lat [-84, -60]
        assert _inside("ocean", 0, -70 * S)
        assert not _inside("ocean", 0, -50 * S)
        assert not _inside("ocean", 0, -85 * S)
        assert not _inside("ocean", 171 * S, -70 * S)

    def test_hole_parity(self):
        # holed0: octagon r=6 deg at (40, 30) with 2-deg half-width square hole
        assert _inside("holed0", 40 * S + 3 * S, 30 * S)       # in ring, outside hole
        assert not _inside("holed0", 40 * S, 30 * S)           # center is in the hole
        assert not _inside("holed0", 40 * S + 7 * S, 30 * S)   # outside everything
        assert _inside("holed0", 40 * S, 30 * S + 2 * S + 1)   # just above hole edge

    def test_antimeridian_split(self):
        # xmeridian: 172..188 E  ->  east ring + west ring
        assert _inside("xmeridian", 175 * S, 15 * S)
        assert _inside("xmeridian", -175 * S, 15 * S)
        assert not _inside("xmeridian", 170 * S, 15 * S)
        assert not _inside("xmeridian", -170 * S, 15 * S)

    def test_concave_star(self):
        # star0: center from the fixture generator; spike reaches r, waist r*0.24
        p = [pp for pp in geo_fixtures.polygons() if pp["polygon_id"] == "star0"][0]
        (cx, cy) = p["rings"][0][0]  # first vertex = (cx + r, cy)
        x0, y0, x1, y1 = geo_fixtures.bbox(p)
        cxc = (x0 + x1) // 2
        cyc = (y0 + y1) // 2
        r = x1 - cxc
        assert _inside("star0", cxc, cyc)                       # center
        assert _inside("star0", cxc + r - 100, cyc)             # inside spike tip
        # between spikes at ~45deg, radius ~0.8r: outside (waist is 0.24r)
        d = int(0.6 * r)
        assert not _inside("star0", cxc + d, cyc + d)

    def test_boundary_half_open(self):
        # point exactly on the ocean's bottom edge (lat = -84): the edge rule
        # must give a deterministic answer, identical to the SQL oracle's
        c = pipk.crossings(np.array([0], dtype=np.int64),
                           np.array([-84 * S], dtype=np.int64),
                           *_edges_of("ocean"))
        assert c[0] % 2 == 1  # bottom edge is inside under the y-half-open rule

    def test_vectorized_matches_scalar(self):
        rng = np.random.default_rng(7)
        px = rng.integers(-180 * S, 180 * S, 500)
        py = rng.integers(-85 * S, 85 * S, 500)
        for pid in ("oct00", "star1", "holed1"):
            ed = _edges_of(pid)
            vec = pipk.points_in_polygon(px, py, ed)
            for i in range(0, 500, 97):
                c = 0
                for x1, y1, x2, y2 in zip(*[e.tolist() for e in ed]):
                    if (y1 > py[i]) != (y2 > py[i]):
                        lhs = (int(px[i]) - x1) * (y2 - y1)
                        rhs = (x2 - x1) * (int(py[i]) - y1)
                        if (lhs < rhs) if y2 > y1 else (lhs > rhs):
                            c += 1
                assert vec[i] == (c % 2 == 1)


class TestCover:
    def test_cover_superset_of_polygon(self):
        # every vertex's cell must be in the cover
        for p in geo_fixtures.polygons():
            cells = set(geo_fixtures.cover_cells(p, 1_000_000))
            for ring in p["rings"]:
                for (x, y) in ring:
                    assert (x // 1_000_000, y // 1_000_000) in cells


def test_within_radius_rejects_radius_wider_than_cell():
    """The cover spans one latitude cell each way, so a radius whose
    latitude span exceeds the cell would silently miss pairs."""
    from proj_spark import joins
    too_wide = np.radians(joins.RADIUS_CELL_DEG) * joins.SPHERE_R * 1.01
    with pytest.raises(ValueError, match="wider than"):
        joins.within_radius(None, None, too_wide, "broadcast")


def _within_bruteforce(lon, lat, ctr, radius):
    """Exact great-circle pairs (cid, point index) of ``ctr``'s centers,
    and the knife-edge pairs within 1 mm of the radius, where libm may
    differ by an ulp."""
    from proj_spark import joins
    want, edge = set(), set()
    rl, rp = np.radians(lon), np.radians(lat)
    for c in ctr.itertuples():
        cl, cp = np.radians(c.clon), np.radians(c.clat)
        d = joins.SPHERE_R * np.arccos(np.clip(
            np.sin(cp) * np.sin(rp)
            + np.cos(cp) * np.cos(rp) * np.cos(rl - cl), -1.0, 1.0))
        want |= {(c.cid, int(i)) for i in np.flatnonzero(d <= radius)}
        edge |= {(c.cid, int(i))
                 for i in np.flatnonzero(np.abs(d - radius) < 1e-3)}
    return want, edge


@pytest.mark.spark
class TestSparkJoins:
    @pytest.fixture(scope="class")
    def spark(self):
        from proj_spark.session import get_spark
        s = get_spark("test_joins", cpus=4)
        s.sparkContext.setLogLevel("ERROR")
        yield s

    def test_pip_join_matches_bruteforce(self, spark):
        from proj_spark import querylib, joins
        querylib.register_views(spark, "/root/testdata/sf0.001")
        pts = spark.sql(f"WITH {querylib.IPOINTS_CTE} SELECT * FROM ipoints")
        got = {(r.pid, r.polygon_id)
               for r in joins.pip_join(spark, pts).collect()}
        pdf = pts.toPandas()
        px = pdf.lon_i.to_numpy(np.int64)
        py = pdf.lat_i.to_numpy(np.int64)
        pid = pdf.pid.to_numpy(np.int64)
        want = set()
        for p in geo_fixtures.polygons():
            m = pipk.points_in_polygon(px, py, _edges_of(p["polygon_id"]))
            for v in pid[m]:
                want.add((int(v), p["polygon_id"]))
        assert got == want

    def test_knn_matches_bruteforce(self, spark):
        from pyspark.sql import functions as F
        from proj_spark import querylib, joins
        querylib.register_views(spark, "/root/testdata/sf0.001")
        pts = (spark.sql(f"WITH {querylib.IPOINTS_CTE} SELECT * FROM ipoints")
               .selectExpr("pid", "lon_i AS px", "lat_i AS py"))
        qs = spark.sql(f"WITH {querylib.QPOINTS_CTE} SELECT * FROM qpoints")
        got = joins.knn_join(spark, qs, pts, k=5).toPandas()
        got = got.sort_values(["qid", "rank"]).reset_index(drop=True)

        p = pts.toPandas()
        want_rows = []
        for q in qs.collect():
            d = (p.px.to_numpy(np.int64) - q.qx) ** 2 + (p.py.to_numpy(np.int64) - q.qy) ** 2
            order = np.lexsort((p.pid.to_numpy(np.int64), d))[:5]
            for rank, i in enumerate(order, 1):
                want_rows.append((q.qid, rank, int(p.pid.iloc[i]), int(d[i])))
        import pandas as pd
        want = (pd.DataFrame(want_rows, columns=["qid", "rank", "pid", "dist_sq"])
                .sort_values(["qid", "rank"]).reset_index(drop=True))
        pd.testing.assert_frame_equal(got, want, check_dtype=False)

    def test_knn_ring_escalation_sparse_exact(self, spark):
        """Sparse point set forces round-1 certification failure for
        far-away queries; the adaptive ring expansion (data-driven radius,
        r3 bound on the old brute-force tail) must still return the EXACT
        top-k; queries no ring can certify fall to the observed residue
        brute force."""
        import numpy as np
        import pandas as pd
        from proj_spark import joins

        rng = np.random.default_rng(7)
        px = np.concatenate([rng.integers(0, 10_000, 40),
                             rng.integers(5_000_000, 5_010_000, 40)])
        py = np.concatenate([rng.integers(0, 10_000, 40),
                             rng.integers(5_000_000, 5_010_000, 40)])
        pts = spark.createDataFrame(
            pd.DataFrame({"pid": np.arange(80), "px": px, "py": py}))
        qx = np.array([5_000, 2_500_000, 5_005_000, 9_000_000])
        qy = np.array([5_000, 2_500_000, 5_005_000, 9_000_000])
        qs = spark.createDataFrame(
            pd.DataFrame({"qid": np.arange(4), "qx": qx, "qy": qy}))
        got = (joins.knn_join(spark, qs, pts, k=3).toPandas()
               .sort_values(["qid", "rank"]).reset_index(drop=True))
        want_rows = []
        for qi in range(4):
            d = (px.astype(np.int64) - qx[qi]) ** 2 \
                + (py.astype(np.int64) - qy[qi]) ** 2
            order = np.lexsort((np.arange(80), d))[:3]
            for rank, i in enumerate(order, 1):
                want_rows.append((qi, rank, int(i), int(d[i])))
        want = (pd.DataFrame(want_rows,
                             columns=["qid", "rank", "pid", "dist_sq"])
                .sort_values(["qid", "rank"]).reset_index(drop=True))
        pd.testing.assert_frame_equal(got, want, check_dtype=False)

    def test_knn_observes_escalations_and_residue(self, spark):
        """Three points in cell (0, 0): query 0 beside them certifies in
        round 1; query 1 (cell (5, 5)) sees none within R = 4 and falls to
        the brute force; query 2 (cell (2, 2)) certifies in round 2."""
        from proj_spark import joins
        pts = spark.createDataFrame(
            [(i, 100 * i, 100 * i) for i in (1, 2, 3)], "pid long, px long, py long")
        qs = spark.createDataFrame(
            [(0, 150, 150), (1, 5_500_000, 5_500_000), (2, 2_500_000, 2_500_000)],
            "qid long, qx long, qy long")
        out = joins.knn_join(spark, qs, pts, k=3)
        # query 0 ties pids 1 and 2 on distance (pid breaks it); the far
        # queries see the points in reverse order
        assert sorted((r.qid, r.rank, r.pid) for r in out.collect()) == [
            (0, 1, 1), (0, 2, 2), (0, 3, 3), (1, 1, 3), (1, 2, 2), (1, 3, 1),
            (2, 1, 3), (2, 2, 2), (2, 3, 1)]
        metrics = out._jdf.queryExecution().observedMetrics()
        assert [metrics.get(name).get().getLong(0)
                for name in ("knn_escalations", "knn_brute_force")] == [2, 1]

    def test_within_radius_antimeridian_matches_bruteforce(self, spark):
        """A center within 1 deg of the antimeridian pairs with points on
        both sides of it: the wrapped cover equals the brute force."""
        import pandas as pd
        from proj_spark import joins

        lon, lat = np.meshgrid(np.arange(-180.0, 180.0, 0.25),
                               np.arange(10.0, 30.0, 0.25))
        lon, lat = lon.ravel(), lat.ravel()
        pts = pd.DataFrame({"pid": np.arange(len(lon)), "lon": lon, "lat": lat})
        ctr = pd.DataFrame({"cid": [0, 1], "clon": [179.4, -179.9],
                            "clat": [20.1, 14.3]})
        radius = 300_000.0
        got = {(r.cid, r.pid) for r in joins.within_radius(
            spark.createDataFrame(pts), spark.createDataFrame(ctr),
            radius, "broadcast").collect()}

        want, edge = _within_bruteforce(lon, lat, ctr, radius)
        assert {lon[i] > 0 for c, i in want if c == 0} == {True, False}
        assert got - edge == want - edge

    def test_within_radius_across_pole_matches_bruteforce(self, spark):
        """A cap that reaches within 1 deg of a pole covers every
        longitude cell: points across the pole pair (center (0, 88.5) and
        point (179, 89.9) are 177.9 km apart), and no cell is covered
        twice, so no pair repeats."""
        import pandas as pd
        from proj_spark import joins

        lon, lat = np.meshgrid(np.arange(-180.0, 180.0, 1.0),
                               np.r_[np.arange(-89.9, -84.0, 0.2),
                                     np.arange(84.1, 90.0, 0.2)])
        lon, lat = lon.ravel(), lat.ravel()
        pts = pd.DataFrame({"pid": np.arange(len(lon)), "lon": lon, "lat": lat})
        clat = [87.0, 88.0, 88.5, 89.0, 89.5]
        ctr = pd.DataFrame({"cid": np.arange(10),
                            "clon": [0.0, 45.0, -120.0, 179.5, -3.0] * 2,
                            "clat": clat + [-c for c in clat]})
        radius = 300_000.0
        rows = [(r.cid, r.pid) for r in joins.within_radius(
            spark.createDataFrame(pts), spark.createDataFrame(ctr),
            radius, "broadcast").collect()]
        got = set(rows)
        assert len(rows) == len(got)

        want, edge = _within_bruteforce(lon, lat, ctr, radius)
        # within 2 deg of a pole, a center pairs across it
        for c in ctr[ctr.clat.abs() >= 88.0].itertuples():
            far = {abs((lon[i] - c.clon + 180.0) % 360.0 - 180.0) > 90.0
                   for cid, i in want if cid == c.cid}
            assert far == {True, False}
        assert got - edge == want - edge
