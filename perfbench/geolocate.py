"""`geolocate`: the flagship job, shaped like jobs/geolocate.py.

Setup writes a seeded pages table with pagesgen.materialize_pages. Each job
extracts coordinates on the JVM (pagesgen.extract_from_table_cte) and runs
checkpoint.CheckpointedJob into a fresh directory; every bucket goes
through stages.apply_transform (webmerc), joins.pip_join and tile keys,
then is written as parquet and committed. The job covers the scan, regex,
broadcast join and parquet writes beside a moderate Python share.
"""

from __future__ import annotations

import os
import shutil
import time

from pyspark.sql import functions as F

from common import MB, make_documents, median, mpts_per_s

N_PAGES = 4_000
N_BUCKETS = 2
ZOOM = 10
_HALF = 20037508.342789244  # web-mercator half circumference, m
OUT_COLS = ["url", "lat", "lon", "x", "y", "tx", "ty", "polygon_id"]


def write_sf_dir(sf_dir: str, documents) -> None:
    """A testdata-shaped directory: the generated `documents` table plus an
    empty parquet file for every other table querylib.register_views reads."""
    import pyarrow as pa
    import pyarrow.parquet as pq
    from proj_spark.querylib import TABLES

    os.makedirs(sf_dir, exist_ok=True)
    empty = pa.table({"unused": pa.array([], pa.int64())})
    for t in TABLES:
        pq.write_table(documents if t == "documents" else empty,
                       os.path.join(sf_dir, f"{t}.parquet"))


class Geolocate:
    name = "geolocate"
    rows_per_job = N_PAGES

    def __init__(self, spark, seed: int, workdir: str):
        self.spark = spark
        self.seed = seed
        self.workdir = workdir
        # doc ids (and so the embedded coordinates) shift with the seed
        self.id_base = (seed % 9973) * 100_000
        self.pages_dir = os.path.join(workdir, "pages")
        self.webmerc = None
        self.expected = None

    def config(self) -> dict:
        return {"pages": N_PAGES, "buckets": N_BUCKETS, "zoom": ZOOM,
                "id_base": self.id_base}

    # -- plan pieces -------------------------------------------------------

    def extracted(self):
        from proj_spark.pagesgen import extract_from_table_cte
        return self.spark.sql(f"""
          WITH {extract_from_table_cte('pages_tbl')}
          SELECT url, lat, lon FROM extracted
          WHERE lat IS NOT NULL AND ABS(lat) <= 85.06D AND ABS(lon) <= 180.0D""")

    def bucket_transform(self, part):
        from proj_spark import joins, stages

        scale = 2 ** ZOOM / (2 * _HALF)
        df = stages.apply_transform(part, self.webmerc, "lon", "lat")
        df = (df.withColumn("tx", F.floor((F.col("x") + _HALF) * scale).cast("long"))
                .withColumn("ty", F.floor((_HALF - F.col("y")) * scale).cast("long"))
                .withColumn("lon_i", F.round(F.col("lon") * 1e5).cast("long"))
                .withColumn("lat_i", F.round(F.col("lat") * 1e5).cast("long")))
        return joins.pip_join(self.spark, df).select(*OUT_COLS)

    # -- setup -------------------------------------------------------------

    def setup(self):
        """Writes the pages table, then runs the same pipeline over the
        whole input in one pass, no buckets: the per-bucket xor hashes of
        every job must combine to its hash. This expectation needs Spark, so
        it is computed here rather than beside the warm-up jobs, where it
        would compete with them."""
        import proj_spark
        from proj_spark.pagesgen import materialize_pages

        sf_dir = os.path.join(self.workdir, "sf")
        write_sf_dir(sf_dir, make_documents(self.seed, N_PAGES, id_base=self.id_base))
        materialize_pages(self.spark, sf_dir, self.pages_dir)
        self.webmerc = proj_spark.create("+proj=webmerc +ellps=WGS84")
        ext = self.extracted().cache()
        try:
            n_extracted = ext.count()
            row = self.bucket_transform(ext).agg(
                F.count(F.lit(1)).alias("n"),
                F.bit_xor(F.xxhash64(*OUT_COLS)).alias("xh")).collect()[0]
        finally:
            ext.unpersist()
        self._expected = (n_extracted, int(row["n"]), int(row["xh"] or 0))

    def expected_outputs(self) -> tuple:
        return self._expected

    # -- one timed job -----------------------------------------------------

    def job(self, i: int, tr):
        from proj_spark.checkpoint import CheckpointedJob

        out_dir = os.path.join(self.workdir, f"ckpt-{i}")
        shutil.rmtree(out_dir, ignore_errors=True)  # never resume an old run
        with tr.span("plan:extract"):
            ext = self.extracted()
        with tr.span("eager:checkpoint.run"):
            job = CheckpointedJob("geolocate", out_dir, N_BUCKETS, key_col="url",
                                  job_desc=f"extract+webmerc+pip z{ZOOM}")
            job.run(ext, self.bucket_transform, input_path=self.pages_dir)
        buckets = list(job.metrics()["buckets"].values())
        written = sum(os.path.getsize(os.path.join(d, f))
                      for d, _, fs in os.walk(out_dir) for f in fs)
        shutil.rmtree(out_dir, ignore_errors=True)
        return {"buckets": buckets, "written_bytes": written}

    def check(self, result) -> bool:
        b = result["buckets"]
        xh = 0
        for m in b:
            xh ^= m["output_xor_hash"]
        got = (sum(m["input_rows"] for m in b), sum(m["output_rows"] for m in b),
               xh)
        return len(b) == N_BUCKETS and got == self.expected

    # -- traced-run layer numbers ------------------------------------------

    def layers(self, result, rec) -> dict:
        from sparkstore import python_udf_layer

        st = python_udf_layer(rec, "_udf")
        pip = python_udf_layer(rec, "inside")
        cand = sum(n["metrics"].get("number of output rows", 0.0)
                   for n in rec["nodes"] if n["name"] == "BroadcastHashJoin"
                   and "cell_x" in n["desc"])
        matches = sum(m["output_rows"] for m in result["buckets"])
        scanned = sum(n["metrics"].get("number of output rows", 0.0)
                      for n in rec["nodes"] if n["name"].startswith("Scan parquet")
                      and self.pages_dir in n["desc"])
        return {
            "stages.python_run_s": st["run_s"],
            "stages.to_python_mb": st["to_python_mb"],
            "stages.from_python_mb": st["from_python_mb"],
            "joins.python_run_s": pip["run_s"],
            "joins.pip_candidates": cand,
            "joins.pip_matches": matches,
            "joins.pip_precision": matches / cand if cand else 0.0,
            "checkpoint.bucket_s.p50": median([m["wall_s"] for m in result["buckets"]]),
            "checkpoint.spark_jobs_per_bucket": len(rec["jobs"]) / N_BUCKETS,
            "checkpoint.scan_amplification": scanned / N_PAGES,
            "checkpoint.written_mb": result["written_bytes"] / MB,
        }

    def extra_layers(self, tr) -> tuple[dict, bool]:
        """CRS planning time, kernel microbench, the noop crossing, and the
        cross-checks against DuckDB: the extracted row count from
        pagesgen.EXTRACT_CTE and the PIP pairs from the registry's pip_pairs
        oracle over the same integer points."""
        import numpy as np
        import proj_spark
        from proj_spark import geo_fixtures, joins, stages
        from proj_spark.crs import create_crs_to_crs
        from proj_spark.kernels import pip as pipk
        from proj_spark.kernels.core import DEG_TO_RAD

        out = {}
        with tr.span("crs.plan"):
            t = time.perf_counter()
            utm = create_crs_to_crs("EPSG:4326", "EPSG:32632")
            out["crs.plan_ms"] = (time.perf_counter() - t) * 1000.0
        with tr.span("spark:pip_pairs"):
            rows = self.bucket_transform(self.extracted()).select(
                "url", "polygon_id").collect()
            pts = self.extracted().select(
                "url", "lon", "lat",
                F.round(F.col("lon") * 1e5).cast("long").alias("lon_i"),
                F.round(F.col("lat") * 1e5).cast("long").alias("lat_i")).collect()
        with tr.span("kernel.microbench"):
            lon = np.resize(np.array([r["lon"] for r in pts]), 1_000_000)
            lat = np.resize(np.array([r["lat"] for r in pts]), 1_000_000)
            lam, phi = lon * DEG_TO_RAD, lat * DEG_TO_RAD
            z, t_ = np.zeros(len(lam)), np.full(len(lam), np.nan)
            out["kernels.webmerc.mpts_per_s"] = mpts_per_s(
                lambda: self.webmerc.apply("forward", lam, phi, z, t_), len(lam))
            # UTM 32N on seeded points inside its zone: the workload's own
            # points span the globe, far outside the projection's domain
            rng = np.random.default_rng(self.seed)
            ulam = rng.uniform(6.0, 12.0, len(lam)) * DEG_TO_RAD
            uphi = rng.uniform(38.0, 58.0, len(lam)) * DEG_TO_RAD
            out["kernels.utm.mpts_per_s"] = mpts_per_s(
                lambda: utm.apply("forward", ulam, uphi, z, t_), len(lam))
            # candidate (point, polygon) pairs of the cell join, then the
            # crossing-number kernel per polygon, as the `inside` UDF does
            px = np.resize(np.array([r["lon_i"] for r in pts], np.int64), 200_000)
            py = np.resize(np.array([r["lat_i"] for r in pts], np.int64), 200_000)
            cells, edge_rows = {}, {}
            for p in geo_fixtures.polygons():
                for c in geo_fixtures.cover_cells(p, joins.PIP_CELL_I):
                    cells.setdefault(c, []).append(p["polygon_id"])
            for pid_, *e in geo_fixtures.edges():
                edge_rows.setdefault(pid_, []).append(e)
            edges = {k: tuple(np.array(c, np.int64) for c in zip(*v))
                     for k, v in edge_rows.items()}
            cx = np.floor(px / float(joins.PIP_CELL_I)).astype(np.int64)
            cy = np.floor(py / float(joins.PIP_CELL_I)).astype(np.int64)
            by_poly = {}
            for k, (a, b) in enumerate(zip(cx.tolist(), cy.tolist())):
                for pid in cells.get((a, b), ()):
                    by_poly.setdefault(pid, []).append(k)
            by_poly = {pid: np.array(ix) for pid, ix in by_poly.items()}
            n_cand = sum(len(ix) for ix in by_poly.values())
            out["kernels.pip.mpts_per_s"] = mpts_per_s(
                lambda: [pipk.points_in_polygon(px[ix], py[ix], edges[pid])
                         for pid, ix in by_poly.items()], n_cand)
        with tr.span("noop_crossing"):
            noop = proj_spark.create("+proj=noop")
            walls = []
            for _ in range(3):
                df = stages.apply_transform(self.extracted(), noop, "lon", "lat")
                t = time.perf_counter()
                df.agg(F.sum("x"), F.sum("y")).collect()
                walls.append(time.perf_counter() - t)
            out["stages.noop_crossing_s"] = median(walls)
        with tr.span("crosscheck:duckdb"):
            ok = self._crosscheck(pts, rows)
        return out, ok

    def _crosscheck(self, pts, rows) -> bool:
        import duckdb
        import pandas as pd
        from proj_spark.pagesgen import EXTRACT_CTE
        from proj_spark.querylib import IPOINTS_CTE, ORACLES

        def pid(url):
            return int(url.rsplit("/", 1)[1])

        con = duckdb.connect()
        try:
            con.execute("SET threads TO 4")
            con.execute("CREATE VIEW documents AS SELECT * FROM read_parquet("
                        f"'{os.path.join(self.workdir, 'sf', 'documents.parquet')}')")
            n_ext = con.execute(f"""WITH {EXTRACT_CTE}
                SELECT COUNT(*) FROM extracted WHERE lat IS NOT NULL
                AND ABS(lat) <= 85.06 AND ABS(lon) <= 180.0""").fetchone()[0]
            con.register("bench_points", pd.DataFrame({
                "pid": [pid(r["url"]) for r in pts],
                "lon_i": [r["lon_i"] for r in pts],
                "lat_i": [r["lat_i"] for r in pts]}))
            if IPOINTS_CTE not in ORACLES["pip_pairs"]:
                raise RuntimeError("pip_pairs oracle no longer reads IPOINTS_CTE")
            oracle = ORACLES["pip_pairs"].replace(
                IPOINTS_CTE, "ipoints AS (SELECT pid, lon_i, lat_i FROM bench_points)")
            want = set(con.execute(oracle).fetchall())
        finally:
            con.close()
        got = {(pid(r["url"]), r["polygon_id"]) for r in rows}
        return n_ext == self.expected[0] and got == want and len(got) == self.expected[1]
