"""Benchmark harness: runs the headline queries at $SPARK_GRAFT_SF_DIR
(default /root/testdata/sf0.1) on local[$SPARK_GRAFT_CPUS] and prints ONE
JSON line: {"metric": ..., "value": total_sec, "unit": "sec",
"queries": {name: sec}, "sf": ...}.

Each query is forced end-to-end with a noop sink (count() would let Catalyst
prune the transform UDFs away). Extra keys report docs/sec for the flagship
extract->transform->tile pipeline — the north-rule metric; the two-parallelism
scaling-efficiency run lives in BENCH/run_scaling.py.
"""

from __future__ import annotations

import json
import os
import sys
import time
from pathlib import Path

# Transparent-hugepage madvise on numpy's >=4 MB buffers triggers
# khugepaged compaction stalls mid-kernel on this host (measured: the
# karney_inverse microbench is bimodal 0.6/1.3 M pts/s with it on, steady
# with it off). Must be set before numpy's first import.
os.environ.setdefault("NUMPY_MADVISE_HUGEPAGE", "0")

import numpy as np

sys.path.insert(0, str(Path(__file__).resolve().parent))

HEADLINE = [
    "extract_tile_counts",   # flagship E2E: regex extract -> webmerc tile agg
    "webmerc_fwd",
    "utm_fwd",
    "lcc_fwd",
    "cart_fwd",
    "helmert_xyz",
    "s2_cell_counts",
    "pip_pairs",
    "knn_top5",
    "dedup_exact",
    "minhash_lsh_pairs",
    "ann_cosine_top5",
    "ann_ivf_top5",
    "geod_triangle_area",
    "factors_merc",
    "events_hourly",
    "ed50_regional_dispatch",   # registry dispatch: broadcast bbox join
    # round-4 additions
    "hex_parent_counts",        # aperture-7 hierarchical hex rollup
    "zonal_stats",              # rasterize + zonal statistics round trip
    "tile_pyramid_rollup",      # z8 -> z4 quadtree pyramid
    "within_radius_shuffled",   # both-sides-large radius join (no broadcast)
    # round-5 additions
    "isea_hex_counts",          # aperture-7 rollup on the real ISEA plane
    "ann_ivf_probe_recall",     # partial-probe IVF recall curve
    "embedding_near_dup",       # derived-banding hyperplane LSH
]


def _host_probe() -> dict:
    """Deterministic host-speed probe: fixed-seed pure-numpy workloads
    (~0.5 s total), reported in every artifact so round-over-round walls
    can be normalized. The judge measured ~30% host-speed swings between
    sessions on this shared VM (VERDICT r4 "What's wrong" #2) — without a
    probe, suite-wall deltas across rounds are host lottery, not code.
    Two probes bracket the job's instruction mix, same as
    BENCH/run_scaling.py's controls: an ALU/transcendental pass
    (L2-resident compute) and a DRAM-streaming chain (bandwidth)."""
    rng = np.random.default_rng(12345)
    a = rng.uniform(0.1, 1.0, 4_000_000)
    b = rng.uniform(0.1, 1.0, 4_000_000)
    c = np.empty_like(a)
    np.sqrt(a * b + np.sin(a), out=c)  # warm
    alu_best = float("inf")
    for _ in range(5):
        t0 = time.perf_counter()
        np.sqrt(a * b + np.sin(a), out=c)
        alu_best = min(alu_best, time.perf_counter() - t0)
    big = rng.uniform(0.1, 1.0, 16_000_000)  # 128 MB working set > LLC
    dst = np.empty_like(big)
    np.add(big, 1.0, out=dst)  # warm
    stream_best = float("inf")
    for _ in range(5):
        t0 = time.perf_counter()
        np.add(big, 1.0, out=dst)
        np.multiply(dst, 1.0000001, out=dst)
        stream_best = min(stream_best, time.perf_counter() - t0)
    return {
        "alu_melems_per_sec": round(4.0 / alu_best, 1),
        "stream_gbytes_per_sec": round(16e6 * 8 * 4 / stream_best / 1e9, 2),
        "checksum": round(float(c[::100_000].sum()), 6),
    }


def _kernel_microbench(n: int = 2_000_000) -> dict:
    """Single-core kernel throughput (M pts/s), best-of-3 — the
    compute-bound numbers the sf0.1 Spark walls are too overhead-dominated
    to show (BASELINE.md bar: >= 5 M pts/s/core for tier-1 projections;
    reference C single-thread: 1.6-4.4 M pts/s)."""
    import numpy as np
    import proj_spark
    from proj_spark.kernels.core import Ellipsoid
    from proj_spark.kernels.geodesic import GeodSolver

    rng = np.random.default_rng(42)
    lam = np.radians(rng.uniform(6.0, 12.0, n))
    phi = np.radians(rng.uniform(-80.0, 84.0, n))
    out = {}
    for key, defn in (("webmerc", "+proj=webmerc"),
                      ("utm", "+proj=utm +zone=32"),
                      ("lcc", "+proj=lcc +lat_1=33 +lat_2=45"),
                      ("cart", "+proj=cart")):
        op = proj_spark.create(defn)
        # one UNTIMED full-size pass: the first 2M-point call pays output
        # page-in + malloc arena growth (~10-20% on the measured wall);
        # steady-state throughput is what a long-running executor sees
        op.apply("forward", lam, phi, None, None)
        best = float("inf")
        for _ in range(3):
            t0 = time.perf_counter()
            op.apply("forward", lam, phi, None, None)
            best = min(best, time.perf_counter() - t0)
        out[key] = round(n / best / 1e6, 2)
    g = GeodSolver(Ellipsoid(6378137.0, 6356752.314245179))
    lat2 = np.radians(rng.uniform(-80.0, 80.0, n))
    lon2 = np.radians(rng.uniform(-180.0, 180.0, n))
    g.inverse(lam, phi, lon2, lat2)  # untimed full-size warm pass
    best = float("inf")
    for _ in range(3):
        t0 = time.perf_counter()
        g.inverse(lam, phi, lon2, lat2)
        best = min(best, time.perf_counter() - t0)
    out["karney_inverse"] = round(n / best / 1e6, 2)
    return out


def fused_kernels():
    """One fused Arrow UDF per pipeline (SURVEY.md §1.3): webmerc fwd +
    Krueger UTM fwd + Karney inverse distance + S2 level-12 cell in a single
    crossing — separate UDFs would ship each batch JVM->Python->JVM four
    times. Returns ``(lon, lat) -> struct<x, y, ux, uy, dist, cell>``, lon/lat
    in degrees; shared by ``_scaled_transform`` and BENCH/run_scaling.py."""
    from proj_spark.crs import create
    from proj_spark.kernels import geodesic as geod
    from proj_spark.kernels import s2cell
    from proj_spark.kernels.core import DEG_TO_RAD, Ellipsoid
    from proj_spark.stages import numpy_udf

    wgs84 = Ellipsoid(6378137.0, 6378137.0 * (1 - 1 / 298.257223563))
    webmerc = create("+proj=webmerc +ellps=WGS84")
    utm32 = create("+proj=utm +zone=32 +ellps=GRS80")

    @numpy_udf("struct<x:double,y:double,ux:double,uy:double,"
               "dist:double,cell:long>")
    def fused(lon, lat):
        lo, la = lon * DEG_TO_RAD, lat * DEG_TO_RAD
        x, y, _, _ = webmerc.fwd(lo, la)
        ux, uy, _, _ = utm32.fwd(lo, la)
        s, _, _ = geod.solver(wgs84).inverse(
            np.zeros_like(lo), np.zeros_like(la), lo, la)
        return x, y, ux, uy, s, s2cell.lonlat_to_cell(lon, lat, 12)

    return fused


def _scaled_transform(spark, n: int = 12_000_000) -> dict:
    """Compute-dominant throughput (VERDICT r1: per-query walls at sf0.1
    are fixed-overhead-dominated — bench at a scale where compute
    dominates): n points through ``fused_kernels``' one Arrow crossing.
    Points are synthesized JVM-side (spark.range), so the scan costs
    nothing and the wall is kernel + Arrow transfer."""
    from pyspark.sql import functions as F

    fused = fused_kernels()

    def plan():
        df = spark.range(n).select(
            ((F.col("id") % 360000) / 1000.0 - 180.0).alias("lon"),
            ((F.col("id") % 170000) / 1000.0 - 85.0).alias("lat"))
        out = df.withColumn("f", fused("lon", "lat"))
        return out.select("f.x", "f.ux", "f.dist", "f.cell")

    plan().write.format("noop").mode("overwrite").save()  # warm JIT + pool
    best = float("inf")
    for _ in range(2):
        t0 = time.perf_counter()
        plan().write.format("noop").mode("overwrite").save()
        best = min(best, time.perf_counter() - t0)
    cores = spark.sparkContext.defaultParallelism
    return {"n_points": n, "wall_s": round(best, 2),
            "mpts_per_sec": round(n / best / 1e6, 2),
            "mpts_per_sec_per_core": round(n / best / 1e6 / cores, 3)}


def run(sf_dir: str | None = None, cpus: int | None = None, quiet: bool = False):
    from proj_spark.session import get_spark
    from proj_spark import querylib

    sf_dir = sf_dir or os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    # single-core numbers BEFORE the Spark JVM exists: its 32 task threads
    # + heap pressure depress the in-process kernel microbench ~15%
    host_probe = _host_probe()
    kernels = _kernel_microbench()
    # machine-readable normalization: same-code karney_inverse is a
    # constant ~0.14 M pts/s per GB/s of delivered stream bandwidth
    # across the shared VM's minute-scale speed swings (BENCH/SF1.md),
    # so this ratio — not the raw reading — is the comparable quantity
    karney_per_stream = round(
        kernels["karney_inverse"] / host_probe["stream_gbytes_per_sec"], 4)
    spark = get_spark("proj_spark_bench", cpus=cpus)
    spark.sparkContext.setLogLevel("ERROR")
    querylib.register_views(spark, sf_dir)

    # input sizes for throughput
    n_pages = spark.table("documents").count()
    n_points = spark.table("lineitem").count()

    # warm every query once (JIT, shuffle files, Python-UDF pool), then
    # run SWEEPS full interleaved passes over the suite and report the
    # per-query MEDIAN: the shared VM's deliverable capacity drifts on
    # minute scales, so back-to-back sweeps + median beat a single shot
    # (same estimator as BENCH/run_scaling.py's pair ratios)
    sweeps_n = int(os.environ.get("SPARK_GRAFT_BENCH_SWEEPS", "3"))
    for name in HEADLINE:
        querylib.QUERIES[name](spark, sf_dir).write.format(
            "noop").mode("overwrite").save()
    sweeps: list[dict] = []
    for _ in range(sweeps_n):
        t = {}
        for name in HEADLINE:
            t0 = time.perf_counter()
            querylib.QUERIES[name](spark, sf_dir).write.format(
                "noop").mode("overwrite").save()
            t[name] = time.perf_counter() - t0
        sweeps.append(t)
    timings = {name: round(sorted(s[name] for s in sweeps)[sweeps_n // 2], 4)
               for name in HEADLINE}

    total = round(sum(timings.values()), 4)
    sf = float(sf_dir.rstrip("/").rsplit("sf", 1)[-1]) if "sf" in sf_dir else None
    point_q = ["webmerc_fwd", "utm_fwd", "lcc_fwd", "cart_fwd"]
    pts_per_sec = round(sum(n_points / timings[q] for q in point_q) / len(point_q))
    out = {
        "host_probe": host_probe,
        "kernel_mpts_per_sec_1core": kernels,
        "karney_per_stream_gbs": karney_per_stream,
        "fused_transform_12m": _scaled_transform(spark),
        "metric": "headline query suite wall time",
        "value": total,
        "unit": "sec",
        "queries": timings,
        "sweeps": [{k: round(v, 4) for k, v in s.items()} for s in sweeps],
        "sf": sf,
        "docs_per_sec_extract_tile": round(n_pages / timings["extract_tile_counts"]),
        "points_per_sec_transform_avg": pts_per_sec,
        "cpus": spark.sparkContext.defaultParallelism,
        "n_points": n_points,
        "n_pages": n_pages,
    }
    spark.stop()
    # Durable artifact first (round-3 post-mortem: Spark console progress
    # flooded the driver's stdout tail and truncated the one-line JSON, so
    # BENCH_r03.json recorded "parsed": null). Console progress is now off
    # (session.py) AND the full result always lands in BENCH/last_run.json.
    try:
        dest = Path(__file__).resolve().parent / "BENCH" / "last_run.json"
        dest.parent.mkdir(exist_ok=True)
        dest.write_text(json.dumps(out, indent=2) + "\n")
    except OSError:
        pass
    if not quiet:
        # COMPACT final stdout line (VERDICT r4 "What's wrong" #1): the r4
        # driver tail-capture began mid-object because the three inline
        # `sweeps` dicts pushed the one-line JSON past the capture window.
        # Per-sweep detail stays in BENCH/last_run.json; stdout carries the
        # medians + kernels + host probe only.
        compact = {k: v for k, v in out.items() if k != "sweeps"}
        print(json.dumps(compact))
    return out


if __name__ == "__main__":
    run(sys.argv[1] if len(sys.argv) > 1 else None)
