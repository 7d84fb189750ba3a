"""ANN over embedding columns: trained IVF centroids + recall measurement.

The driver-checked `ann_ivf_top5` query (querylib.py) keeps its
deterministic `% 37` subsample centroids so the DuckDB oracle can mirror
the rule exactly. This module supplies the production path on top of the
same plan shape: spherical k-means centroids trained on a BOUNDED sample
(driver-side Lloyd iterations over at most `max_sample` vectors — at
100 TB the sample, not the table, bounds driver memory), then the usual
closure-shipped centroids / one-shuffle-on-bucket / n-probe /
exact-rerank IVF.

Everything is deterministic: sampling is `vec_id % m == 0`, init is the
first k sample vectors, ties in assignment break on lowest centroid id —
so results are reproducible across runs and cluster sizes.
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import DataFrame, functions as F
from pyspark.sql.window import Window

from .session import local_df
from .stages import numpy_udf


def hyperplane_lsh_plan(n_vecs: int, recall_sim: float = 0.95,
                        miss: float = 1e-6) -> tuple[int, int]:
    """Derive (n_bands, n_bits) for sign-random-projection LSH from the
    corpus size and the recall contract — no hand-tuned constants.

    bits: two random (cosine ~0) vectors agree on one sign bit w.p. ~1/2,
    so a band's random-collision probability is ~2^-bits;
    bits = ceil(log2 N) + 4 keeps expected random candidates per band
    <= N^2/2 * 2^-bits ~= N/32, i.e. total candidates O(bands * N) at any
    corpus size (the r4 hand constants held only to N ~ 1e7).

    bands: a pair at cosine s agrees per bit w.p. p = 1 - acos(s)/pi
    (Goemans-Williamson); a band of `bits` bits agrees w.p. p^bits, so
    bands are sized to push the all-bands miss probability
    (1 - p^bits)^bands below `miss` at the contract similarity
    `recall_sim`. Pairs below recall_sim may still surface (and are then
    exactly verified), but carry no recall guarantee — the standard
    OR-AND amplification sharpness trade-off.
    """
    import math
    bits = max(16, math.ceil(math.log2(max(n_vecs, 2))) + 4)
    p = 1.0 - math.acos(min(max(recall_sim, -1.0), 1.0)) / math.pi
    # clamp band_agree into (0, 1): recall_sim=1.0 gives p=1 (log(0)
    # domain error — exact duplicates always collide, a handful of bands
    # suffice), and a loose contract (low recall_sim at large bits)
    # underflows p**bits toward 0.0; log1p keeps the denominator nonzero
    # where 1 - band_agree would round to exactly 1.0
    band_agree = min(max(p ** bits, 1e-300), 1.0 - 1e-12)
    bands = max(4, math.ceil(math.log(miss) / math.log1p(-band_agree)))
    # the OR-construction cost is bands*N keys, so a contract this bit
    # width cannot honor at sane cost (e.g. recall at near-random cosine,
    # where exact sizing wants millions of bands) fails LOUDLY instead of
    # returning a degenerate plan; the default contract stays far below
    # this at any real corpus (sim 0.95 at N=1e12 needs ~1.5k bands)
    if bands > 10_000:
        raise ValueError(
            f"LSH contract unachievable: recall {1 - miss:g} at "
            f"sim>={recall_sim} needs {bands} bands of {bits} bits — "
            "raise recall_sim or accept a larger miss rate")
    return bands, bits


def _normalized(e: DataFrame, vec_col: str = "embedding") -> DataFrame:
    """(vec_id, v, norm) with v cast to double."""
    v = F.transform(vec_col, lambda x: x.cast("double"))
    return (e.select("vec_id", v.alias("v"))
             .withColumn("norm", F.sqrt(F.aggregate(
                 "v", F.lit(0.0), lambda a, x: a + x * x))))


def _cos(v1, n1, v2, n2):
    dot = F.aggregate(F.zip_with(v1, v2, lambda a, b: a * b),
                      F.lit(0.0), lambda acc, x: acc + x)
    return dot / (n1 * n2)


def train_centroids(emb: DataFrame, k: int, iters: int = 8,
                    max_sample: int = 100_000,
                    vec_col: str = "embedding") -> np.ndarray:
    """Spherical k-means on a bounded deterministic sample.

    The sample is collected to the driver (<= max_sample vectors — the
    only driver-side data, independent of table size); Lloyd iterations
    run vectorized in numpy. Returns (k, dim) float64 centroids,
    L2-normalized (cosine k-means: assignment by dot product on unit
    vectors, centroid = normalized mean).
    """
    n = emb.count()
    mod = max(1, -(-n // max_sample))  # ceil: sample truly <= max_sample
    rows = (emb.filter(F.col("vec_id") % mod == 0)
               .select("vec_id", vec_col).orderBy("vec_id").collect())
    x = np.asarray([r[1] for r in rows], dtype=np.float64)
    nx = np.linalg.norm(x, axis=1, keepdims=True)
    x = x / np.where(nx == 0, 1.0, nx)
    k = min(k, len(x))
    c = x[:k].copy()  # deterministic init: first k sample vectors
    for _ in range(iters):
        sims = x @ c.T                       # (n, k)
        assign = np.argmax(sims, axis=1)     # ties -> lowest id (argmax)
        for j in range(k):
            m = assign == j
            if m.any():
                v = x[m].sum(axis=0)
                nv = np.linalg.norm(v)
                if nv > 0:
                    c[j] = v / nv
    return c


def centroid_df(spark, cents: np.ndarray) -> DataFrame:
    """Centroids as a JVM-local (cid, cv, cnorm) DataFrame
    (``LocalTableScan``), small enough to broadcast."""
    rows = [(int(i), [float(v) for v in c]) for i, c in enumerate(cents)]
    df = local_df(spark, rows, "cid long, cv array<double>")
    return df.withColumn("cnorm", F.sqrt(F.aggregate(
        "cv", F.lit(0.0), lambda a, x: a + x * x)))


def _unit_matrix(cents) -> np.ndarray:
    """Centroids (np.ndarray or small (cid, cv, …) DataFrame, k rows,
    bounded by construction) as a row-unit-normalized (k, dim) matrix
    ordered by cid, so row index == cid."""
    if isinstance(cents, np.ndarray):
        c = np.asarray(cents, dtype=np.float64)
    else:
        rows = cents.select("cid", "cv").orderBy("cid").collect()
        c = np.asarray([r[1] for r in rows], dtype=np.float64)
    n = np.linalg.norm(c, axis=1, keepdims=True)
    return c / np.where(n == 0, 1.0, n)


def ivf_topk(spark, emb: DataFrame, cents, k: int = 5,
             nprobe: int = 2, query_mod: int = 50,
             vec_col: str = "embedding",
             sim_round: int | None = None,
             query_cap: int = 51200) -> DataFrame:
    """IVF top-k: centroids ride the UDF closures as a numpy matrix ->
    nearest-centroid bucket per vector computed MAP-SIDE (one matmul per
    Arrow batch through stages.numpy_udf, no shuffle, bucket carried
    with v/norm so no join-back) -> queries probe their `nprobe` nearest
    buckets -> one shuffle on cid (AQE splits hot buckets) -> exact cosine
    rerank over candidates only. Returns (qid, nid, sim, rank). Ties break
    on lowest cid (stable argsort over cid-ordered rows), matching
    train_centroids' determinism."""
    cmat = _unit_matrix(cents)  # (k, dim), rides the UDF closures

    @numpy_udf("long")
    def assign_cid(x):
        return np.argmax(x @ cmat.T, axis=1)

    @numpy_udf("array<long>")
    def probe_cids(x):
        return np.argsort(-(x @ cmat.T), axis=1, kind="stable")[:, :nprobe]

    e = _normalized(emb, vec_col)
    eb = e.withColumn("cid", assign_cid("v"))   # narrow: no exchange

    # fixed query budget (vec_id < query_cap): the workload is "a bounded
    # query batch against a growing corpus", so total cost stays LINEAR in
    # corpus size — the sf0.1->sf1 suite run showed the uncapped variant
    # (query count ~ N/50) going quadratic (BENCH/SF1.md)
    qs = (e.filter((F.col("vec_id") % query_mod == 0)
                   & (F.col("vec_id") < query_cap))
           .select(F.col("vec_id").alias("qid"), F.col("v").alias("qv"),
                   F.col("norm").alias("qnorm")))
    qprobe = qs.withColumn("cid", F.explode(probe_cids("qv")))

    cand = (qprobe.join(eb, on="cid")
                  .filter(F.col("vec_id") != F.col("qid")))
    sim_expr = _cos(F.col("qv"), F.col("qnorm"), F.col("v"), F.col("norm"))
    if sim_round is not None:
        # round before ranking so a SQL oracle's summation order can't
        # flip near-tied ranks (same convention as querylib's ANN oracles)
        sim_expr = F.round(sim_expr, sim_round)
    scored = cand.select(
        "qid", F.col("vec_id").alias("nid"), sim_expr.alias("sim"))
    w = Window.partitionBy("qid").orderBy(F.desc("sim"), F.col("nid"))
    return (scored.withColumn("rank", F.row_number().over(w))
                  .filter(F.col("rank") <= k)
                  .select("qid", "nid", "sim", "rank"))


def brute_topk(spark, emb: DataFrame, k: int = 5, query_mod: int = 50,
               vec_col: str = "embedding",
               query_cap: int = 51200) -> DataFrame:
    """Exact cosine top-k (recall ground truth): broadcast the small query
    side over the full table. Query batch bounded by `query_cap` (see
    ivf_topk) so the scan stays one linear pass over the corpus."""
    e = _normalized(emb, vec_col)
    qs = (e.filter((F.col("vec_id") % query_mod == 0)
                   & (F.col("vec_id") < query_cap))
           .select(F.col("vec_id").alias("qid"), F.col("v").alias("qv"),
                   F.col("norm").alias("qnorm")))
    cand = (e.crossJoin(F.broadcast(qs))
             .filter(F.col("vec_id") != F.col("qid")))
    scored = cand.select(
        "qid", F.col("vec_id").alias("nid"),
        _cos(F.col("qv"), F.col("qnorm"), F.col("v"), F.col("norm"))
        .alias("sim"))
    w = Window.partitionBy("qid").orderBy(F.desc("sim"), F.col("nid"))
    return (scored.withColumn("rank", F.row_number().over(w))
                  .filter(F.col("rank") <= k)
                  .select("qid", "nid", "sim", "rank"))


def recall_at_k(approx: DataFrame, exact: DataFrame) -> float:
    """|approx ∩ exact| / |exact| over (qid, nid) pairs."""
    hit = approx.select("qid", "nid").join(
        exact.select("qid", "nid"), on=["qid", "nid"]).count()
    total = exact.count()
    return hit / total if total else 1.0
