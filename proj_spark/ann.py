"""ANN and near-duplicate search over embedding columns: every embedding
operator the registered queries run lives here.

- :func:`brute_topk`: exact cosine top-k (the recall ground truth).
- :func:`ivf_topk`: IVF top-k over any centroid matrix, a deterministic
  subsample (the driver-checked ``ann_ivf_top5``) or spherical k-means
  centroids from :func:`train_centroids` (the production path). The
  centroids ride the UDF closures, bucket assignment is MAP-SIDE (one
  matmul per Arrow batch, no shuffle), queries probe their ``nprobe``
  nearest buckets, one shuffle on the bucket id brings the candidates
  together and an exact cosine reranks them (:func:`ivf_candidates`).
- :func:`recall_by_nprobe`: IVF recall@k against :func:`brute_topk` at
  several probe budgets from one candidate relation.
- :func:`near_dup_pairs`: cosine near-duplicate pairs by banded
  random-hyperplane LSH plus exact verification.

There is one IVF rule, the one the DuckDB oracles spell out: a vector's
bucket and a query's probe order rank centroids by cosine rounded to 6
decimals, lowest cid first; candidates rank by cosine rounded to 9
decimals, lowest id first. Everything is deterministic (sampling is
``vec_id % m == 0``, k-means starts from the first k sample vectors), so
results are reproducible across runs and cluster sizes.

Query batch: every vector with ``vec_id % QUERY_MOD == 0`` and
``vec_id < QUERY_CAP``, a FIXED budget (<= 1024 queries however large the
corpus). The sf0.1 -> sf1 suite run (BENCH/SF1.md) showed the uncapped
batch (count ~ N/50) turning every ANN query quadratic in corpus size
(31-52x wall growth for 10x data); with the cap, brute force is one linear
scan per batch and IVF is sub-linear. At sf <= 0.1 (max vec_id 1999) the
cap never binds.
"""

from __future__ import annotations

import math

import numpy as np
from pyspark.sql import DataFrame, functions as F
from pyspark.sql.window import Window

from .stages import numpy_udf

QUERY_MOD = 50
QUERY_CAP = 51200

# Near-dup operator contract: candidates are generated by banded LSH and
# then EXACTLY verified, so every emitted pair truly has sim >= the verify
# threshold; the RECALL guarantee (miss <= EMB_LSH_MISS) holds for pairs at
# sim >= EMB_NEAR_DUP_RECALL_SIM — the near-duplicate regime this operator
# targets. Pairs in [verify, recall) may be missed by candidate generation
# (guaranteeing miss<=1e-6 at sim=0.8 needs ~500+ 16-bit bands — quadratic
# candidate volume; see hyperplane_lsh_plan). tests/test_embedding_lsh.py
# asserts the gate fixtures have NO true pair inside that unrecallable band,
# so the exhaustive DuckDB oracle comparison is honest, and asserts the
# recall + linear-candidate properties on real fixture corpora.
EMB_NEAR_DUP_VERIFY_SIM = 0.8
EMB_NEAR_DUP_RECALL_SIM = 0.95
EMB_LSH_MISS = 1e-6
EMB_LSH_SEED = 0x5EED
# in-bucket pairs materialize as ONE array value per (band, key) bucket;
# above this many members the bucket switches to a spillable self-join
# (same pair set, row-shaped). 1024 members = ~524k structs ~ 8 MB per
# array value — comfortably inside a task, far from the 2^31 element cap.
EMB_LSH_BUCKET_CAP = 1024


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


def _normalized(emb: DataFrame) -> DataFrame:
    """(vec_id, v, norm) with v the ``embedding`` column cast to double."""
    v = F.transform("embedding", lambda x: x.cast("double"))
    return (emb.select("vec_id", v.alias("v"))
               .withColumn("norm", F.sqrt(F.aggregate(
                   "v", F.lit(0.0), lambda a, x: a + x * x))))


def _cos(v1: str, n1: str, v2: str, n2: str):
    """Cosine of two (vector, norm) column pairs."""
    dot = F.aggregate(F.zip_with(v1, v2, lambda a, b: a * b),
                      F.lit(0.0), lambda acc, x: acc + x)
    return dot / (F.col(n1) * F.col(n2))


def _scored(cand: DataFrame, *keep: str) -> DataFrame:
    """(qid, *keep, nid, sim) of query/candidate rows, sim the cosine
    rounded to 9 decimals so a SQL oracle's summation order cannot flip a
    near-tied rank."""
    sim = F.round(_cos("qv", "qnorm", "v", "norm"), 9)
    return cand.select("qid", *keep, F.col("vec_id").alias("nid"),
                       sim.alias("sim"))


def _queries(e: DataFrame) -> DataFrame:
    """The fixed query batch of a normalized corpus as (qid, qv, qnorm)."""
    return (e.filter((F.col("vec_id") % QUERY_MOD == 0)
                     & (F.col("vec_id") < QUERY_CAP))
             .select(F.col("vec_id").alias("qid"), F.col("v").alias("qv"),
                     F.col("norm").alias("qnorm")))


def _top_k(scored: DataFrame, k: int, *by: str) -> DataFrame:
    """The k best (sim desc, nid asc) rows of each ``by`` group, numbered
    in a ``rank`` column."""
    w = Window.partitionBy(*by).orderBy(F.desc("sim"), F.col("nid"))
    return (scored.withColumn("rank", F.row_number().over(w))
                  .filter(F.col("rank") <= k))


def _unit_rows(m) -> np.ndarray:
    """``m`` as a float64 matrix with unit-norm rows (zero rows stay 0)."""
    m = np.asarray(m, dtype=np.float64)
    n = np.linalg.norm(m, axis=1, keepdims=True)
    return m / np.where(n == 0, 1.0, n)


def sample_centroids(emb: DataFrame, mod: int, cap: int) -> np.ndarray:
    """Subsample centroids: the vectors with ``vec_id % mod == 0`` and
    ``vec_id < cap`` as a (k, dim) matrix in vec_id order (row = cid)."""
    rows = (emb.filter((F.col("vec_id") % mod == 0)
                       & (F.col("vec_id") < cap))
               .orderBy("vec_id").select("embedding").collect())
    return np.asarray([r[0] for r in rows], dtype=np.float64)


def train_centroids(emb: DataFrame, k: int, iters: int = 8,
                    max_sample: int = 100_000) -> np.ndarray:
    """Spherical k-means on a bounded deterministic sample.

    The sample is collected to the driver (<= max_sample vectors — the
    only driver-side data, independent of table size; at 100 TB the
    sample, not the table, bounds driver memory); Lloyd iterations run
    vectorized in numpy. Returns (k, dim) float64 centroids,
    L2-normalized (cosine k-means: assignment by dot product on unit
    vectors, centroid = normalized mean).
    """
    n = emb.count()
    mod = max(1, -(-n // max_sample))  # ceil: sample truly <= max_sample
    rows = (emb.filter(F.col("vec_id") % mod == 0)
               .orderBy("vec_id").select("embedding").collect())
    x = _unit_rows([r[0] for r in rows])
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


def ivf_candidates(emb: DataFrame, cents: np.ndarray,
                   nprobe: int) -> DataFrame:
    """IVF candidates of the query batch as (qid, prank, nid, sim): every
    vector (other than the query) in the query's ``nprobe`` nearest
    buckets, ``prank`` the bucket's probe rank (1 = nearest) and ``sim``
    the exact cosine. Centroid row i is bucket i."""
    cmat = _unit_rows(cents)  # (k, dim), rides the UDF closures

    def csims(x):
        return np.round(_unit_rows(x) @ cmat.T, 6)

    @numpy_udf("long")
    def assign_cid(x):
        return np.argmax(csims(x), axis=1)  # ties -> lowest cid

    @numpy_udf("array<long>")
    def probe_cids(x):
        return np.argsort(-csims(x), axis=1, kind="stable")[:, :nprobe]

    e = _normalized(emb)
    # a non-nullable join key: the join would otherwise infer an
    # isnotnull(cid) filter below the projection, and the UDF would run
    # once for that filter and once for the column
    eb = e.withColumn("cid", F.coalesce(assign_cid("v"), F.lit(-1)))
    qprobe = _queries(e).select(
        "qid", "qv", "qnorm",
        F.posexplode(probe_cids("qv")).alias("prank", "cid"))
    # one shuffle on cid (AQE splits hot buckets)
    cand = (qprobe.join(eb, on="cid")
                  .filter(F.col("vec_id") != F.col("qid")))
    return _scored(cand.withColumn("prank", F.col("prank") + 1), "prank")


def ivf_topk(emb: DataFrame, cents: np.ndarray, k: int = 5,
             nprobe: int = 2) -> DataFrame:
    """IVF top-k of the query batch: (qid, nid, sim, rank)."""
    return (_top_k(ivf_candidates(emb, cents, nprobe), k, "qid")
            .select("qid", "nid", "sim", "rank"))


def brute_topk(emb: DataFrame, k: int = 5) -> DataFrame:
    """Exact cosine top-k of the query batch (the recall ground truth):
    (qid, nid, sim, rank). The small query side is broadcast over the
    corpus, so the scan stays one linear pass."""
    e = _normalized(emb)
    cand = (e.crossJoin(F.broadcast(_queries(e)))
             .filter(F.col("vec_id") != F.col("qid")))
    return (_top_k(_scored(cand), k, "qid")
            .select("qid", "nid", "sim", "rank"))


def recall_by_nprobe(emb: DataFrame, cents: np.ndarray, nprobes,
                     k: int = 5) -> DataFrame:
    """IVF recall@k at each probe budget in ``nprobes``, against the exact
    top-k: (nprobe, n_queries, n_hits, recall). Candidates are generated
    ONCE at the largest budget, each carrying its bucket's probe rank, so
    every budget is a filter over the same scored relation."""
    budgets = F.explode(F.array(*map(F.lit, nprobes)))
    exact = brute_topk(emb, k).select("qid", "nid")
    cand = (ivf_candidates(emb, cents, max(nprobes))
            .withColumn("nprobe", budgets)
            .filter(F.col("prank") <= F.col("nprobe")))
    hit = (_top_k(cand, k, "nprobe", "qid").join(exact, on=["qid", "nid"])
           .groupBy("nprobe", "qid").agg(F.count("*").alias("h")))
    allq = (_queries(_normalized(emb)).select("qid")
            .withColumn("nprobe", budgets))
    hits = (allq.join(hit, on=["nprobe", "qid"], how="left")
                .select("nprobe", F.coalesce("h", F.lit(0)).alias("hits")))
    return (hits.groupBy("nprobe")
                .agg(F.count("*").alias("n_queries"),
                     F.sum("hits").alias("n_hits"),
                     (F.sum("hits") / (F.count("*") * k)).alias("recall")))


def recall_at_k(approx: DataFrame, exact: DataFrame) -> float:
    """|approx ∩ exact| / |exact| over (qid, nid) pairs."""
    hit = approx.select("qid", "nid").join(
        exact.select("qid", "nid"), on=["qid", "nid"]).count()
    total = exact.count()
    return hit / total if total else 1.0


def near_dup_pairs(emb: DataFrame) -> DataFrame:
    """Cosine >= EMB_NEAR_DUP_VERIFY_SIM pairs as (id1, id2, sim), id1 <
    id2, via banded random-hyperplane LSH with DERIVED band constants:
    (n_bands, n_bits) come from hyperplane_lsh_plan — bits from the
    corpus size (keeps random-pair band collisions ~2^-bits so total
    candidates stay O(bands*N) at ANY scale), bands from the recall
    contract (miss <= EMB_LSH_MISS at sim >= EMB_NEAR_DUP_RECALL_SIM).
    Candidates come from an EQUI-grouping on (band, key) and are verified
    with the exact cosine, so emitted pairs exactly satisfy the filter.

    History: the r3 24x3-bit scheme HUNG at sf1 (192 buckets -> disguised
    cartesian); the r4 fix hand-tuned 8x16 bits, which bounded candidates
    only to N~1e7 and guaranteed recall only at the fixture's sim~0.9997
    (r4 advice: ~19% recall at sim exactly 0.8). The derived plan removes
    both hand constants; the contract note above the EMB_* constants
    records the [0.8, 0.95) sharpness trade-off."""
    e = _normalized(emb)
    # corpus size drives the plan: one cheap count job over the ACTUAL
    # corpus — an estimate would undersize bits for id sets that are not
    # uniform, doubling the per-band random-collision rate the derivation
    # promises
    n_bands, n_rows = hyperplane_lsh_plan(
        e.count(), EMB_NEAR_DUP_RECALL_SIM, EMB_LSH_MISS)
    dim = 64
    hyper = np.random.default_rng(EMB_LSH_SEED).standard_normal(
        (dim, n_bands * n_rows))
    pack = (np.int64(1) << np.arange(n_rows - 1, -1, -1, dtype=np.int64))

    @numpy_udf("array<long>")
    def band_keys(v):                           # v: (n, dim)
        bits = (v @ hyper) > 0                  # (n, bands*rows)
        return bits.reshape(-1, n_bands, n_rows).astype(np.int64) @ pack

    # the _outer form infers no size(keys) > 0 filter below the
    # projection, which would run the UDF once more for that filter; the
    # key array is never empty or NULL, so the rows are the same
    sig = (e.withColumn("keys", band_keys("v"))
             .select("vec_id", F.posexplode_outer("keys").alias("band", "bk")))
    # candidates: group each (band, key) bucket and expand in-bucket pairs
    # — computes the signature relation ONCE (the former sig-self-join
    # recomputed the UDF + explode on both sides: measured 11.5 s -> 9.0 s
    # at sf1, identical output). Expected bucket size is ~1 + the true
    # near-dup cluster size (bits = log2 N + 4 keeps random co-bucketing
    # at ~N/32 per band), so collect_list stays tiny. Buckets ABOVE
    # EMB_LSH_BUCKET_CAP (a mega-cluster of near-identical vectors — the
    # operator's target domain at dirty-corpus scale) are routed to a
    # spillable equi-self-join instead: the K(K-1)/2 pairs arrive as join
    # ROWS, not as one array value, so no bucket can hit Spark's 2^31
    # array-element limit or a single-row memory spike. Same pair set
    # either way; the cap only picks the physical shape.
    bucket = (sig.groupBy("band", "bk")
                 .agg(F.collect_list("vec_id").alias("ids"))
                 .filter(F.size("ids") >= 2))
    pair_expr = F.expr(
        "flatten(transform(ids, (x, i) -> "
        "transform(slice(ids, i + 2, size(ids)), "
        "y -> struct(least(x, y) AS id1, greatest(x, y) AS id2))))")
    small = bucket.filter(F.size("ids") <= EMB_LSH_BUCKET_CAP)
    small_pairs = (small.select(F.explode(pair_expr).alias("p"))
                        .select("p.id1", "p.id2"))
    big_members = (bucket.filter(F.size("ids") > EMB_LSH_BUCKET_CAP)
                         .select("band", "bk",
                                 F.explode("ids").alias("vec_id")))
    m1 = big_members.select("band", "bk", F.col("vec_id").alias("ida"))
    m2 = big_members.select("band", "bk", F.col("vec_id").alias("idb"))
    big_pairs = (m1.join(m2, ["band", "bk"])
                   .filter(F.col("ida") < F.col("idb"))
                   .select(F.col("ida").alias("id1"),
                           F.col("idb").alias("id2")))
    cand = small_pairs.unionByName(big_pairs).distinct()
    e1 = e.select(F.col("vec_id").alias("id1"), F.col("v").alias("v1"),
                  F.col("norm").alias("n1"))
    e2 = e.select(F.col("vec_id").alias("id2"), F.col("v").alias("v2"),
                  F.col("norm").alias("n2"))
    pairs = cand.join(e1, "id1").join(e2, "id2")
    return (pairs.select("id1", "id2",
                         _cos("v1", "n1", "v2", "n2").alias("sim"))
                 .filter(F.col("sim") >= EMB_NEAR_DUP_VERIFY_SIM))
