"""IVF ANN recall: trained spherical-k-means centroids vs the driver
query's deterministic subsample, measured against exact brute-force
ground truth (VERDICT r1: "centroids are a % 37 subsample, not trained;
revisit recall").

The synthetic embeddings are random (near-orthogonal in 64-d), so IVF
recall is fundamentally bounded by the fraction of buckets probed — the
interesting properties are (a) training beats the subsample at equal
probe budget, (b) recall rises monotonically with nprobe, (c) probing
ALL buckets gives exactly 1.0 (the rerank is exact, so IVF's only loss
is bucket pruning). All paths are deterministic: fixed sampling, fixed
init, id-ordered tie-breaks.
"""

import numpy as np
import pytest

from proj_spark import ann

SF_DIR = "/root/testdata/sf0.01"
K_CENTS = 14  # matches the %37 subsample count at sf0.01 (500 vectors)


@pytest.fixture(scope="module")
def spark():
    from proj_spark.session import get_spark
    return get_spark("test_ann", cpus=8)


@pytest.fixture(scope="module")
def emb(spark):
    return spark.read.parquet(f"{SF_DIR}/embeddings.parquet")


@pytest.fixture(scope="module")
def exact(spark, emb):
    df = ann.brute_topk(emb).cache()
    df.count()
    return df


def test_trained_centroids_beat_subsample(spark, emb, exact):
    sub = ann.sample_centroids(emb, 37, 9472)  # ann_ivf_top5's rule
    r_sub = ann.recall_at_k(ann.ivf_topk(emb, sub), exact)
    cents = ann.train_centroids(emb, k=K_CENTS)
    r_tr = ann.recall_at_k(ann.ivf_topk(emb, cents), exact)
    # measured: subsample 0.28, trained 0.44 at nprobe=2
    assert r_tr > r_sub
    assert r_tr >= 0.40


def test_recall_monotone_in_nprobe_and_exact_at_full(spark, emb, exact):
    cents = ann.train_centroids(emb, k=K_CENTS)
    r2 = ann.recall_at_k(ann.ivf_topk(emb, cents, nprobe=2), exact)
    r8 = ann.recall_at_k(ann.ivf_topk(emb, cents, nprobe=8), exact)
    rall = ann.recall_at_k(ann.ivf_topk(emb, cents, nprobe=K_CENTS), exact)
    assert r2 <= r8 <= rall
    assert r8 >= 0.85          # measured 0.88
    assert rall == 1.0         # bucket pruning is IVF's ONLY loss


def test_probe_recall_query_bar(spark):
    """The registered ann_ivf_probe_recall query (VERDICT r4 #3) must
    report a monotone recall@5 curve with >= 0.9 at nprobe=8 on its
    planted-cluster corpus — the exact values are value-locked by the
    DuckDB oracle in the sweep; this pins the headline bar itself."""
    from proj_spark import querylib
    querylib.register_views(spark, SF_DIR)
    rows = {r.nprobe: r.recall_at_5
            for r in querylib.QUERIES["ann_ivf_probe_recall"](
                spark, SF_DIR).collect()}
    assert set(rows) == {1, 4, 8}
    assert rows[1] <= rows[4] <= rows[8]
    assert rows[8] >= 0.9      # measured 0.94 at sf0.01


def test_kmeans_deterministic(spark, emb):
    c1 = ann.train_centroids(emb, k=K_CENTS)
    c2 = ann.train_centroids(emb, k=K_CENTS)
    assert np.array_equal(c1, c2)
    # unit-norm centroids
    assert np.allclose(np.linalg.norm(c1, axis=1), 1.0)
