"""Embedding-LSH banding properties on the real fixture corpora (VERDICT
r4 #4 + the r4 advice item): the (n_bands, n_bits) plan is DERIVED, and
these tests pin the three claims that derivation makes —

1. linear candidates: distinct banded-candidate pairs stay <= c*N across
   fixture sizes (500 .. 22,000 vectors), killing the quadratic regimes
   that hung twice in earlier rounds;
2. recall: every true pair at sim >= EMB_NEAR_DUP_RECALL_SIM lands in the
   candidate set (plan miss bound is 1e-6; the fixtures have thousands of
   constructed true pairs);
3. fixture gap: NO true pair of the gate corpora falls in the
   unrecallable [verify, recall) similarity band, so the exhaustive
   DuckDB oracle comparison in the sweep/driver gate is honest (the r4
   advice: a corpus with pairs at sim in [0.8, ~0.95) would silently miss
   them — the contract note in ann.py documents that trade-off).

All numpy — the banding math is reproduced bit-for-bit from the query
(same seed, same packing), so no Spark session is needed.
"""

from __future__ import annotations

import sys
from pathlib import Path

import duckdb
import numpy as np
import pytest

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))

from proj_spark.ann import (  # noqa: E402
    EMB_LSH_SEED, EMB_LSH_MISS,
    EMB_NEAR_DUP_RECALL_SIM, EMB_NEAR_DUP_VERIFY_SIM, hyperplane_lsh_plan)

_SF1 = Path(__file__).resolve().parent.parent / "testdata_sf" / "sf1"
FIXTURES = [
    "/root/testdata/sf0.001",
    "/root/testdata/sf0.01",
    "/root/testdata/sf0.1",
    # 10x fixture is generated (not tracked): tools/gen_sf.py
    pytest.param(str(_SF1), marks=pytest.mark.skipif(
        not (_SF1 / "embeddings.parquet").exists(),
        reason="sf1 fixture not generated")),
]


def _corpus(sf_dir: str) -> tuple[np.ndarray, np.ndarray]:
    """(ids, unit vectors) — the query's corpus: base + 1.01x+0.003
    variants of every vec_id % 10 == 0."""
    df = duckdb.sql(
        f"SELECT vec_id, embedding FROM "
        f"read_parquet('{sf_dir}/embeddings.parquet') ORDER BY vec_id").df()
    ids = df["vec_id"].to_numpy(np.int64)
    mat = np.stack(df["embedding"].to_numpy()).astype(np.float64)
    sel = ids % 10 == 0
    var = mat[sel] * 1.01 + 0.003
    all_ids = np.concatenate([ids, ids[sel] + 100000])
    all_mat = np.vstack([mat, var])
    unit = all_mat / np.linalg.norm(all_mat, axis=1, keepdims=True)
    return all_ids, unit


def _band_candidates(ids: np.ndarray, unit: np.ndarray) -> set[tuple]:
    """Distinct candidate pairs from the query's exact banding (same
    seed, same bit packing, same derived plan)."""
    n = len(ids)
    n_bands, n_rows = hyperplane_lsh_plan(
        n, EMB_NEAR_DUP_RECALL_SIM, EMB_LSH_MISS)
    dim = unit.shape[1]
    hyper = np.random.default_rng(EMB_LSH_SEED).standard_normal(
        (dim, n_bands * n_rows))
    bits = (unit @ hyper) > 0
    pack = (np.int64(1) << np.arange(n_rows - 1, -1, -1, dtype=np.int64))
    keys = bits.reshape(-1, n_bands, n_rows).astype(np.int64) @ pack
    cands: set[tuple] = set()
    for b in range(n_bands):
        order = np.argsort(keys[:, b], kind="stable")
        kb = keys[order, b]
        starts = np.flatnonzero(np.r_[True, kb[1:] != kb[:-1]])
        ends = np.r_[starts[1:], len(kb)]
        for s, e in zip(starts, ends):
            if e - s < 2:
                continue
            bucket = np.sort(ids[order[s:e]])
            for i in range(len(bucket)):
                for j in range(i + 1, len(bucket)):
                    cands.add((int(bucket[i]), int(bucket[j])))
    return cands


def _true_pairs(ids, unit, lo):
    """All distinct pairs with cosine >= lo (exact, blocked matmul)."""
    sims = unit @ unit.T
    iu = np.triu_indices(len(ids), k=1)
    mask = sims[iu] >= lo
    a, b = ids[iu[0][mask]], ids[iu[1][mask]]
    lo_id, hi_id = np.minimum(a, b), np.maximum(a, b)
    return {(int(x), int(y)) for x, y in zip(lo_id, hi_id)}, sims[iu][mask]


@pytest.mark.parametrize("sf_dir", FIXTURES)
def test_candidates_linear_in_n(sf_dir):
    ids, unit = _corpus(sf_dir)
    cands = _band_candidates(ids, unit)
    n = len(ids)
    # derived plan bound: random collisions ~ bands * N/32, plus each of
    # the N/10 constructed true pairs once -> comfortably <= 8*N at every
    # fixture size (measured: ~0.11*N at sf0.001 .. ~0.12*N at sf1)
    assert len(cands) <= 8 * n, f"{sf_dir}: {len(cands)} candidates for N={n}"


@pytest.mark.parametrize("sf_dir", FIXTURES[:3])
def test_recall_and_fixture_gap(sf_dir):
    ids, unit = _corpus(sf_dir)
    cands = _band_candidates(ids, unit)
    true, sims = _true_pairs(ids, unit, EMB_NEAR_DUP_VERIFY_SIM)
    # fixture gap: the gate corpora carry no pair inside [verify, recall)
    in_gap = (sims >= EMB_NEAR_DUP_VERIFY_SIM) & \
             (sims < EMB_NEAR_DUP_RECALL_SIM)
    assert not in_gap.any(), (
        f"{sf_dir}: {int(in_gap.sum())} true pairs sit in the "
        f"unrecallable [{EMB_NEAR_DUP_VERIFY_SIM}, "
        f"{EMB_NEAR_DUP_RECALL_SIM}) band — oracle no longer exhaustive")
    # recall: with the gap established, every oracle pair is recallable
    # and must be in the candidate set (plan miss bound 1e-6)
    assert true, f"{sf_dir}: fixture lost its constructed near-dups"
    missed = true - cands
    assert not missed, f"{sf_dir}: {len(missed)} true pairs missed"


def test_plan_derivation_scales():
    """bits track corpus size (collisions stay linear); bands track the
    analytic miss bound at the contract similarity."""
    import math
    for n in (1_000, 100_000, 10_000_000, 1_000_000_000):
        bands, bits = hyperplane_lsh_plan(n)
        assert bits >= math.log2(n) + 4 - 1e-9
        p = 1.0 - math.acos(EMB_NEAR_DUP_RECALL_SIM) / math.pi
        assert (1.0 - p ** bits) ** bands <= EMB_LSH_MISS
        # expected random candidates per band <= N/32 by construction
        assert n * n / 2 * 2.0 ** -bits <= n / 32 + 1
    b1, _ = hyperplane_lsh_plan(10_000)
    b2, _ = hyperplane_lsh_plan(10_000_000)
    assert b2 >= b1  # more bits need more bands at fixed recall


def test_plan_boundary_contracts():
    """Degenerate contracts: exact-dup recall (sim=1.0) yields a small
    valid plan instead of a log(0) domain error; a near-random-cosine
    contract raises a clear ValueError instead of returning a
    million-band plan or dividing by log(1-0)=0."""
    bands, bits = hyperplane_lsh_plan(1_000, recall_sim=1.0)
    assert bands == 4 and bits >= 14
    with pytest.raises(ValueError, match="unachievable"):
        hyperplane_lsh_plan(10**9, recall_sim=0.1)
    # p**bits below ~1e-16: 1 - band_agree rounds to 1.0, so the band
    # count must come from log1p, not log(1 - x) = 0
    with pytest.raises(ValueError, match="unachievable"):
        hyperplane_lsh_plan(1_000, recall_sim=-0.99)
    # default contract at the 100 TB corpus scale stays achievable
    bands, bits = hyperplane_lsh_plan(10**12)
    assert bands <= 10_000 and bits == 44
