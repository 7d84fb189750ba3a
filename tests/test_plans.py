"""Physical-plan audits: assert the Catalyst plans the engine relies on at
100 TB actually materialize — pushdown/pruning into the parquet scan,
broadcast (not shuffle) joins for the small sides, JVM-side regex
extraction, Arrow (not row-at-a-time Python) evaluation for the kernels.

These are the properties SURVEY.md §4 claims Catalyst gives for free; a
regression here silently turns a map-side plan into a shuffle at scale.
"""

from __future__ import annotations

import re

import pytest

from proj_spark.session import get_spark
from proj_spark import querylib

SF = "/root/testdata/sf0.001"


@pytest.fixture(scope="module")
def spark():
    s = get_spark("plan_audit", cpus=4, shuffle_partitions=8)
    s.sparkContext.setLogLevel("ERROR")
    querylib.register_views(s, SF)
    yield s
    s.stop()


def plan_of(df, mode: str = "formatted") -> str:
    jvm = df.sparkSession._jvm
    mode_obj = jvm.org.apache.spark.sql.execution.ExplainMode.fromString(mode)
    return df._jdf.queryExecution().explainString(mode_obj)


def test_scan_column_pruning(spark):
    """Selecting 2 columns of documents must prune the scan's ReadSchema
    (the text/html payloads are the bulk of a 100 TB pages table)."""
    df = spark.table("documents").select("doc_id", "lang")
    p = plan_of(df)
    assert "ReadSchema" in p
    read_schema = [ln for ln in p.splitlines() if "ReadSchema" in ln][0]
    assert "doc_id" in read_schema and "lang" in read_schema
    assert "text" not in read_schema


def test_filter_pushdown_to_parquet(spark):
    """A lang filter must reach the parquet scan as a pushed filter."""
    from pyspark.sql import functions as F
    df = spark.table("documents").filter(F.col("lang") == "en") \
        .select("doc_id")
    p = plan_of(df)
    pushed = [ln for ln in p.splitlines() if "PushedFilters" in ln]
    assert pushed and "lang" in pushed[0]


def _pip_points(spark):
    return spark.sql(
        "SELECT doc_id AS pid, (doc_id * 7 % 36000000) - 18000000 AS lon_i, "
        "(doc_id * 13 % 17000000) - 8500000 AS lat_i FROM documents")


def _assert_local_build_side(df):
    """Driver-built rows must enter the plan as a JVM-local relation: a
    Python-RDD scan (ExistingRDD / LogicalRDD) runs Python tasks just to
    unpickle them."""
    assert "LocalTableScan" in plan_of(df)
    p = plan_of(df, "extended")
    assert "ExistingRDD" not in p
    assert "LogicalRDD" not in p


def test_pip_join_is_broadcast(spark):
    """The PIP cell-prefix join must broadcast the polygon cover side —
    the points side (10^12 rows at scale) must NOT shuffle."""
    from proj_spark import joins
    hits = joins.pip_join(spark, _pip_points(spark))
    p = plan_of(hits)
    assert "BroadcastHashJoin" in p
    assert "SortMergeJoin" not in p
    _assert_local_build_side(hits)


def test_ed50_candidates_are_local_relation(spark):
    """ed50_regional_dispatch is JVM-only with broadcast candidates: the
    rank join is a broadcast hash join, nothing sort-merges and no row
    crosses into Python."""
    df = querylib.QUERIES["ed50_regional_dispatch"](spark, SF)
    _assert_local_build_side(df)
    p = plan_of(df)
    assert "BroadcastHashJoin" in p
    assert "SortMergeJoin" not in p
    assert "ArrowEvalPython" not in p and "BatchEvalPython" not in p


def test_repeated_calls_leave_no_temp_files(spark):
    """pip_join and ivf_topk ship their driver-side arrays in the UDF
    closure: a call must leave no file in the driver's temp dir (a
    per-call broadcast would, with a JVM broadcast nothing destroys)."""
    import os
    import numpy as np
    from proj_spark import ann, joins
    temp_dir = spark.sparkContext._temp_dir
    pts = _pip_points(spark)
    emb = spark.table("embeddings")
    cents = np.eye(4, 8)

    def calls():
        joins.pip_join(spark, pts)
        ann.ivf_topk(emb, cents)

    calls()
    before = set(os.listdir(temp_dir))
    for _ in range(3):
        calls()
    assert set(os.listdir(temp_dir)) == before


def test_knn_probe_side_broadcast(spark):
    """kNN candidate generation broadcasts the (small) query ring set."""
    from proj_spark import joins
    q = spark.sql("SELECT doc_id AS qid, (doc_id * 11 % 1000000) AS qx, "
                  "(doc_id * 17 % 1000000) AS qy FROM documents LIMIT 50")
    pts = spark.sql("SELECT doc_id AS pid, (doc_id * 7 % 1000000) AS px, "
                    "(doc_id * 13 % 1000000) AS py FROM documents")
    out = joins.knn_join(spark, q, pts, k=3)
    p = plan_of(out)
    assert "BroadcastHashJoin" in p


def test_knn_plan_exchanges_only_on_qid(spark):
    """The joins.py scale note: the ring cells are the broadcast side, so
    the points never exchange on a cell, and each ranking window cuts its
    input to k per query map-side before the one exchange on qid."""
    from proj_spark import joins
    q = spark.sql("SELECT doc_id AS qid, (doc_id * 11 % 1000000) AS qx, "
                  "(doc_id * 17 % 1000000) AS qy FROM documents")
    pts = spark.sql("SELECT doc_id AS pid, (doc_id * 7 % 1000000) AS px, "
                    "(doc_id * 13 % 1000000) AS py FROM documents")
    p = plan_of(joins.knn_join(spark, q, pts, k=3), "simple")
    exchanges = [ln for ln in p.splitlines() if "Exchange " in ln
                 and "BroadcastExchange" not in ln]
    assert exchanges
    assert all("hashpartitioning(qid#" in ln for ln in exchanges), exchanges
    assert "WindowGroupLimit" in p


def test_extraction_is_jvm_side(spark):
    """The regex coordinate extraction must stay in whole-stage codegen —
    no Python evaluation node in the scan stage. Checked on the engine's
    path: extraction over the cached pages view."""
    df = querylib.QUERIES["extract_coords"](spark, SF)
    p = plan_of(df)
    assert "BatchEvalPython" not in p
    assert "ArrowEvalPython" not in p
    # simple mode marks whole-stage-codegen stages with "*(n)"
    assert "*(1)" in plan_of(df, "simple")


def test_kernels_run_arrow_not_row_python(spark):
    """Projection kernels must evaluate via Arrow batches, never the
    row-at-a-time Python evaluator."""
    from proj_spark.stages import apply_transform
    from proj_spark.crs import create
    df = spark.sql("SELECT CAST(doc_id % 360 - 180 AS DOUBLE) AS lon, "
                   "CAST(doc_id % 160 / 2.0 - 40 AS DOUBLE) AS lat "
                   "FROM documents")
    out = apply_transform(df, create("+proj=utm +zone=32 +ellps=GRS80"),
                          "lon", "lat")
    p = plan_of(out)
    assert "ArrowEvalPython" in p
    assert "BatchEvalPython" not in p


def test_2d_transform_ships_two_columns(spark):
    """A 2-D transform sends exactly its two coordinate columns to Python:
    z = 0 and t = NaN are made in the worker, not shipped as literal
    columns."""
    from proj_spark.stages import apply_transform
    from proj_spark.crs import create
    df = spark.sql("SELECT CAST(doc_id % 360 - 180 AS DOUBLE) AS lon, "
                   "CAST(doc_id % 160 / 2.0 - 40 AS DOUBLE) AS lat "
                   "FROM documents")
    out = apply_transform(df, create("+proj=utm +zone=32 +ellps=GRS80"),
                          "lon", "lat")
    p = plan_of(out)
    assert "ArrowEvalPython" in p
    calls = re.findall(r"\b_udf\(([^)]*)\)", p)
    assert calls
    for args in calls:
        args = [a.strip() for a in args.split(",")]
        assert [a.split("#")[0] for a in args] == ["lon", "lat"], args


def test_dedup_is_partial_agg(spark):
    """Exact dedup must plan a partial (map-side) aggregate before the
    exchange, so the shuffle carries pre-combined rows."""
    from pyspark.sql import functions as F
    df = (spark.table("documents")
          .groupBy(F.xxhash64("text").alias("h"))
          .agg(F.min("doc_id").alias("keep")))
    p = plan_of(df, "simple")
    assert "partial" in p.lower()
    assert "Exchange" in p


def test_simhash_pairs_no_cartesian(spark):
    """SimHash pair generation is a pigeonhole-banded EQUI-join on
    (band, band_value) — 7 bands over 48 bits cover hamming <= 6
    losslessly — never a BroadcastNestedLoop/cartesian theta join
    (textops.simhash_pairs_sql)."""
    from proj_spark import textops
    df = spark.sql(textops.simhash_pairs_sql("spark"))
    plan = plan_of(df)
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan


def test_embedding_near_dup_no_cartesian(spark):
    """Embedding near-dup candidates come from one (band, key) bucket
    aggregation over the signature relation (signatures computed once —
    the former sig-self-join ran the LSH UDF on both sides) with
    in-bucket pair expansion; only verified candidates ever carry
    vectors, and nothing may plan a cartesian."""
    df = querylib.QUERIES["embedding_near_dup"](spark, SF)
    plan = plan_of(df)
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan
    assert "collect_list" in plan


def test_embedding_near_dup_bucket_cap_equivalent(spark, monkeypatch):
    """Buckets above EMB_LSH_BUCKET_CAP route through the spillable
    self-join instead of the single-array expansion (a mega-cluster must
    not materialize K(K-1)/2 pairs in one array value). Forcing the cap
    to 1 sends every real bucket (two or more members) through the join
    path — the emitted pair set must be IDENTICAL to the default
    (array-expansion) path. A cap of 2 would leave the fixture's
    two-member buckets on the array path, which finds every pair."""
    from proj_spark import ann
    base = {tuple(r) for r in
            querylib.QUERIES["embedding_near_dup"](spark, SF).collect()}
    monkeypatch.setattr(ann, "EMB_LSH_BUCKET_CAP", 1)
    capped = {tuple(r) for r in
              querylib.QUERIES["embedding_near_dup"](spark, SF).collect()}
    assert capped == base and len(base) > 0


# numpy UDF -> ArrowEvalPython nodes in the executed plan: one per branch
# of the UDF's input (the probe_recall and near_dup corpora are a union of
# two branches; the query-side probe_cids runs above that union)
UDF_NODES = {
    "ann_ivf_top5": {"assign_cid": 1, "probe_cids": 1},
    "ann_ivf_trained_top5": {"assign_cid": 1, "probe_cids": 1},
    "ann_ivf_probe_recall": {"assign_cid": 2, "probe_cids": 1},
    "embedding_near_dup": {"band_keys": 2},
}


@pytest.mark.parametrize("name", sorted(UDF_NODES))
def test_numpy_udfs_cross_once_per_row(spark, name):
    """Each numpy UDF crosses the Python boundary once per row. A filter
    Catalyst infers from a consumer (size(keys) > 0 from posexplode,
    isnotnull(cid) from the join on cid) and pushes below the projection
    makes ExtractPythonUDFs evaluate the UDF a second time for the
    filter."""
    from collections import Counter
    df = querylib.QUERIES[name](spark, SF)
    df.collect()  # the adaptive plan is final (and reuses exchanges)
    final = plan_of(df, "simple").split("== Initial Plan ==")[0]
    assert "isFinalPlan=true" in final
    nodes = Counter(re.findall(r"ArrowEvalPython \[(\w+)\(", final))
    assert dict(nodes) == UDF_NODES[name]


def test_minhash_single_pass_agg(spark):
    """All 16 MinHash permutation minimums and the shingle count are one
    hash aggregation over the raw shingles (Functions [17], with map-side
    partial_min), band keys are projections, and candidate generation
    stays an equi-join — the cross-join-with-permutations shape (16x
    shuffle volume, two aggregations) must not come back."""
    df = querylib.QUERIES["minhash_lsh_pairs"](spark, SF)
    plan = plan_of(df)
    assert "Functions [17]" in plan
    assert "partial_min" in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan
    # BIGINT minhash values keep the agg a HashAggregate — min(string)
    # buffers would force SortAggregate (a full sort of every shingle row)
    assert "SortAggregate" not in plan
    # the shingle consumers must read the one cached relation, not
    # re-derive shingles from parquet (CTE references defeat the cache)
    assert "InMemoryTableScan" in plan
    # no separate per-document sizes aggregate (it added one scan for n1
    # and one for n2): the cached relation is scanned by the MinHash agg
    # on each side of the band self-join and by the two verify sides
    assert len(re.findall(r"^\(\d+\) InMemoryTableScan", plan, re.M)) == 4


def test_decontam_probe_is_broadcast(spark):
    """The decontamination probe joins the (tiny) eval n-gram set against
    the corpus's map-side n-grams as a BROADCAST hash join — the corpus
    side must never shuffle for candidate generation."""
    from proj_spark import textops
    df = spark.sql(textops.decontam_sql("spark"))
    plan = plan_of(df)
    assert "BroadcastHashJoin" in plan
    assert "CartesianProduct" not in plan


def test_within_radius_join_is_broadcast(spark):
    """The range join's candidate generation is a broadcast equi-join on
    the cell key (small side = city cover cells); the points side must
    not shuffle and no theta/cartesian join may appear."""
    df = querylib.QUERIES["within_radius_join"](spark, SF)
    plan = plan_of(df)
    assert "BroadcastHashJoin" in plan
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "SortMergeJoin" not in plan


def test_within_radius_shuffled_no_broadcast(spark):
    """The both-sides-large variant must NOT broadcast: candidate
    generation is a shuffled hash equi-join on the cell key with a hash
    exchange on each side, and no theta/cartesian join."""
    df = querylib.QUERIES["within_radius_shuffled"](spark, SF)
    plan = plan_of(df)
    assert "BroadcastHashJoin" not in plan
    assert "ShuffledHashJoin" in plan
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    # formatted mode separates node names from Arguments: count the
    # hash-partitioned exchanges feeding the join (one per side)
    assert plan.count("Arguments: hashpartitioning(cell_x") >= 2 \
        or plan.count("hashpartitioning(cell_x") >= 2


def test_salted_agg_two_stage(spark):
    """Explicit salting must produce two aggregation exchanges — one on
    (keys, salt), one on keys — with deterministic (xxhash64) salt, never
    rand()."""
    df = querylib.QUERIES["salted_tile_stats"](spark, SF)
    plan = plan_of(df)
    assert plan.count("Exchange") >= 2
    assert "xxhash64" in plan
    assert "rand(" not in plan
