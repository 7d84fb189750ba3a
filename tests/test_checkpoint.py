"""Kill-and-rerun checkpoint semantics: resumed run equals single run."""

from __future__ import annotations

import shutil

import pytest
from pyspark.sql import functions as F

from proj_spark.checkpoint import CheckpointedJob


@pytest.fixture(scope="module")
def spark():
    from proj_spark.session import get_spark
    s = get_spark("test_checkpoint", cpus=4)
    s.sparkContext.setLogLevel("ERROR")
    yield s


def _transform(df):
    # a representative extract->transform stage: tile counts per url bucket
    return df.select(
        "url",
        F.xxhash64("url").alias("h"),
        (F.length("text") % 97).alias("feat"))


def _pages(spark):
    from proj_spark.querylib import register_views
    from proj_spark.pagesgen import build_pages
    register_views(spark, "/root/testdata/sf0.001")
    return build_pages(spark, "/root/testdata/sf0.001").select("url", "text")


def _fingerprint(df):
    return df.agg(F.bit_xor(F.xxhash64(*df.columns))).collect()[0][0], df.count()


def test_kill_and_rerun_equals_single_run(spark, tmp_path):
    pages = _pages(spark)

    # single-shot reference
    ref_dir = str(tmp_path / "single")
    job0 = CheckpointedJob("ref", ref_dir, n_buckets=6, key_col="url",
                           job_desc="extract-v1")
    assert job0.run(pages, _transform, input_path="sf0.001") == 6
    want = _fingerprint(job0.read_output(spark))

    # killed run: only 2 buckets complete, then "crash"
    res_dir = str(tmp_path / "resumed")
    job1 = CheckpointedJob("res", res_dir, n_buckets=6, key_col="url",
                           job_desc="extract-v1")
    assert job1.run(pages, _transform, input_path="sf0.001", max_buckets=2) == 2
    assert len(job1.completed_buckets()) == 2

    # resume with a fresh job object (new process analogue)
    job2 = CheckpointedJob("res", res_dir, n_buckets=6, key_col="url",
                           job_desc="extract-v1")
    assert job2.run(pages, _transform, input_path="sf0.001") == 4  # only the rest
    got = _fingerprint(job2.read_output(spark))
    assert got == want


def test_manifest_lineage_and_metrics(spark, tmp_path):
    pages = _pages(spark)
    job = CheckpointedJob("m", str(tmp_path / "m"), n_buckets=3, key_col="url",
                          job_desc="extract-v1")
    job.run(pages, _transform, input_path="/root/testdata/sf0.001")
    m = job.metrics()
    assert len(m["buckets"]) == 3
    total_in = sum(b["input_rows"] for b in m["buckets"].values())
    total_out = sum(b["output_rows"] for b in m["buckets"].values())
    assert total_in == pages.count()
    assert total_out == total_in  # row-preserving transform
    for b in m["buckets"].values():
        assert b["input_path"] == "/root/testdata/sf0.001"
        assert b["code_version"] == job.code_version
        assert b["wall_s"] >= 0


def test_rerun_is_noop_when_complete(spark, tmp_path):
    pages = _pages(spark)
    job = CheckpointedJob("n", str(tmp_path / "n"), n_buckets=2, key_col="url",
                          job_desc="v1")
    assert job.run(pages, _transform) == 2
    assert job.run(pages, _transform) == 0


def test_empty_bucket_commits(spark, tmp_path):
    """A pending bucket whose rows the transform all drops still commits:
    an empty parquet with the output schema, output_rows 0, hash 0."""
    pages = _pages(spark)

    def drop_bucket_1(df):
        return _transform(df.filter(F.pmod(F.xxhash64("url"), F.lit(3)) != 1))

    job = CheckpointedJob("e", str(tmp_path / "e"), n_buckets=3, key_col="url",
                          job_desc="v1")
    assert job.run(pages, drop_bucket_1) == 3
    b1 = job.metrics()["buckets"]["1"]
    assert b1["input_rows"] > 0
    assert (b1["output_rows"], b1["output_xor_hash"]) == (0, 0)
    assert spark.read.parquet(str(tmp_path / "e" / "bucket=1")).count() == 0
    got = job.read_output(spark)
    assert got.columns == ["url", "h", "feat"]
    assert _fingerprint(got) == _fingerprint(drop_bucket_1(pages))


def test_rerun_clobbers_crash_leftovers(spark, tmp_path):
    """State a kill leaves behind: a half-written _pending.tmp, and a
    bucket dir renamed into place whose manifest entry was never saved."""
    pages = _pages(spark)
    ref = CheckpointedJob("ref", str(tmp_path / "ref"), n_buckets=6,
                          key_col="url", job_desc="v1")
    ref.run(pages, _transform)
    want = _fingerprint(ref.read_output(spark))

    out = tmp_path / "crashed"
    job = CheckpointedJob("c", str(out), n_buckets=6, key_col="url",
                          job_desc="v1")
    assert job.run(pages, _transform, max_buckets=2) == 2
    pending = sorted(set(range(6)) - job.completed_buckets())
    # a valid parquet of the wrong rows: counted if it were not clobbered
    shutil.copytree(out / f"bucket={min(job.completed_buckets())}",
                    out / f"bucket={pending[0]}")
    junk = out / "_pending.tmp" / f"_bucket={pending[1]}"
    junk.mkdir(parents=True)
    (junk / "part-00000.parquet").write_bytes(b"not parquet")
    (out / "_pending.tmp" / "_SUCCESS").write_bytes(b"")

    rerun = CheckpointedJob("c", str(out), n_buckets=6, key_col="url",
                            job_desc="v1")
    assert rerun.run(pages, _transform) == 4
    assert not (out / "_pending.tmp").exists()
    assert _fingerprint(rerun.read_output(spark)) == want


def test_one_pass_job_count_independent_of_buckets(spark, tmp_path):
    """All pending buckets share one scan, one write and one read-back, so
    the number of Spark jobs does not grow with n_buckets."""
    pages = _pages(spark)
    sc = spark.sparkContext
    jobs = {}
    try:
        for n in (2, 6):
            group = f"ckpt_jobs_{n}"
            sc.setJobGroup(group, "checkpoint job count")
            job = CheckpointedJob("j", str(tmp_path / f"j{n}"), n_buckets=n,
                                  key_col="url", job_desc="v1")
            assert job.run(pages, _transform) == n
            jobs[n] = len(sc.statusTracker().getJobIdsForGroup(group))
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    assert jobs[2] == jobs[6] > 0


@pytest.mark.parametrize("bad", [
    lambda df: _transform(df).drop("url"),
    lambda df: _transform(df).withColumn("_bucket", F.lit(0)),
], ids=["drops_key_col", "has_bucket_col"])
def test_transform_contract_violation_commits_nothing(spark, tmp_path, bad):
    out = tmp_path / "bad"
    job = CheckpointedJob("b", str(out), n_buckets=2, key_col="url",
                          job_desc="v1")
    with pytest.raises(ValueError, match="url"):
        job.run(_pages(spark), bad)
    assert job.completed_buckets() == set()
    assert list(out.iterdir()) == []
