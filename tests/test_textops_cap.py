"""df-cap for the exact n-gram Jaccard inverted index (round-2 VERDICT
item 5): shingles hotter than df_cap are dropped from candidate
generation only, bounding join fanout by K * postings (linear in corpus
size) while the Jaccard of every surviving pair stays exact over the
full shingle sets. The engine side is ``textops.ngram_jaccard_df`` (what
``ngram_jaccard_pairs`` runs), checked against its DuckDB oracle.
"""

import duckdb
import pytest

from proj_spark import textops

SF_DIR = "/root/testdata/sf0.01"


@pytest.fixture(scope="module")
def spark():
    from proj_spark.session import get_spark
    from proj_spark import querylib
    s = get_spark("test_textops_cap", cpus=8)
    querylib.register_views(s, SF_DIR)
    textops.ensure_sh_sets_view(s, SF_DIR)
    return s


@pytest.fixture(scope="module")
def duck():
    con = duckdb.connect()
    con.execute("CREATE VIEW documents AS SELECT * FROM "
                f"read_parquet('{SF_DIR}/documents.parquet')")
    return con


def _engine_rows(spark, df_cap):
    return sorted(tuple(r) for r in
                  textops.ngram_jaccard_df(spark, df_cap=df_cap).collect())


def _oracle_rows(duck, df_cap):
    return sorted(tuple(r) for r in
                  duck.execute(textops.ngram_jaccard_sql(df_cap)).fetchall())


def test_capped_equals_uncapped_at_test_scale(spark, duck):
    capped = _engine_rows(spark, 64)
    assert capped == _oracle_rows(duck, None)
    assert len(capped) > 0


def test_cap_engages_when_tiny(spark):
    # df_cap=1 keeps only df==1 shingles, which by definition appear in a
    # single doc -> no candidate can form -> zero pairs. Demonstrates the
    # cap actually filters candidate generation.
    assert _engine_rows(spark, 1) == []


def test_surviving_pairs_keep_exact_jaccard(spark, duck):
    # cross-engine: duckdb replays the capped rule; values (not just
    # counts) must agree, proving the intersection runs over FULL sets
    assert _engine_rows(spark, 64) == _oracle_rows(duck, 64)


def test_no_cartesian_in_capped_plan(spark):
    plan = (textops.ngram_jaccard_df(spark, df_cap=64)
            ._jdf.queryExecution().executedPlan().toString())
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
