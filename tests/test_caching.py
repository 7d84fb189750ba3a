"""The engine's one cache: ``session.cached_view`` holds the session
fixtures (pages, shingle sets), one relation per view; operators cache
nothing, so their intermediates live exactly as long as their plan.
"""

from __future__ import annotations

import ast
import os
from collections import Counter

import pytest

from proj_spark import joins, pagesgen, querylib, textops

_ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
SF_A = "/root/testdata/sf0.001"
SF_B = "/root/testdata/sf0.01"


@pytest.fixture(scope="module")
def spark():
    from proj_spark.session import get_spark
    s = get_spark("caching", cpus=2, shuffle_partitions=4)
    s.sparkContext.setLogLevel("ERROR")
    yield s
    s.stop()


def _cached_entries(spark) -> int:
    return spark._jsparkSession.sharedState().cacheManager().numCachedEntries()


def _cache_calls():
    """(file, method) -> count of ``.persist(...)``/``.cache(...)`` calls
    in the engine and the jobs, from their syntax trees."""
    hits = Counter()
    for top in ("proj_spark", "jobs"):
        for d, _, files in os.walk(os.path.join(_ROOT, top)):
            for f in files:
                if not f.endswith(".py"):
                    continue
                path = os.path.join(d, f)
                with open(path, encoding="utf-8") as fh:
                    tree = ast.parse(fh.read())
                for node in ast.walk(tree):
                    if (isinstance(node, ast.Call)
                            and isinstance(node.func, ast.Attribute)
                            and node.func.attr in ("persist", "cache")):
                        hits[(os.path.relpath(path, _ROOT),
                              node.func.attr)] += 1
    return hits


def test_only_session_helper_caches():
    """A cache outside ``session.cached_view`` is a registry that outlives
    its plan; ``localCheckpoint`` (scoped to one call) stays allowed."""
    assert dict(_cache_calls()) == {("proj_spark/session.py", "cache"): 1}


def test_pages_view_keeps_one_relation_across_scales(spark):
    """A session moving between scales keeps one cached pages relation,
    the one its view reads. Registering ``documents`` at another scale
    uncaches the relation built on the old one, so on the way back it is
    built and cached again."""
    spark.catalog.clearCache()
    for sf in (SF_A, SF_B, SF_A):
        pagesgen.ensure_pages_view(spark, sf)
    assert _cached_entries(spark) == 1
    assert spark.catalog.isCached(pagesgen.PAGES_VIEW)


def test_fixture_view_hit_runs_no_job(spark):
    """perfbench's dedup job calls ensure_sh_sets_view every timed job."""
    textops.ensure_sh_sets_view(spark, SF_A)
    sc = spark.sparkContext
    sc.setJobGroup("fixture_hit", "second call")
    try:
        textops.ensure_sh_sets_view(spark, SF_A)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    assert sc.statusTracker().getJobIdsForGroup("fixture_hit") == []
    assert spark.catalog.isCached(textops.SH_SETS_VIEW)


def test_knn_join_leaves_no_cache(spark):
    querylib.register_views(spark, SF_A)
    spark.catalog.clearCache()
    pts = (spark.sql(f"WITH {querylib.IPOINTS_CTE} SELECT * FROM ipoints")
           .selectExpr("pid", "lon_i AS px", "lat_i AS py"))
    qs = spark.sql(f"WITH {querylib.QPOINTS_CTE} SELECT * FROM qpoints")
    for k in (3, 5):
        assert joins.knn_join(spark, qs, pts, k=k).count() > 0
    assert _cached_entries(spark) == 0
