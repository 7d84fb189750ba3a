"""connected_components vs a pure-Python union-find on adversarial graphs."""

import re

import pytest

from proj_spark.graph import connected_components


def _uf_components(n_ids, edge_list):
    parent = {i: i for i in n_ids}

    def find(x):
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in edge_list:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    return {i: find(i) for i in n_ids}


@pytest.fixture(scope="module")
def spark():
    from proj_spark.session import get_spark
    s = get_spark("test_graph", cpus=4)
    s.sparkContext.setLogLevel("ERROR")
    yield s


CASES = {
    # long chain: worst case for plain label propagation (diameter = n)
    "chain": (list(range(30)), [(i, i + 1) for i in range(29)]),
    # star with the hub NOT the minimum
    "star": ([5, 10, 11, 12, 13, 1], [(10, 5), (11, 5), (12, 5), (13, 5), (1, 5)]),
    # two cliques + isolated nodes
    "cliques": (list(range(12)),
                [(a, b) for a in range(4) for b in range(4) if a < b]
                + [(a, b) for a in range(5, 9) for b in range(5, 9) if a < b]),
    # self-loops and duplicate/reversed edges
    "messy": ([1, 2, 3, 4], [(1, 1), (2, 1), (1, 2), (3, 4), (4, 3), (3, 3)]),
    "empty": ([7, 8, 9], []),
}


def _graph(spark, name):
    ids, edge_list = CASES[name]
    nodes = spark.createDataFrame([(i,) for i in ids], "id long")
    edges = spark.createDataFrame(edge_list or [(0, 0)], "u long, v long")
    if not edge_list:
        edges = edges.filter("u < 0")
    return nodes, edges


@pytest.mark.parametrize("name", sorted(CASES))
def test_components_match_union_find(spark, name):
    got = {r["id"]: r["component"]
           for r in connected_components(*_graph(spark, name)).collect()}
    assert got == _uf_components(*CASES[name])


def test_round_cap_raises(spark):
    """Running out of rounds before convergence is an error, not a
    silently wrong component map."""
    nodes, edges = _graph(spark, "chain")
    with pytest.raises(RuntimeError, match="max_rounds=1"):
        connected_components(nodes, edges, max_rounds=1)


@pytest.mark.parametrize("name", ["chain", "cliques"])
def test_convergence_check_is_not_a_separate_action(spark, name):
    """The per-round checksum is observed inside the round's checkpoint
    action: no Spark job of the loop is a driver collect."""
    sc = spark.sparkContext
    group = f"cc_job_shape_{name}"
    nodes, edges = _graph(spark, name)
    sc.setJobGroup(group, group)
    try:
        comp = connected_components(nodes, edges)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    st = sc.statusTracker()
    jobs = st.getJobIdsForGroup(group)
    assert jobs
    names = [st.getStageInfo(s).name for j in jobs
             for s in st.getJobInfo(j).stageIds]
    assert not [n for n in names
                if re.match(r"collect at .*proj_spark[/\\]graph\.py", n)], names
    got = {r["id"]: r["component"] for r in comp.collect()}
    assert got == _uf_components(*CASES[name])
