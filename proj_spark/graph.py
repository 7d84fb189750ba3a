"""Distributed connected components — the dedup-clustering step.

Near-dup pair lists (MinHash-LSH, SimHash, embedding-LSH) only give EDGES;
choosing one canonical document per duplicate CLUSTER needs the connected
components of that pair graph. At web scale the graph has billions of
nodes, so this is the alternating large-star/small-star algorithm
(Kiveris et al., "Connected Components in MapReduce and Beyond", SoCC'14):
every round is two shuffle-by-node aggregations, converges in O(log n)
rounds even on pathological chain graphs (plain min-label propagation
needs O(diameter) rounds), and at convergence the edge set IS the
component map (every node points at its component's minimum id).

Scale notes (100 TB): each round shuffles the current edge set keyed by
node — no broadcast, no driver-side state besides the convergence
checksum (2 longs). Lineage is truncated every round with an eager
localCheckpoint; without it the plan doubles per iteration. The checksum
is observed (an unnamed Observation after the round's final distinct)
inside that checkpoint action, so a round is ONE Spark action. Duplicate
clusters shrink the edge set monotonically toward one edge per non-root
node, so later rounds are cheaper than earlier ones. Skew: a mega-cluster
(boilerplate page duplicated everywhere) turns into a hot root key; the
groupBy min is a partial (map-side) aggregation, so the hot key reduces
to one row per partition before the shuffle.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Observation, functions as F


def _canon(edges: DataFrame) -> DataFrame:
    """Drop self-loops, order every edge (hi, lo), dedup."""
    return (edges.selectExpr("greatest(u, v) AS u", "least(u, v) AS v")
                 .where("u != v").distinct())


def _large_star(edges: DataFrame) -> DataFrame:
    """(v, m) for every neighbor v > u, where m = min(N(u) + {u})."""
    sym = edges.unionByName(edges.selectExpr("v AS u", "u AS v"))
    mins = sym.groupBy("u").agg(F.expr("least(min(v), first(u)) AS m"))
    return sym.join(mins, "u").where("v > u").selectExpr("v AS u", "m AS v")


def _small_star(edges: DataFrame) -> DataFrame:
    """(v, m) for every neighbor v <= u plus (u, m), m = min(N<=(u) + {u})."""
    ordered = _canon(edges)  # (u, v) with v < u
    mins = ordered.groupBy("u").agg(F.expr("min(v) AS m"))
    moved = ordered.join(mins, "u").selectExpr("v AS u", "m AS v")
    return moved.unionByName(mins.selectExpr("u", "m AS v"))


def _checkpoint(edges: DataFrame) -> tuple:
    """Materialize the canonical edge set; its order-insensitive
    fingerprint (count, xxhash64 sum) is observed in the same action."""
    obs = Observation()
    cur = _canon(edges).observe(
        obs, F.expr("count(1) AS n"),
        F.expr("sum(CAST(xxhash64(u, v) AS DECIMAL(38,0))) AS h"),
    ).localCheckpoint(eager=True)
    return cur, tuple(obs.get.values())


def connected_components(nodes: DataFrame, edges: DataFrame,
                         max_rounds: int = 25) -> DataFrame:
    """Component id (minimum member id) for every node.

    nodes: one column ``id`` (long) — every vertex, including isolated ones.
    edges: columns ``u``, ``v`` (long) — undirected pair list.
    Returns (id, component); isolated nodes map to themselves. Raises
    RuntimeError if the edge set has not converged after ``max_rounds``.
    """
    cur, prev_sum = _checkpoint(edges)
    for _ in range(max_rounds):
        cur, cur_sum = _checkpoint(_small_star(_large_star(cur)))
        if cur_sum == prev_sum:
            break
        prev_sum = cur_sum
    else:
        raise RuntimeError(
            f"connected_components did not converge in max_rounds={max_rounds}")
    # at convergence every edge is (member, root); roots map to themselves
    membership = cur.selectExpr("u AS id", "v AS component")
    return (nodes.join(membership, "id", "left")
                 .selectExpr("id", "coalesce(component, id) AS component"))
