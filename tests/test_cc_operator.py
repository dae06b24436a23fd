"""Connected components (operators/cc.py): both paths of the size
switch, driver union-find and the star-alternation fixpoint, must label
long chains, cliques, isolated nodes, and forests exactly and alike."""

from __future__ import annotations

import random

import pytest

from supabase_etl_spark.operators import cc
from supabase_etl_spark.operators.cc import CC_MAX_ROUNDS, connected_components

# the edge cap each path runs under: 0 sends every edge list to the fixpoint
PATHS = {"driver": cc.DRIVER_CC_MAX_EDGES, "distributed": 0}


def _frames(spark, node_ids, edge_pairs):
    nodes = spark.createDataFrame([(n,) for n in node_ids], "node long")
    edges = spark.createDataFrame(
        [(a, b) for a, b in edge_pairs] or [(None, None)], "src long, dst long"
    )
    if not edge_pairs:
        edges = edges.filter("src IS NOT NULL")
    return nodes, edges


def _cc(spark, node_ids, edge_pairs):
    """{node: component} on both paths; they must agree."""
    nodes, edges = _frames(spark, node_ids, edge_pairs)
    got = {}
    for path, cap in PATHS.items():
        with pytest.MonkeyPatch.context() as mp:
            mp.setattr(cc, "DRIVER_CC_MAX_EDGES", cap)
            out = connected_components(nodes, edges).collect()
        got[path] = {r["node"]: r["component"] for r in out}
    assert got["driver"] == got["distributed"]
    return got["driver"]


def test_long_chain_labels_min(spark):
    # a 200-node chain: min-label propagation would need 199 rounds;
    # star alternation measures 9 and must stay inside the round bound
    n = 200
    got = _cc(spark, range(n), [(i, i + 1) for i in range(n - 1)])
    assert got == {i: 0 for i in range(n)}


def test_two_components_and_isolated(spark):
    got = _cc(spark, [1, 2, 3, 10, 11, 99], [(2, 1), (2, 3), (11, 10)])
    assert got == {1: 1, 2: 1, 3: 1, 10: 10, 11: 10, 99: 99}


def test_clique_and_duplicate_edges(spark):
    edges = [(a, b) for a in range(5, 9) for b in range(5, 9) if a != b]
    got = _cc(spark, range(5, 9), edges + edges)
    assert got == {i: 5 for i in range(5, 9)}


def test_no_edges_all_isolated(spark):
    got = _cc(spark, [7, 8, 9], [])
    assert got == {7: 7, 8: 8, 9: 9}


def test_round_bound_is_generous(spark):
    # ring of 64: diameter 32; star alternation needs ~7 rounds, far
    # inside CC_MAX_ROUNDS
    n = 64
    edges = [(i, (i + 1) % n) for i in range(n)]
    got = _cc(spark, range(n), edges)
    assert set(got.values()) == {0}
    assert CC_MAX_ROUNDS >= 20


def _random_graph(seed: int):
    rng = random.Random(seed)
    n = 120
    return range(n), [(rng.randrange(n), rng.randrange(n)) for _ in range(90)]


GRAPHS = {
    "random_1": _random_graph(1),
    "random_2": _random_graph(2),
    "chain_200": (range(200), [(i, i + 1) for i in range(199)]),
    "duplicates_and_self_loops": (
        range(10),
        [(1, 2), (2, 1), (1, 2), (3, 3), (4, 5), (5, 5), (5, 4), (9, 9)],
    ),
    "empty": ([1, 2, 3], []),
    "one_node": ([7], [(7, 7)]),
}


@pytest.mark.parametrize("graph", list(GRAPHS))
def test_driver_and_distributed_paths_agree(spark, graph, monkeypatch):
    """Both CC entry points give identical labels, with identical
    column types, under the driver union-find and the distributed
    fixpoint. Min-label skips the 200-chain: its 199 hops exceed
    MAX_PROPAGATION_ROUNDS by design (test_fixpoint covers the raise)."""
    node_ids, edge_pairs = GRAPHS[graph]
    nodes, edges = _frames(spark, node_ids, edge_pairs)
    pairs = edges.select(edges.src.alias("ida"), edges.dst.alias("idb"))
    got = {}
    for path, cap in PATHS.items():
        monkeypatch.setattr(cc, "DRIVER_CC_MAX_EDGES", cap)
        frames = [connected_components(nodes, edges)]
        if graph != "chain_200":
            frames.append(cc._min_label_fixpoint_members(pairs))
        got[path] = [
            ([f.dataType for f in df.schema], sorted(tuple(r) for r in df.collect()))
            for df in frames
        ]
    assert got["driver"] == got["distributed"]
    star_rows = got["driver"][0][1]
    assert [r[0] for r in star_rows] == sorted(node_ids)
    if graph != "chain_200":  # the members are exactly the pair endpoints
        member_rows = got["driver"][1][1]
        assert {r[0] for r in member_rows} == {x for e in edge_pairs for x in e}


def test_driver_path_labels_start_no_python_worker(spark):
    """The driver path's labels are an Arrow-built LocalTableScan: no
    PythonRDD anywhere in the plan's RDD lineage, so reading them starts
    no Python worker (a ``createDataFrame(list)`` frame would)."""
    from pyspark.sql import functions as F

    nodes = spark.range(50).select(F.col("id").alias("node"))
    edges = spark.range(40).select(
        F.col("id").alias("src"), (F.col("id") % 7).alias("dst")
    )
    pairs = edges.select(F.col("src").alias("ida"), F.col("dst").alias("idb"))
    for df in (connected_components(nodes, edges), cc._min_label_fixpoint_members(pairs)):
        qe = df._jdf.queryExecution()
        assert "LocalTableScan" in qe.executedPlan().toString()
        assert "PythonRDD" not in qe.toRdd().toDebugString()
