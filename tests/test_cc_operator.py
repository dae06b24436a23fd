"""Connected components (operators/cc.py): both paths of the size
switch, driver union-find and the star-alternation fixpoint, must label
long chains, cliques, isolated nodes, and forests exactly and alike, in
the unit graphs here and in every registry query that labels through
the operator."""

from __future__ import annotations

import random

import pytest

from conftest import SF_SMOKE, registry_sweep_params

from scripts.check_correctness import canon_rows
from supabase_etl_spark.operators import cc
from supabase_etl_spark.operators.cc import CC_MAX_ROUNDS, connected_components
from supabase_etl_spark.queries import load_all

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
    # a 200-node chain: one-hop-per-round propagation would need 199
    # rounds; star alternation measures 9 and must stay inside the bound
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
    """``connected_components`` and its member table give identical
    labels, with identical column types, under the driver union-find
    and the distributed fixpoint; ``bounded`` says which path ran."""
    node_ids, edge_pairs = GRAPHS[graph]
    nodes, edges = _frames(spark, node_ids, edge_pairs)
    endpoints = {x for a, b in edge_pairs if a != b for x in (a, b)}
    got = {}
    for path, cap in PATHS.items():
        monkeypatch.setattr(cc, "DRIVER_CC_MAX_EDGES", cap)
        members, bounded = cc.component_members(edges)
        # no non-self edge is within any cap: the driver labels it
        assert bounded == (path == "driver" or not endpoints)
        got[path] = [
            ([f.dataType for f in df.schema], sorted(tuple(r) for r in df.collect()))
            for df in (connected_components(nodes, edges), members)
        ]
    assert got["driver"] == got["distributed"]
    (_, cc_rows), (_, member_rows) = got["driver"]
    assert [r[0] for r in cc_rows] == sorted(node_ids)
    # the members are exactly the endpoints of the non-self edges
    assert {r[0] for r in member_rows} == endpoints
    assert set(member_rows) <= set(cc_rows)


def test_driver_path_labels_start_no_python_worker(spark):
    """The driver path's labels are an Arrow-built LocalTableScan: no
    PythonRDD anywhere in the plan's RDD lineage, so reading them starts
    no Python worker (a ``createDataFrame(list)`` frame would)."""
    from pyspark.sql import functions as F

    nodes = spark.range(50).select(F.col("id").alias("node"))
    edges = spark.range(40).select(
        F.col("id").alias("src"), (F.col("id") % 7).alias("dst")
    )
    qe = connected_components(nodes, edges)._jdf.queryExecution()
    assert "LocalTableScan" in qe.executedPlan().toString()
    assert "PythonRDD" not in qe.toRdd().toDebugString()


# every registry query that labels through operators/cc.py; as in the
# registry sweeps, only the bench-set ones run in the default tier
CC_CALLERS = [
    "corpus_curate",
    "dedup_clusters",
    "dedup_pipeline_end_to_end",
    "embedding_dbscan_grid",
    "events_identity_stitching",
    "multimodal_audio_dedup_pipeline_e2e",
    "multimodal_dedup_pipeline_e2e",
    "multimodal_video_dedup_pipeline_e2e",
    "split_leakage_safe",
]


@pytest.mark.parametrize("name", registry_sweep_params(CC_CALLERS))
def test_registry_callers_agree_on_both_paths(spark, name, monkeypatch):
    """Each CC caller's rows at sf0.001 are the same under the driver
    union-find and, with the edge cap at 0, under the star fixpoint
    inside the real query plan; the committed data never crosses the
    cap, so this is where the distributed path meets real queries."""
    spec = load_all()[name]
    got = {}
    for path, cap in PATHS.items():
        monkeypatch.setattr(cc, "DRIVER_CC_MAX_EDGES", cap)
        df = spec.fn(spark, SF_SMOKE)
        got[path] = canon_rows(df.columns, [tuple(r) for r in df.collect()])
        spark.catalog.clearCache()
    assert got["driver"] == got["distributed"]
