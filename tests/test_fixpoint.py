"""pinning.fixpoint: the one convergence loop behind star-alternation
CC and Bellman-Ford. It stops on the first round that
flags no row, raises at its round cap, and keeps the returned frame's
lineage one round deep for any round count."""

from __future__ import annotations

import re

import pytest
from pyspark.sql import functions as F

from scripts.check_correctness import canon_rows, run_duckdb
from supabase_etl_spark.operators import cc
from supabase_etl_spark.pinning import fixpoint
from supabase_etl_spark.queries import analytics, load_all

SF = "/root/testdata/sf0.001"


def _countdown(spark, start: int):
    """Rows (id, x) for x = 0..start; a step lowers every positive x by
    one, so the fixpoint (all zero) takes start + 1 rounds, the last
    one changing nothing."""
    return spark.createDataFrame([(i, i) for i in range(start + 1)], "id long, x long")


def _down(df):
    return df.select(
        "id",
        F.greatest(F.col("x") - 1, F.lit(0)).alias("x"),
        (F.col("x") > 0).alias("chg"),
    )


def test_converges_and_drops_the_flag(spark):
    rounds = []

    def step(df):
        rounds.append(1)
        return _down(df)

    out = fixpoint(_countdown(spark, 5), step, max_rounds=10, what="countdown")
    assert out.columns == ["id", "x"]
    assert sorted(tuple(r) for r in out.collect()) == [(i, 0) for i in range(6)]
    assert len(rounds) == 6


def test_raises_at_max_rounds_with_what_and_changing_rows(spark):
    # round 1 flags x = 1..5, round 2 flags the four rows still positive
    msg = r"countdown: .* 2 rounds \(4 rows still changing\)"
    with pytest.raises(RuntimeError, match=msg):
        fixpoint(_countdown(spark, 5), _down, max_rounds=2, what="countdown")


def test_lineage_is_bounded_in_rounds(spark):
    def analyzed(start: int) -> str:
        out = fixpoint(_countdown(spark, start), _down, max_rounds=40, what="countdown")
        # expression ids grow with every plan built; their digits are not lineage
        return re.sub(r"#\d+", "#", out._jdf.queryExecution().analyzed().toString())

    assert len(analyzed(2)) == len(analyzed(29))  # 3 rounds against 30


def test_star_cc_raises_below_its_round_need(spark, monkeypatch):
    nodes = spark.createDataFrame([(i,) for i in range(200)], "node long")
    edges = spark.createDataFrame([(i, i + 1) for i in range(199)], "src long, dst long")
    monkeypatch.setattr(cc, "DRIVER_CC_MAX_EDGES", 0)  # the round-capped path
    monkeypatch.setattr(cc, "CC_MAX_ROUNDS", 3)  # a 200-chain takes 9
    with pytest.raises(RuntimeError, match="star alternation"):
        cc.connected_components(nodes, edges).collect()


@pytest.mark.parametrize("sf", [SF], ids=["sf0.001"])
def test_bellman_ford_matches_oracle(spark, sf):
    spec = load_all()["graph_sssp_bellman_ford"]
    sdf = spec.fn(spark, sf)
    rows = [tuple(r) for r in sdf.collect()]
    sc, sr = canon_rows(sdf.columns, rows)
    dc, dr = canon_rows(*run_duckdb(spec.oracle, sf))
    assert sc == dc
    assert sr == dr
    # the source plus at least one nation it trades with: a match on
    # all-NULL distances would relax no edge and prove nothing
    assert sum(dist is not None for _, dist in rows) > 1


def test_bellman_ford_raises_below_its_round_need(spark, monkeypatch):
    monkeypatch.setattr(analytics, "SSSP_MAX_ROUNDS", 1)
    with pytest.raises(RuntimeError, match="Bellman-Ford"):
        analytics.graph_sssp_bellman_ford(spark, SF).collect()
