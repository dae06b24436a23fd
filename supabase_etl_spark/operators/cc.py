"""Connected components by large-star/small-star alternation —
O(log² n) rounds (Kiveris et al. 2014, "Connected Components in
MapReduce and Beyond"; observed ~log n).

The repo's other CC (queries/llm_dedup._min_label_fixpoint) propagates
min labels one hop per round: perfect for near-clique dedup graphs
(diameter 2-3), linear-round on long chains. Naive min-label CONTRACTION
is no better on paths — it strips one node per round (a 200-chain
measured ~200 rounds). Star alternation is the proven fix:

* large-star: every node u routes its LARGER neighbors to m(u) =
  min(N(u) ∪ {u}) — long tails fold toward minima without breaking
  connectivity;
* small-star: every node u re-attaches its smaller-or-equal neighbors
  (and itself) to the minimum among them — flattening the trees built
  by large-star into stars.

At the fixpoint every component is a single star centered at its
minimum node, so the label is just least(u, min neighbor). A 200-chain
converges in 9 rounds, a 64-ring in 7, cliques in 2.

Per round: two groupBy-min passes + joins, all edge-sized shuffles;
an eager pin truncates lineage so round plans stay constant-depth,
and the driver loop iterates over plans, never rows (the convergence
check — edge set unchanged — is the loop condition).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from supabase_etl_spark.pinning import pin

CC_MAX_ROUNDS = 60  # ~log²(n) needed in theory, ~log n observed


def _large_star(e: DataFrame) -> DataFrame:
    """edges (a<b) -> large-star edges (m(u), v) for every directed
    (u, v) with v > u, where m(u) = min over u's closed neighborhood."""
    directed = e.select(F.col("a").alias("u"), F.col("b").alias("v")).unionByName(
        e.select(F.col("b").alias("u"), F.col("a").alias("v"))
    )
    m = directed.groupBy("u").agg(F.least(F.min("v"), F.first("u")).alias("m"))
    return (
        directed.join(m, "u")
        .filter(F.col("v") > F.col("u"))
        .select(F.col("m").alias("a"), F.col("v").alias("b"))  # m <= u < v
        .filter(F.col("a") != F.col("b"))
        # no .distinct() here (r14): the output feeds _small_star, whose
        # groupBy-min absorbs duplicates map-side and whose own final
        # distinct dedups the round — the extra exchange bought nothing
        # (A/B on multimodal_video_dedup_pipeline_e2e: 2.77->2.34 s)
    )


def _small_star(e: DataFrame) -> DataFrame:
    """edges (a<b) -> small-star edges: every node u re-attaches its
    smaller neighbors and itself to mn(u) = min of those neighbors."""
    # directed (u, v) with v < u: for pairs a<b that's (b, a)
    small = e.select(F.col("b").alias("u"), F.col("a").alias("v"))
    mn = small.groupBy("u").agg(F.min("v").alias("mn"))
    reattached = (
        small.join(mn, "u")
        .filter(F.col("v") != F.col("mn"))
        .select(F.col("mn").alias("a"), F.col("v").alias("b"))
    )
    selfedge = mn.select(F.col("mn").alias("a"), F.col("u").alias("b"))
    return (
        reattached.unionByName(selfedge)
        .select(F.least("a", "b").alias("a"), F.greatest("a", "b").alias("b"))
        .filter(F.col("a") != F.col("b"))
        .distinct()
    )


def connected_components(nodes: DataFrame, edges: DataFrame) -> DataFrame:
    """(node) x (src, dst) -> (node, component) where component is the
    MINIMUM node id of the node's component (isolated nodes map to
    themselves). ``nodes`` must cover every endpoint; undirected input
    (each edge listed once in either direction).

    Raises RuntimeError if the alternation has not reached its star
    fixpoint within CC_MAX_ROUNDS — an unconverged result would
    silently mislabel components."""
    e = pin(
        edges.select(
            F.least("src", "dst").alias("a"), F.greatest("src", "dst").alias("b")
        )
        .filter(F.col("a") != F.col("b"))
        .distinct()
    )
    for _ in range(CC_MAX_ROUNDS):
        # eager round pin (r14, the LPA/fixpoint finding): a LAZY pin
        # here defers its final stage into the next consumer, and every
        # nested AQE materialization job re-ran the deferred upstream
        # chain with fresh stage ids — observed as 3->7-stage 1-task
        # recompute chains per round. Eager materializes the round once,
        # cleanly; the convergence aggregate then reads cached blocks
        # (multimodal_video e2e A/B: 4.51->2.77 s, 54->45 stages).
        new_e = pin(_small_star(_large_star(e)), eager=True)
        # fixpoint: the edge set is unchanged. r13 (guide §1.2): the old
        # check cost THREE sequential actions per round (eager pin +
        # count + exceptAll count); both sides are deduped sorted pairs
        # (sets), so set equality is ONE tagged aggregate — +1/-1 per
        # side, any group summing non-zero is a difference.
        diff = (
            new_e.select("a", "b", F.lit(1).alias("t"))
            .unionByName(e.select("a", "b", F.lit(-1).alias("t")))
            .groupBy("a", "b")
            .agg(F.sum("t").alias("d"))
            .filter(F.col("d") != 0)
        )
        if diff.limit(1).count() == 0:
            # fixpoint graph is one star per component, centered at the
            # component min: label = least(self, min neighbor)
            directed = new_e.select(
                F.col("a").alias("node"), F.col("b").alias("nbr")
            ).unionByName(new_e.select(F.col("b").alias("node"), F.col("a").alias("nbr")))
            lbl = directed.groupBy("node").agg(
                F.least(F.min("nbr"), F.first("node")).alias("component")
            )
            return nodes.join(lbl, "node", "left").select(
                "node", F.coalesce("component", "node").alias("component")
            )
        e = new_e
    raise RuntimeError(
        f"connected_components: star alternation not converged in {CC_MAX_ROUNDS} rounds"
    )
