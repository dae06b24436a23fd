"""Connected components: one operator, one size switch.

``component_members`` labels a graph. It pins the deduplicated edge
list (each undirected edge once as least/greatest, self-edges dropped)
and probes it once with ``limit(DRIVER_CC_MAX_EDGES + 1)``, collected
through Arrow.

* **At or below the cap** the driver labels the graph: union-find over
  the collected edges, the smaller id always the root, so a label is
  the minimum id in its component, exactly as on the distributed path.
  The labels come back as an Arrow-built local frame (a LocalTableScan,
  which starts no Python worker). One probe job replaces the
  fixpoint's one-job-per-round.
* **Above the cap** ``pinning.fixpoint`` runs large-star/small-star
  alternation over the same pinned edge list, which the probe has
  materialized: O(log² n) rounds (Kiveris et al. 2014, "Connected
  Components in MapReduce and Beyond"; observed ~log n). A 200-chain
  converges in 9 rounds, a 64-ring in 7, cliques in 2.

``connected_components`` attaches those labels to a node frame by a
left join, broadcast when the driver built them, each unlabeled node
its own label. The dedup pipelines attach the member table to their
own frame instead.

The cap. Driver path against the star fixpoint on synthetic graphs,
4 cores, one warm JVM, labels written to the noop sink (median of 3 at
10k and 100k edges, one run elsewhere); chain-plus-random is a chain
over a quarter of the nodes plus random edges, 4-cliques are six edges
per four nodes (diameter 1, the fixpoint's best case, and the shape of
the near-clique dedup pair graphs):

    edges        chain-plus-random         4-cliques
                 driver    fixpoint        driver    fixpoint
    1,000        0.48 s     5.08 s         0.87 s     2.91 s
    10,000       0.91 s     8.09 s
    100,000      1.06 s    11.33 s
    200,000      2.67 s    11.72 s         3.27 s     6.43 s
    500,000                                4.00 s     9.26 s
    1,000,000    6.05 s    25.34 s         6.35 s    12.98 s
    2,000,000   10.91 s    39.74 s        11.30 s    17.89 s

The driver path wins at every measured size: on 4 cores there is no
crossover below 2M edges. Past ~1M edges both walls grow by ~5 s per
million edges, and the driver's share is single-threaded: union-find
plus the frame build take 0.40 s at 200k edges, 2.26 s at 1M and
4.73 s at 2M, reading the labels back 0.48 / 1.78 / 3.15 s, and the
driver's RSS grows by 30 / 150 / 300 MiB. A cluster with more cores
than this box speeds up the fixpoint and not the driver, so the cap
sits at 200k edges, where the driver's own work stays under a second
and the fixpoint already costs 2-4x the driver path. The committed
callers top out at 12,914 edges (embedding_dbscan_grid, sf0.1),
2,876 (events_identity_stitching) and 256 (the Jaccard callers).
"""

from __future__ import annotations

import numpy as np
import pyarrow as pa
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from supabase_etl_spark.operators.joins import broadcast_bounded
from supabase_etl_spark.pinning import fixpoint, pin

CC_MAX_ROUNDS = 60  # ~log²(n) needed in theory, ~log n observed
DRIVER_CC_MAX_EDGES = 200_000  # union-find on the driver at or below this


def _driver_labels(e: DataFrame) -> DataFrame | None:
    """(node, component) for every endpoint of the two-column edge
    list ``e``, component = the minimum id in the node's component, or
    None when ``e`` holds more than DRIVER_CC_MAX_EDGES rows. One
    ``limit`` probe collected through Arrow (a list over the cap ships
    cap + 1 rows), then union-find on the driver over the sorted
    distinct ids, the smaller id always the root. The frame is built
    from Arrow, so it plans as a LocalTableScan that no Python worker
    reads."""
    t = e.limit(DRIVER_CC_MAX_EDGES + 1).toArrow()
    if t.num_rows > DRIVER_CC_MAX_EDGES:
        return None
    a, b = (t.column(i).to_numpy(zero_copy_only=False) for i in (0, 1))
    ids, idx = np.unique(np.concatenate([a, b]), return_inverse=True)
    parent = list(range(len(ids)))

    def find(x: int) -> int:
        while parent[x] != x:
            parent[x] = x = parent[parent[x]]  # path halving
        return x

    m = len(a)
    for u, v in zip(idx[:m].tolist(), idx[m:].tolist()):
        u, v = find(u), find(v)
        if u < v:
            parent[v] = u
        elif v < u:
            parent[u] = v
    # every parent index is <= its child's, so one ascending pass
    # leaves each entry pointing at its root
    for x in range(len(parent)):
        parent[x] = parent[parent[x]]
    typ = t.schema.field(0).type
    return e.sparkSession.createDataFrame(
        pa.table(
            {
                "node": pa.array(ids, typ),
                "component": pa.array(ids[np.asarray(parent, dtype=np.int64)], typ),
            }
        )
    )


def _large_star(e: DataFrame) -> DataFrame:
    """edges (a<b) -> large-star edges (m(u), v) for every directed
    (u, v) with v > u, where m(u) = min over u's closed neighborhood.
    ``chg`` flags an edge whose endpoint moved (m(u) != u)."""
    directed = e.select(F.col("a").alias("u"), F.col("b").alias("v")).unionByName(
        e.select(F.col("b").alias("u"), F.col("a").alias("v"))
    )
    m = directed.groupBy("u").agg(F.least(F.min("v"), F.first("u")).alias("m"))
    return (
        directed.join(m, "u")
        .filter(F.col("v") > F.col("u"))
        .select(
            F.col("m").alias("a"),  # m <= u < v
            F.col("v").alias("b"),
            (F.col("m") != F.col("u")).alias("chg"),
        )
        # no dedup here (r14): the output feeds _small_star, whose
        # groupBy-min absorbs duplicates map-side and whose own final
        # aggregate dedups the round — the extra exchange bought nothing
        # (A/B on multimodal_video_dedup_pipeline_e2e: 2.77->2.34 s)
    )


def _small_star(e: DataFrame) -> DataFrame:
    """edges (a<b, chg) -> small-star edges: every node u re-attaches
    its smaller neighbors and itself to mn(u) = min of those neighbors.
    Each input edge (v, u) maps to one output edge: a re-attached
    (mn(u), v), flagged, or for v = mn(u) the self-edge (mn(u), u),
    which keeps the input's flag so a change made by _large_star is
    not lost when small-star leaves the edge where it is."""
    # directed (u, v) with v < u: for pairs a<b that's (b, a)
    small = e.select(F.col("b").alias("u"), F.col("a").alias("v"), "chg")
    mn = small.groupBy("u").agg(F.min("v").alias("mn"))
    stays = F.col("v") == F.col("mn")
    return (
        small.join(mn, "u")
        .select(
            F.col("mn").alias("a"),  # mn < u and mn <= v: a < b
            F.when(stays, F.col("u")).otherwise(F.col("v")).alias("b"),
            (F.col("chg") | ~stays).alias("chg"),
        )
        .groupBy("a", "b")
        .agg(F.max("chg").alias("chg"))
    )


def component_members(edges: DataFrame) -> tuple[DataFrame, bool]:
    """(src, dst) -> ((node, component), bounded): the label of every
    endpoint of a non-self edge, component = the MINIMUM node id of its
    component; undirected input (each edge listed once in either
    direction). ``bounded`` is True when the driver labeled the graph:
    the table then holds at most 2 * DRIVER_CC_MAX_EDGES rows, the bound
    ``broadcast_bounded`` asks for.

    A self-edge (src = dst) is dropped, so a node whose only edge is a
    self-edge is not a member; attached with a left join and coalesce,
    as every caller does, it still labels itself, as an isolated node
    does. No committed caller's pair frame holds a self-pair:
    ``jaccard_pairs`` and dedup_pipeline_end_to_end's banded candidates
    emit ida < idb, and the verify joins only filter them.

    Above DRIVER_CC_MAX_EDGES edges a round that flags no edge left the
    edge set unchanged: every component is then one star centered at
    its minimum. Raises RuntimeError if that takes more than
    CC_MAX_ROUNDS rounds; the driver union-find has no round cap
    (module docstring)."""
    e = pin(
        edges.select(
            F.least("src", "dst").alias("a"), F.greatest("src", "dst").alias("b")
        )
        .filter(F.col("a") != F.col("b"))
        .distinct()
    )
    lbl = _driver_labels(e)
    if lbl is not None:
        return lbl, True
    e = fixpoint(
        e,
        lambda e: _small_star(_large_star(e)),
        max_rounds=CC_MAX_ROUNDS,
        what="connected_components (star alternation)",
    )
    # one star per component, centered at the component min:
    # label = least(self, min neighbor)
    directed = e.select(F.col("a").alias("node"), F.col("b").alias("nbr")).unionByName(
        e.select(F.col("b").alias("node"), F.col("a").alias("nbr"))
    )
    lbl = directed.groupBy("node").agg(
        F.least(F.min("nbr"), F.first("node")).alias("component")
    )
    return lbl, False


def connected_components(nodes: DataFrame, edges: DataFrame) -> DataFrame:
    """(node) x (src, dst) -> (node, component) where component is the
    MINIMUM node id of the node's component (isolated nodes map to
    themselves): ``component_members`` attached to ``nodes``, which
    must cover every endpoint."""
    lbl, bounded = component_members(edges)
    return nodes.join(broadcast_bounded(lbl, bounded), "node", "left").select(
        "node", F.coalesce("component", "node").alias("component")
    )
