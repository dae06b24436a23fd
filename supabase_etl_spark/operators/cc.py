"""Connected components: one size switch in front of the engine's two
distributed CC algorithms.

Both entry points pin their deduplicated edge list and probe it once
with ``limit(DRIVER_CC_MAX_EDGES + 1)``, collected through Arrow.

* **At or below the cap** the driver labels the graph: union-find over
  the collected edges, the smaller id always the root, so a label is
  the minimum id in its component, exactly as on the distributed path.
  The labels come back as an Arrow-built local frame (a LocalTableScan,
  which starts no Python worker) and attach as before: a broadcast left
  join, each unlabeled node its own label. One probe job replaces the
  eager pins and the fixpoint's one-job-per-round.
* **Above the cap** ``pinning.fixpoint`` runs the distributed algorithm
  over the same pinned edge list, which the probe has materialized:

  * ``connected_components`` — large-star/small-star alternation,
    O(log² n) rounds (Kiveris et al. 2014, "Connected Components in
    MapReduce and Beyond"; observed ~log n). A 200-chain converges in
    9 rounds, a 64-ring in 7, cliques in 2.
  * ``_min_label_fixpoint_members`` — min-label propagation over the
    pair graph's endpoints, one hop per round: rounds = component
    diameter, so near-clique dedup graphs (diameter 2-3) finish in a
    batch or two, while a long chain needs one round per hop.

The cap. Driver path against the star fixpoint on synthetic graphs,
4 cores, one warm JVM, labels written to the noop sink (median of 3 at
10k and 100k edges, one run elsewhere); chain-plus-random is a chain
over a quarter of the nodes plus random edges, 4-cliques are six edges
per four nodes (diameter 1, the fixpoint's best case):

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

Above the cap each distributed algorithm keeps the callers that it
wins on. A/B on every caller, 4 cores, sf0.01, median of 3 noop-write
runs (wall, distinct stages), taken before the size switch existed,
so it measures the above-cap regime; a star caller runs min-label as
member labels plus a broadcast attach, a min-label caller runs star
over the pair endpoints:

    caller (algorithm it uses)                      min-label     star
    dedup_clusters (min-label)                      1.09 s, 46    1.78 s, 67
    corpus_curate (min-label)                       1.05 s, 45    1.70 s, 66
    split_leakage_safe (min-label)                  1.43 s, 66    1.98 s, 89
    dedup_pipeline_end_to_end (min-label)           1.39 s, 50    2.16 s, 72
    events_identity_stitching (star)                1.28 s, 77    1.50 s, 87
    multimodal_audio_dedup_pipeline_e2e (star)      1.40 s, 43    1.22 s, 40
    multimodal_video_dedup_pipeline_e2e (star)      1.16 s, 43    1.17 s, 40
    multimodal_dedup_pipeline_e2e (star)            3.14 s, 153   2.85 s, 114
    embedding_dbscan_grid (star)                    no fixpoint   4.01 s, 145
                                                    in 20 hops
    200-node chain (tests)                          199 hops      9 rounds

Near-clique dedup graphs favour min-label: a round or two of one
exchange each. Long chains need star: only it converges on
embedding_dbscan_grid.
"""

from __future__ import annotations

import numpy as np
import pyarrow as pa
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from supabase_etl_spark.operators.joins import broadcast_bounded
from supabase_etl_spark.pinning import fixpoint, pin

CC_MAX_ROUNDS = 60  # ~log²(n) needed in theory, ~log n observed
MAX_PROPAGATION_ROUNDS = 20  # min-label hops; fixpoint runs 2 per round
DRIVER_CC_MAX_EDGES = 200_000  # union-find on the driver at or below this


def _driver_labels(e: DataFrame, node: str, label: str) -> DataFrame | None:
    """(node, label) for every endpoint of the two-column edge list
    ``e``, label = the minimum id in the node's component, or None when
    ``e`` holds more than DRIVER_CC_MAX_EDGES rows. One ``limit`` probe
    collected through Arrow (a list over the cap ships cap + 1 rows),
    then union-find on the driver over the sorted distinct ids, the
    smaller id always the root. The frame is built from Arrow, so it
    plans as a LocalTableScan that no Python worker reads."""
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
                node: pa.array(ids, typ),
                label: pa.array(ids[np.asarray(parent, dtype=np.int64)], typ),
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


def connected_components(nodes: DataFrame, edges: DataFrame) -> DataFrame:
    """(node) x (src, dst) -> (node, component) where component is the
    MINIMUM node id of the node's component (isolated nodes map to
    themselves). ``nodes`` must cover every endpoint; undirected input
    (each edge listed once in either direction).

    A round that flags no edge left the edge set unchanged: every
    component is then one star centered at its minimum. Raises
    RuntimeError if that takes more than CC_MAX_ROUNDS rounds. At or
    below DRIVER_CC_MAX_EDGES edges the driver union-find labels the
    graph instead, with no round cap (module docstring)."""
    e = pin(
        edges.select(
            F.least("src", "dst").alias("a"), F.greatest("src", "dst").alias("b")
        )
        .filter(F.col("a") != F.col("b"))
        .distinct()
    )
    lbl = _driver_labels(e, "node", "component")
    bounded = lbl is not None
    if not bounded:
        e = fixpoint(
            e,
            lambda e: _small_star(_large_star(e)),
            max_rounds=CC_MAX_ROUNDS,
            what="connected_components (star alternation)",
        )
        # one star per component, centered at the component min:
        # label = least(self, min neighbor)
        directed = e.select(
            F.col("a").alias("node"), F.col("b").alias("nbr")
        ).unionByName(e.select(F.col("b").alias("node"), F.col("a").alias("nbr")))
        lbl = directed.groupBy("node").agg(
            F.least(F.min("nbr"), F.first("node")).alias("component")
        )
    lbl = broadcast_bounded(lbl, bounded)
    return nodes.join(lbl, "node", "left").select(
        "node", F.coalesce("component", "node").alias("component")
    )


def _min_label_fixpoint_members(pairs: DataFrame) -> DataFrame:
    """Connected-component labels for the EDGE-ENDPOINT vertices of an
    undirected pair graph, by min-label propagation (labels start as
    doc_id; each round every node takes the min of its own and its
    neighbors' labels until a round changes nothing). At or below
    DRIVER_CC_MAX_EDGES undirected edges the driver union-find labels
    the same members instead (module docstring).

    r13 optimization (guide §2.3/§2.4 — shuffle fewer bytes, remove
    shuffles outright): the fixpoint only ever CHANGES labels of
    vertices that touch an edge, so the iteration state is the member
    set (≤ 2·|pairs| rows), never the corpus — the previous shape
    materialized a full-corpus label table per round plus a
    corpus-sized convergence JOIN per round. Convergence is a `chg`
    flag computed IN the propagation select (labels only decrease, so
    changed ⟺ nbr_min < cluster_id).

    r14 (VERDICT r13 task 1 — stage-launch floor, guide §2.4):
    a pin preserves ``outputPartitioning`` into the
    LogicalRDD, so the edge list is pinned pre-hashed on ``src`` (the
    size probe's collect writes its blocks) and the label state stays
    hashed on ``doc_id`` (the
    groupBy(dst→doc_id) exchange output feeds the left join and the
    next round directly). Each propagation round then needs exactly
    ONE exchange — the neighbor-min aggregate — where the r13 shape
    re-shuffled both join sides every round; there is no pin inside a
    step (a 2-round lineage is shallow, and one AQE execution reuses
    its own exchanges where nested lazy pins re-ran upstream chains —
    the LPA r14 finding). Measured on the two heaviest consumers
    (sf0.1, quiet epoch, best-of-3): dedup_pipeline 3.65→2.92 s
    (58→50 stages), corpus_curate 3.60→3.18 s (49→45).

    Raises RuntimeError if the fixpoint is not reached within
    MAX_PROPAGATION_ROUNDS — a silently-unconverged result would emit
    wrong cluster_id/is_canonical with no other symptom (a high-diameter
    chain component, e.g. a boilerplate gradient, is exactly the input
    that would need more rounds)."""
    edges = pin(
        pairs.select(F.col("ida").alias("src"), F.col("idb").alias("dst"))
        .unionByName(pairs.select(F.col("idb").alias("src"), F.col("ida").alias("dst")))
        .distinct()
        .repartition("src")
    )
    # each undirected edge once; a self-pair stays, its node is a member
    members = _driver_labels(
        edges.filter(F.col("src") <= F.col("dst")), "doc_id", "cluster_id"
    )
    if members is not None:
        return members
    # symmetric edge list ⇒ src alone covers every endpoint
    labels = pin(
        edges.select(F.col("src").alias("doc_id"))
        .distinct()
        .select("doc_id", F.col("doc_id").alias("cluster_id"))
        .repartition("doc_id"),
        eager=True,
    )

    def two_rounds(labels: DataFrame) -> DataFrame:
        # TWO lazy rounds per convergence count: near-dup components
        # are near-cliques (diameter ~2 — sf0.1 measures 2 rounds
        # total), so batching halves the sequential action count, and
        # an extra lazy round over the tiny member table is cheaper
        # than a job launch. Only the LAST round's flags count: a round
        # with 0 changes is the fixpoint no matter what the first did.
        for _ in range(2):
            neighbor_min = (
                edges.join(labels, edges.src == labels.doc_id)
                .groupBy(F.col("dst").alias("doc_id"))
                .agg(F.min("cluster_id").alias("nbr_min"))
            )
            nbr = F.coalesce(F.col("nbr_min"), F.col("cluster_id"))
            labels = labels.join(neighbor_min, "doc_id", "left").select(
                "doc_id",
                F.least(F.col("cluster_id"), nbr).alias("cluster_id"),
                (nbr < F.col("cluster_id")).alias("chg"),
            )
        return labels

    return fixpoint(
        labels,
        two_rounds,
        max_rounds=(MAX_PROPAGATION_ROUNDS + 1) // 2,
        what=f"min-label propagation ({MAX_PROPAGATION_ROUNDS} hops, 2 per round)",
    )


def _attach_cluster_labels(d: DataFrame, members: DataFrame) -> DataFrame:
    """Full-corpus (doc_id, cluster_id) from member-only labels: docs
    outside every edge keep their own id. The member table is bounded
    by 2·|pairs| (near-dup membership is the minority by the dedup
    pipeline's own premise), so it BROADCASTS — the corpus crosses no
    exchange to pick up its label."""
    return d.select("doc_id").join(F.broadcast(members), "doc_id", "left").select(
        "doc_id",
        F.coalesce(F.col("cluster_id"), F.col("doc_id")).alias("cluster_id"),
    )


def _min_label_fixpoint(d: DataFrame, pairs: DataFrame) -> DataFrame:
    """Full-corpus connected-component labels (doc_id, cluster_id) —
    the member-only fixpoint above plus the broadcast label attach."""
    return _attach_cluster_labels(d, _min_label_fixpoint_members(pairs))
