"""Connected-component resolution for near-duplicate clusters.

Pair emitters (exact, MinHash-LSH, SimHash, embedding-cosine — see
``operators/dedup.py``) are only half of a dedup pipeline: the
keep/drop decision needs the TRANSITIVE closure of the pair relation.
If A~B and B~C then {A, B, C} is one cluster even when the (A, C)
pair was never emitted (sketches routinely miss one edge of a
triangle while catching the other two). This module turns a pair set
into (doc, cluster) labels and a canonical-representative choice.

Algorithm: min-label propagation over DataFrame joins. Every vertex
starts labeled with itself; each round it adopts the smallest label
in its closed neighborhood; fixpoint = components labeled by their
minimum vertex id. Rounds needed = graph diameter. Near-dup graphs
are unions of small, dense clusters (diameter 2-4 in practice: the
members of a template family all pairwise-collide in some band), so
the round count stays small and CORPUS-SIZE-INDEPENDENT — growing the
corpus adds more clusters, not wider ones. Each round costs one
shuffle (neighbor-min groupBy) + one join, both keyed on vertex id so
AQE can coalesce. For adversarial long-path graphs the alternating large-star /
small-star scheme (Kiveris et al., "Connected Components in MapReduce
and Beyond") converges in O(log n) rounds; near-dup workloads do not
need it, and its per-round cost is ~2x.

The iterative operators here (``connected_components``,
``pagerank``) cut lineage every round with ``localCheckpoint`` so the
plan does not grow with iterations, and free each round's cut once the
next one lands, so storage stays bounded at one round. The cuts live
in executor-local storage and are not replicated: an executor lost
mid-loop fails the job rather than recomputing it, the right trade
for the single-JVM deployments this engine runs in.
``bounded_bfs_bipartite`` is the k-hop
sibling for frontier-sized traversals.

The reference has no clustering stage (its dedup is per-URL
keep-latest, `analytics/UpdateProdMetrics.scala` model); this is part
of the LLM-training-data extension surface (SURVEY.md §6).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

# frontier expansions of bounded_bfs_bipartite; pagerank's fixed round
# count and damping factor
_BFS_ROUNDS = 3
_PAGERANK_ITERATIONS = 3
_PAGERANK_DAMPING = 0.85


def _checkpoint_round(df: DataFrame) -> tuple[DataFrame, object]:
    """Eagerly cut one iteration round's lineage with
    ``localCheckpoint`` and return (cut df, handle);
    ``_free_round(handle)`` releases exactly this round's storage once
    the NEXT round materializes. Without that release every round's
    cut accumulates for the whole loop (observed as GC-locker retries
    in an sf1 PageRank run on a single 128 GiB JVM).

    The handle is the checkpointed frame's OWN internal RDD, pulled
    from the ``LogicalRDD`` node the checkpoint returns — NOT a
    before/after diff of the session-global persistent-RDD registry,
    which would capture (and later force-unpersist) any unrelated RDD
    a concurrent job in the same SparkSession happened to cache
    between the two snapshots.
    """
    out = df.localCheckpoint(eager=True)
    return out, out._jdf.queryExecution().analyzed().rdd()


def _free_round(handle: object) -> None:
    if handle is not None:
        handle.unpersist(False)  # non-blocking: overlap next round


def connected_components(pairs: DataFrame, max_rounds: int = 25) -> DataFrame:
    """Resolve ``pairs`` (id_a, id_b) into components: returns (node, component)
    where ``component`` is the minimum node id reachable from
    ``node``. Only nodes that appear in at least one pair are
    returned (singletons are the caller's corpus minus this set —
    joining them through the propagation loop would shuffle the whole
    corpus every round for labels that cannot change).

    ``max_rounds`` bounds the loop against pathological inputs; the
    fixpoint check is exact (a round that changes no label ends the
    loop), so the bound is never the thing that decides the answer —
    hitting it raises rather than silently returning a partial
    closure.
    """
    e = pairs.select(F.col("id_a").alias("u"), F.col("id_b").alias("v"))
    # Symmetric, self-loop-free edge list; distinct so repeated pairs
    # from a multi-tier union don't inflate the per-round shuffle.
    edges, edges_handle = _checkpoint_round(
        e.union(e.select(F.col("v").alias("u"), F.col("u").alias("v")))
        .filter(F.col("u") != F.col("v"))
        .distinct()
    )
    labels, prev_round = _checkpoint_round(
        edges.select("u")
        .distinct()
        .select("u", F.col("u").alias("component"))
    )  # prev_round: round N-1's checkpoint storage, freed at round N
    for _ in range(max_rounds):
        nbr_min = (
            edges.join(labels.withColumnRenamed("u", "v"), "v")
            .groupBy("u")
            .agg(F.min("component").alias("nbr_component"))
        )
        new_labels, this_round = _checkpoint_round(
            labels.join(nbr_min, "u", "left").select(
                "u",
                F.least(
                    "component", F.coalesce("nbr_component", "component")
                ).alias("component"),
            )
        )
        changed = (
            new_labels.alias("n")
            .join(labels.alias("o"), "u")
            .filter(F.col("n.component") < F.col("o.component"))
            .limit(1)  # existence check, not a full count
            .count()
        )
        # the fixpoint check above was old `labels`' last consumer —
        # free its storage so the loop stays bounded at one round
        _free_round(prev_round)
        prev_round = this_round
        labels = new_labels
        if changed == 0:
            # the returned frame reads only its own checkpoint; the
            # edge list has no consumer left
            _free_round(edges_handle)
            return labels.select(F.col("u").alias("node"), "component")
    raise RuntimeError(
        f"connected_components did not converge in {max_rounds} rounds; "
        "the pair graph has a longer path than any near-dup workload "
        "produces - raise max_rounds or switch to large-star/small-star"
    )


def resolve_duplicate_clusters(docs: DataFrame, pairs: DataFrame) -> DataFrame:
    """Full dedup decision for a corpus: (doc_id, cluster_id, keep).

    ``cluster_id`` is the minimum doc id of the doc's near-dup
    component (its own id for singletons); ``keep`` marks the one
    canonical representative per cluster. Keep-min-id matches
    ``dedup.exact_dedup``'s tie-break so the exact and sketch tiers
    agree on which copy survives. Singletons bypass the propagation
    loop entirely (left join + coalesce), so the iterative part only
    touches the pair-incident minority of the corpus.
    """
    comp = connected_components(pairs)
    return (
        docs.select("doc_id")
        .join(comp.withColumnRenamed("node", "doc_id"), "doc_id", "left")
        .select(
            "doc_id",
            F.coalesce("component", F.col("doc_id")).alias("cluster_id"),
        )
        .withColumn("keep", F.col("doc_id") == F.col("cluster_id"))
    )


def resolve_clusters_keep_best(items: DataFrame, pairs: DataFrame) -> DataFrame:
    """Cluster-level SEMANTIC dedup decision over ``items``
    (vec_id, quality): (vec_id, cluster_id, keep, quality) where
    ``keep`` marks each near-dup cluster's BEST
    exemplar by (quality DESC, id ASC) — quality-ranked survivorship
    over the transitive closure, not pairwise-greedy and not
    keep-min-id. A cluster {A, B, C} discovered through pairs (A,B),
    (B,C) collapses to whichever member scores highest, even if that
    member sat on only one pair.

    ``cluster_id`` stays the component's min id (a stable,
    quality-independent label); the exemplar pick is one extra
    ``max_by`` groupBy on top of :func:`resolve_duplicate_clusters`'s
    shape — a single partial-aggregated shuffle
    (`operators/survivorship.py` golden-record pattern), so the add-on
    cost at 100 TB is one slim (cluster, best) aggregate, not a
    window over the corpus. Singletons keep themselves.
    """
    from htmlentityextraction_spark.operators.survivorship import golden_record

    comp = connected_components(pairs)
    labeled = (
        items.select("vec_id", "quality")
        .join(comp.withColumnRenamed("node", "vec_id"), "vec_id", "left")
        .select(
            "vec_id",
            F.coalesce("component", F.col("vec_id")).alias("cluster_id"),
            "quality",
        )
    )
    # best exemplar: max quality, min id on ties. min_by over
    # (-quality, id) keeps the tie-break valid for ANY orderable id
    # type (string ids would silently cast to NULL under negation);
    # quality is a numeric score by contract, so negating IT is safe.
    best = golden_record(
        labeled,
        "cluster_id",
        {
            "__best": F.min_by(
                F.col("vec_id"),
                F.struct(
                    (-F.col("quality")).alias("nq"),
                    F.col("vec_id").alias("tb"),
                ),
            )
        },
    )
    return labeled.join(best, "cluster_id").select(
        "vec_id",
        "cluster_id",
        (F.col("vec_id") == F.col("__best")).alias("keep"),
        "quality",
    )


def bounded_bfs_bipartite(edges: DataFrame, seed) -> DataFrame:
    """Breadth-first traversal over a bipartite edge list (u, v),
    ``_BFS_ROUNDS`` frontier expansions from a single u-side ``seed``;
    returns (side, node_id, level) with each node at its FIRST
    discovery level (min-level semantics via anti-joins against the
    visited set).

    The bounded sibling of the label-propagation closure above: per
    round one equi-join of the frontier against the edge list plus an
    anti-join dedup — frontier-sized work, not graph-sized, so a
    3-hop neighborhood query on a 100 TB edge list touches only the
    neighborhood. Unbounded diameters belong to the iterate-to-
    fixpoint operator; this one is for "what is within k hops"."""
    from pyspark.sql import functions as F

    u_seen = edges.sparkSession.createDataFrame([(seed,)], "node_id long")
    v_seen = edges.sparkSession.createDataFrame([], "node_id long")
    out = u_seen.select(
        F.lit("u").alias("side"), "node_id", F.lit(0).cast("long").alias("level")
    )
    frontier, on_u = u_seen, True
    for lvl in range(1, _BFS_ROUNDS + 1):
        if on_u:  # expand u-frontier to its v-neighbors
            nxt = (
                edges.join(frontier.withColumnRenamed("node_id", "u"), "u")
                .select(F.col("v").alias("node_id")).distinct()
                .join(v_seen, "node_id", "left_anti")
            )
            v_seen = v_seen.union(nxt)
        else:
            nxt = (
                edges.join(frontier.withColumnRenamed("node_id", "v"), "v")
                .select(F.col("u").alias("node_id")).distinct()
                .join(u_seen, "node_id", "left_anti")
            )
            u_seen = u_seen.union(nxt)
        nxt = nxt.localCheckpoint()  # cut the growing lineage per round
        out = out.union(
            nxt.select(
                F.lit("v" if on_u else "u").alias("side"),
                "node_id",
                F.lit(lvl).cast("long").alias("level"),
            )
        )
        frontier, on_u = nxt, not on_u
    return out


def pagerank(edges: DataFrame) -> DataFrame:
    """Fixed-iteration PageRank over a directed (src, dst) edge list.

    The power-iteration recurrence as pure DataFrame algebra: each
    round every node sends rank/outdeg along its out-edges, and new
    rank = (1-d)/n + d * sum(incoming) with d = ``_PAGERANK_DAMPING``.
    Returns (node, rank) after ``_PAGERANK_ITERATIONS`` rounds from the
    uniform start.

    Scale shape: one equi-join (edges x ranks, keyed on src) plus one
    groupBy(dst) per round — the same two shuffles GraphX's Pregel
    incarnation pays, with AQE free to broadcast the rank side when a
    subgraph is small. ``localCheckpoint`` cuts lineage per round so
    the plan stays O(1) in iterations. At 100 TB the edge list should be bucketed by
    src so the per-round join is co-located and only the slim
    (node, rank) side moves. |V| and the driver-side ``count()`` for n
    are node-scale scalars, not edge-scale.

    Dangling nodes (no out-edges) are supported: their mass is
    redistributed uniformly, the standard correction. Rather than a
    separate per-round aggregate over the dangling set, each dangling
    node gets ONE static pseudo-edge (node -> NULL, outdeg 1) so its
    whole rank flows into the NULL-key group of the SAME join +
    groupBy that sums real contributions — the dangling mass is just
    another row of ``incoming``. Distributing that one scalar back to
    every node is a broadcast of a 1-row filter over the round's
    already-checkpointed aggregate (no recomputation, no driver
    collect). General graphs therefore cost the same one
    materialization per round as sink-free ones. Fixed iteration
    count (not convergence-tested) keeps the result deterministic and
    SQL-expressible for the oracle.
    """
    # Drop NULL-endpoint rows up front: the dangling-mass correction
    # below reserves the NULL dst key for its pseudo-edges, so a dirty
    # edge list with real NULL dst would have that mass silently
    # redistributed (and NULL src/dst would pollute verts and n).
    # Filtering here makes the NULL group provably pseudo-edge-only.
    edges = edges.filter(F.col("src").isNotNull() & F.col("dst").isNotNull())
    # materialize the (possibly expensive) edge derivation ONCE — the
    # per-round joins must not replay the caller's edge-building plan
    edges, edges_handle = _checkpoint_round(edges)
    # ONE node-scale aggregation yields vertices, out-degrees AND
    # the dangling set (optimization r12, guide §2.3/§2.4): the
    # old shape paid a union+distinct shuffle for verts, a second
    # groupBy shuffle for outdeg, and an anti-join action for the
    # dangling probe — three passes over the edge cut where one
    # suffices. Each edge contributes (src, 1) and (dst, 0);
    # sum = out-degree, 0 = dangling (appears as dst only).
    side = F.explode(
        F.array(
            F.struct(
                F.col("src").alias("node"), F.lit(1).cast("long").alias("__d")
            ),
            F.struct(
                F.col("dst").alias("node"), F.lit(0).cast("long").alias("__d")
            ),
        )
    )
    nodes, _ = _checkpoint_round(
        edges.select(side.alias("s"))
        .select("s.node", "s.__d")
        .groupBy("node")
        .agg(F.sum("__d").alias("__outdeg"))
    )
    n = nodes.count()
    # node-scale probe over the materialized cut — no extra pass
    # over the edges
    has_dangling = bool(nodes.filter(F.col("__outdeg") == 0).limit(1).count())
    verts = nodes.select("node")
    # the driver now knows |V| EXACTLY (not an estimate): when the
    # node-scale side provably fits the session's broadcast
    # threshold, hint it — the static planner otherwise picks a
    # sort-merge join (checkpoint cuts erase statistics:
    # LogicalRDD reports UnknownPartitioning/default size) and
    # exchanges the EDGE-scale side once at build plus every
    # round (guide §3.1). 64 B/row is deliberately conservative.
    # At cluster scale with billions of nodes this is False and
    # the shape is unchanged.
    try:
        _thr = int(
            edges.sparkSession.conf.get(
                "spark.sql.autoBroadcastJoinThreshold", "10485760"
            )
        )
    except ValueError:
        _thr = 10 * 1024 * 1024
    bcast_nodes = _thr > 0 and n * 64 <= _thr
    edges_deg = edges.join(
        F.broadcast(nodes.select(F.col("node").alias("src"), "__outdeg"))
        if bcast_nodes
        else nodes.select(F.col("node").alias("src"), "__outdeg"),
        "src",
    )
    if has_dangling:
        # static pseudo-edges: each dangling node "sends" its whole
        # rank (outdeg 1) to a NULL sentinel dst, so the dangling-
        # mass sum rides the SAME join + groupBy as real
        # contributions — no per-round aggregate over the dangling set
        dst_type = dict(edges.dtypes)["dst"]
        edges_deg = edges_deg.unionByName(
            nodes.filter(F.col("__outdeg") == 0).select(
                F.col("node").alias("src"),
                F.lit(None).cast(dst_type).alias("dst"),
                F.lit(1).cast("long").alias("__outdeg"),
            )
        )
    edges_deg, edges_deg_handle = _checkpoint_round(edges_deg)
    # edges_deg's materialization was the raw edge cut's last consumer
    _free_round(edges_handle)

    ranks = verts.withColumn("rank", F.lit(1.0 / n))
    prev_round = None  # round N-1's checkpoint storage, freed at round N
    damping = _PAGERANK_DAMPING
    for _ in range(_PAGERANK_ITERATIONS):
        # broadcast hint only when the DRIVER-COUNTED |V| provably
        # fits the threshold (bcast_nodes): (node, rank) is node-scale
        # and can be arbitrarily large, and the checkpointed lineage
        # erases size statistics, so the static planner would
        # otherwise exchange + sort the edge-scale side every round
        rside = ranks.withColumnRenamed("node", "src")
        contribs = edges_deg.join(
            F.broadcast(rside) if bcast_nodes else rside, "src"
        ).select(
            F.col("dst").alias("node"),
            (F.col("rank") / F.col("__outdeg")).alias("__c"),
        )
        # the round's ONE materialization: per-node incoming mass,
        # with the dangling total in the NULL-key group (if any).
        # Once this round's blocks exist, round N-1's checkpoint is
        # referenced by nothing (the old lazy `ranks` plan was its
        # only consumer and is reassigned below) — unpersist it so
        # storage stays bounded at ONE round's worth across the loop.
        incoming, this_round = _checkpoint_round(
            contribs.groupBy("node").agg(F.sum("__c").alias("__s"))
        )
        _free_round(prev_round)
        prev_round = this_round
        inc = incoming.filter(F.col("node").isNotNull())
        new_ranks = verts.join(
            F.broadcast(inc) if bcast_nodes else inc, "node", "left"
        )
        if has_dangling:
            # distribute the dangling scalar: broadcast the 1-row
            # NULL-key filter over the checkpointed aggregate — a
            # trivial scan, no recomputation, no driver sync. The
            # pseudo-edges guarantee the NULL group exists, so the
            # crossJoin never empties the result.
            dmass = incoming.filter(F.col("node").isNull()).select(
                F.coalesce(F.col("__s"), F.lit(0.0)).alias("__dm")
            )
            new_ranks = new_ranks.crossJoin(F.broadcast(dmass))
            dm_per_node = F.col("__dm") / F.lit(float(n))
        else:
            dm_per_node = F.lit(0.0)
        # ranks stays LAZY: it is a bounded plan over the checkpointed
        # `incoming` (one join + one 1-row broadcast), consumed once
        # by the next round's contribs join — no lineage growth
        ranks = new_ranks.select(
            "node",
            (
                F.lit((1.0 - damping) / n)
                + F.lit(damping)
                * (F.coalesce(F.col("__s"), F.lit(0.0)) + dm_per_node)
            ).alias("rank"),
        )
    # the returned lazy plan reads only verts + the LAST round's cut;
    # the edge-degree cut has no consumer left
    _free_round(edges_deg_handle)
    return ranks
