"""Distributed connected components over an edge-list DataFrame.

Replaces the reference's GDS WCC call
(/root/reference/graph/processing/similar_entity.py:224-286) and the
union-find passes at entity_merger.py:233-280 / similar_entity.py:
327-350 (SURVEY.md G2/SO1/SO2).

Algorithm: iterative min-label propagation with a pointer-halving
step — each round every node takes the min of (its label, its
neighbors' labels, its label's label). The extra label-of-label hop
collapses chains in O(log d) instead of O(d) rounds. Labels converge
to the component's minimum node id, which is exactly the oracle's
component label (core/linkage.connected_components), so the two are
directly comparable.

After CONTRACT_AFTER rounds the graph is CONTRACTED: edges are
rewritten to distinct (label(src), label(dst)) pairs and the solver
recurses on that label graph, composing the result back through the
current labels. Min-propagation strictly reduces the distinct-label
count while any cross-label edge remains, so each level shrinks
geometrically; small contracted graphs terminate in the driver
fast path. Correctness rests on the invariant label(x) ≤ x with
labels drawn from the component's node ids: the component's minimum
node m always keeps label(m) = m, so the contracted component's min
label IS the global min node id (oracle-equality tested).

Scale notes: each round is two shuffles (neighbor-min groupBy + label
self-join) on the edge list; lineage is truncated with localCheckpoint
every round so 10²-round graphs don't blow up the plan. High-degree
hubs are handled by the groupBy (partial aggregation) rather than a
join fan-out. Contraction bounds the round count: long-diameter
tails don't pay the per-round scheduling floor on the full edge
list, only on the geometrically shrinking label graph.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..core.linkage import connected_components as _py_cc

MAX_ITERATIONS = 50

# Below this node count the component graph fits trivially in the
# driver; running the union-find there (same spec, tested equal)
# avoids ~3 shuffles × O(rounds) of fixed job latency. The canonical
# entity graph after extraction is typically tiny relative to the
# corpus; at 100 TB the distributed loop below is the default path.
DRIVER_THRESHOLD = 100_000

# A small-node graph can still carry an enormous edge list (dense
# similarity cliques); the driver path must bound BOTH collects.
EDGE_DRIVER_THRESHOLD = 2_000_000


# Rounds of full-edge-list propagation before contraction becomes
# eligible, and the shrink ratio that actually triggers it: contract
# only when the distinct-label count has dropped to ≤ CONTRACT_RATIO
# of the node count, so each recursion level is guaranteed
# geometrically smaller. Clique-ish similarity graphs hit the ratio
# immediately (components collapse to one label in 1-2 rounds), so
# contraction fires after the FIRST round and the remaining rounds
# run on the shrunken label graph; adversarial long-path graphs never
# hit the ratio and simply keep the plain convergent loop.
CONTRACT_AFTER = 1
CONTRACT_RATIO = 0.6


def connected_components(
    edges: DataFrame,
    nodes: DataFrame | None = None,
    src: str = "src",
    dst: str = "dst",
    max_iterations: int = MAX_ITERATIONS,
    driver_threshold: int = DRIVER_THRESHOLD,
    edge_driver_threshold: int = EDGE_DRIVER_THRESHOLD,
    contract_after: int = CONTRACT_AFTER,
) -> DataFrame:
    """edges(src, dst) [+ optional nodes(node)] → (node, component)
    where component = min node id (string order) in the component."""
    # checkpoint BEFORE counting: the threshold counts and the loop (or
    # the driver collect) would otherwise each re-evaluate the distinct
    # shuffles from scratch — checkpoint once, count the materialized
    # partitions
    e = (
        edges.select(F.col(src).alias("a"), F.col(dst).alias("b"))
        .union(edges.select(F.col(dst).alias("a"), F.col(src).alias("b")))
        .where(F.col("a") != F.col("b"))
        .distinct()
        .localCheckpoint()
    )
    endpoint_nodes = e.select(F.col("a").alias("node")).distinct()
    if nodes is not None:
        all_nodes = nodes.select(F.col(nodes.columns[0]).alias("node")).union(
            endpoint_nodes
        ).distinct()
    else:
        all_nodes = endpoint_nodes
    all_nodes = all_nodes.localCheckpoint()

    n_nodes = all_nodes.count() if driver_threshold > 0 else driver_threshold + 1
    if n_nodes <= driver_threshold and e.count() <= edge_driver_threshold:
        import pandas as pd

        # Arrow both ways: toPandas beats the row-based collect and
        # createDataFrame(pandas) beats a driver-side tuple list by
        # several× at the 10⁵-row scale this path handles
        npdf = all_nodes.toPandas()
        epdf = e.toPandas()
        comp = _py_cc(
            npdf["node"].tolist(), list(zip(epdf["a"], epdf["b"]))
        )
        spark = edges.sparkSession
        out = pd.DataFrame(
            {"node": list(comp.keys()), "component": list(comp.values())}
        )
        return spark.createDataFrame(out, "node string, component string")

    from ..session import loop_checkpoint, materialize

    # materialize (NOT localCheckpoint) the LOOP-CARRIED state:
    # iterative loop state must reset plan statistics, or the
    # optimizer's join-size products grow multiplicatively per round —
    # see session.materialize. The edge list is STATIC across rounds
    # (its inherited stats are applied once, never compounded), so the
    # cheaper in-memory localCheckpoint suffices for it.
    labels = materialize(all_nodes.withColumn("label", F.col("node")), "cc-labels")

    for _round in range(max_iterations):
        nbr_min = (
            e.join(labels.withColumnRenamed("node", "b2"), F.col("b") == F.col("b2"))
            .groupBy("a")
            .agg(F.min("label").alias("nbr_label"))
            .withColumnRenamed("a", "node")
        )
        joined = labels.join(nbr_min, "node", "left")
        if _round == 0:
            # labels are the identity map on round 0, so label-of-label
            # is a no-op — skip the self-join on the one round that
            # always runs over the full graph
            best = F.least("label", F.coalesce("nbr_label", "label"))
        else:
            lbl_of_lbl = (
                labels.alias("l1")
                .join(
                    labels.select(
                        F.col("node").alias("label"),
                        F.col("label").alias("label2"),
                    ).alias("l2"),
                    "label",
                )
                .select(F.col("l1.node").alias("node"), F.col("label2"))
            )
            joined = joined.join(lbl_of_lbl, "node", "left")
            best = F.least(
                "label",
                F.coalesce("nbr_label", "label"),
                F.coalesce("label2", "label"),
            )
        # checkpoint once, then read the change flag off the
        # materialized result — avoids computing the plan twice
        new_labels = joined.select(
            "node",
            best.alias("label"),
            (best != F.col("label")).alias("changed"),
        )
        new_labels = loop_checkpoint(new_labels, "cc-labels", _round)
        contract_eligible = contract_after and _round + 1 >= contract_after
        if contract_eligible:
            # approx_count_distinct: the label count only feeds the
            # contraction-ratio HEURISTIC (contract when labels ≤ 0.6 ×
            # nodes), so HLL's few-% error can only shift WHICH round
            # contraction fires on, never the result — and it drops the
            # exact-distinct shuffle from every round's stats job
            stats = new_labels.agg(
                F.max(F.col("changed").cast("int")).alias("any_changed"),
                F.count(F.lit(1)).alias("n_nodes"),
                F.approx_count_distinct("label").alias("n_labels"),
            ).collect()[0]
            changed = stats["any_changed"] or 0
            shrunk = stats["n_labels"] <= CONTRACT_RATIO * stats["n_nodes"]
        else:
            changed = new_labels.where("changed").limit(1).count()
            shrunk = False
        labels = new_labels.select("node", "label")
        if changed == 0:
            break
        if contract_eligible and shrunk:
            # contract: recurse on the distinct label graph, compose back
            lbl = labels
            c_edges = (
                e.join(
                    lbl.select(
                        F.col("node").alias("a"), F.col("label").alias("la")
                    ),
                    "a",
                )
                .join(
                    lbl.select(
                        F.col("node").alias("b"), F.col("label").alias("lb")
                    ),
                    "b",
                )
                .where(F.col("la") != F.col("lb"))
                .select(F.col("la").alias("src"), F.col("lb").alias("dst"))
                .distinct()
            )
            c_comp = connected_components(
                c_edges,
                nodes=lbl.select("label").distinct(),
                # full budget per level: each level is ≤ CONTRACT_RATIO
                # the size of its parent, so recursion terminates
                # regardless of the per-level round count
                max_iterations=max_iterations,
                driver_threshold=driver_threshold,
                edge_driver_threshold=edge_driver_threshold,
                contract_after=contract_after,
            )
            return (
                lbl.join(
                    c_comp.withColumnRenamed("node", "label"), "label", "left"
                )
                .select(
                    "node", F.coalesce("component", "label").alias("component")
                )
            )

    return labels.withColumnRenamed("label", "component")


# No package caller; kept only because perfbench/tracing.py WRAPPED names it (drop both together).
def connected_components_delta(
    edges: DataFrame,
    nodes: DataFrame,
    old_edges: DataFrame | None,
    old_labels: DataFrame,
    changed_src_hint: DataFrame | None = None,
    changed_pairs: DataFrame | None = None,
) -> dict:
    """Delta-localized connected components: returns the SAME
    (node, component=min node id) map as
    ``connected_components(edges, nodes=nodes)`` while running the
    iterative solver only on components actually touched by the edge /
    node delta vs a stored prior state.

    Inputs:
      * ``edges`` / ``nodes``     — the NEW graph (``src``/``dst``
        edge list — directed rows fine, the solver mirrors; one
        id column of nodes).
      * ``old_edges``             — the stored prior edge list.
      * ``old_labels``            — the stored prior partition as
        (node, label) with ANY per-component-stable label (the dense
        ``wcc`` ids the warehouse stores qualify). MUST be exactly
        ``connected_components(old_edges)``'s partition of the old
        node set — the caller's provable-equality gate (link-params
        sidecar = the four linking tables committed together) is what
        establishes that.
      * ``changed_src_hint``      — optional (one id column) SUPERSET
        of the sources whose edge ROWS may differ between old and
        new (the LSH delta maintenance computes exactly this set:
        affected sources ∪ removed entities). With a hint the edge
        diff reads only the hinted slice of both edge lists; without
        one it diffs the full lists (one narrow shuffle per side).
      * ``changed_pairs``         — optional precomputed (src, dst)
        SUPERSET of the edge rows that differ between old and new
        (e.g. the unordered pairs of added/removed triple keys when
        the edge list is a triple projection). When given, the
        internal edge diff is skipped entirely and ``old_edges`` may
        be None.

    Soundness of the localization: seed nodes = endpoints of changed
    edges ∪ added ∪ removed nodes. A component of the old partition is
    AFFECTED iff it contains a seed. Any new edge (u, v) with u in an
    affected component has v in one too: if the edge is unchanged it
    already connected u and v in the old graph (same old component —
    affected together); if it changed, both endpoints are seeds. So
    the affected region is edge-closed, the solver sees every edge
    that can touch it, and unaffected components keep their exact old
    member sets — their component label (min member id) is recomputed
    with ONE map-side-combine min aggregation instead of the iterative
    loop. Returns::

        {"unchanged": bool,       # partition provably identical
         "components": DataFrame, # full (node, component); None when
                                  # unchanged (caller reuses stored)
         "local": DataFrame,      # recomputed region only
         "affected_nodes": DataFrame}  # old members of affected
                                  # components ∪ added nodes — the
                                  # scope a canonical-map reuse must
                                  # exclude (includes removed nodes)

    Replaces the full-catalog WCC recompute of every incremental
    cycle (reference recomputes GDS WCC wholesale,
    graph/processing/similar_entity.py:224-286); at a 10⁸-entity
    catalog a 1 % delta pays the iterative joins only over the
    touched components, plus two single-pass narrow shuffles
    (node diff, unaffected-min aggregation).
    """
    node_col = nodes.columns[0]
    new_nodes = nodes.select(F.col(node_col).alias("node")).distinct()
    old_nodes = old_labels.select(F.col(old_labels.columns[0]).alias("node"))
    lbl = old_labels.select(
        F.col(old_labels.columns[0]).alias("node"),
        F.col(old_labels.columns[1]).alias("label"),
    )

    added = new_nodes.join(old_nodes, "node", "left_anti").localCheckpoint()
    removed = old_nodes.join(new_nodes, "node", "left_anti").localCheckpoint()

    def pairs(df, restrict):
        p = df.select("src", "dst")
        if restrict is not None:
            p = p.join(
                restrict.select(F.col(restrict.columns[0]).alias("src")),
                "src",
                "left_semi",
            )
        return p

    if changed_pairs is None:
        changed_pairs = (
            pairs(old_edges, changed_src_hint)
            .exceptAll(pairs(edges, changed_src_hint))
            .unionAll(
                pairs(edges, changed_src_hint).exceptAll(
                    pairs(old_edges, changed_src_hint)
                )
            )
        )
    else:
        changed_pairs = changed_pairs.select("src", "dst")
    seeds = (
        changed_pairs.select(F.col("src").alias("node"))
        .union(changed_pairs.select(F.col("dst").alias("node")))
        .union(removed.select("node"))
        .union(added.select("node"))
        .distinct()
        .localCheckpoint()
    )
    if seeds.limit(1).count() == 0:
        return {
            "unchanged": True,
            "components": None,
            "local": None,
            "affected_nodes": seeds,  # empty frame, schema (node)
        }

    affected_labels = (
        lbl.join(seeds, "node", "left_semi").select("label").distinct()
        .localCheckpoint()
    )
    r_old = lbl.join(affected_labels, "label", "left_semi").select("node")
    r_new = (
        r_old.join(new_nodes, "node", "left_semi")
        .union(added.select("node"))
        .distinct()
        .localCheckpoint()
    )
    # edge-closure (proof above) guarantees dst ∈ r_new for every kept
    # edge — one semi-join on src suffices
    local_edges = edges.select("src", "dst").join(
        r_new.withColumnRenamed("node", "src"), "src", "left_semi"
    )
    local = connected_components(local_edges, nodes=r_new).localCheckpoint()

    unaffected = lbl.join(affected_labels, "label", "left_anti")
    comp_map = unaffected.groupBy("label").agg(
        F.min("node").alias("component")
    )
    unaffected_full = unaffected.join(comp_map, "label").select(
        "node", "component"
    )
    return {
        "unchanged": False,
        "components": unaffected_full.unionByName(local),
        "local": local,
        "affected_nodes": r_old.union(added.select("node")).distinct(),
    }


def dense_number_labels(
    labels: DataFrame, col: str, out: str = "number"
) -> DataFrame:
    """Distinct-value DataFrame → (col, out) with dense 0-based ids
    ordered by ``col`` — the shared two-phase numbering used by WCC
    consecutive ids, community-level numbering and SLLPA label
    numbering.

    Two-phase so no stage ever sees the whole label set: range-partition
    the distinct labels on the sort key, rank WITHIN each partition,
    then add per-partition offsets (a collect of one count per
    partition — bounded by the partition count, not the data). A bare
    Window.orderBy would funnel every label through a single-partition
    global sort — the textbook WindowExec scale trap.

    Thin wrapper over pagination.with_global_positions — the ONE
    implementation of the two-phase numbering (offset bookkeeping is
    subtle enough that two copies would drift)."""
    from .pagination import with_global_positions

    distinct = labels.select(col).distinct()
    return with_global_positions(distinct, [F.col(col)], out=out).select(
        col, out
    )


def consecutive_component_ids(components: DataFrame) -> DataFrame:
    """(node, component) → (node, component, wcc) with dense 0-based ids
    ordered by component label — GDS consecutiveIds=True semantics
    (similar_entity.py:240-244). Numbering via dense_number_labels
    (range-partitioned two-phase; no global-sort Window)."""
    numbered = dense_number_labels(components, "component", "wcc")
    return components.join(numbered, "component")
