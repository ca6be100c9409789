"""Hierarchical community detection + catalog (SURVEY.md G3/G5, J5-J7,
A4, L5, W-ops).

DataFrame implementation of the half-sweep weighted LPA spec in
core/lpa.py (the GDS-Leiden replacement; schema parity with
/root/reference/community/detector/leiden.py:91-140 — ids "{level}-{n}",
IN_COMMUNITY hierarchy, maxLevels=3). The pure-Python core version is
the oracle; tests assert level-by-level equality.

Physical shape per sweep: one shuffle for the vote aggregation
(edges ⋈ labels → groupBy(node, label) sum(weight)) + a window top-1.
The driver loop localCheckpoints labels each sweep to truncate
lineage. Parity is computed JVM-side from sha1 so it matches
core.lpa._parity exactly (tested).
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from ..core.lpa import MAX_LEVELS, MAX_SWEEPS
from ..core.stub_summary import prepare_string, stub_summarize
from .components import EDGE_DRIVER_THRESHOLD, dense_number_labels

# Same rationale as operators/components.DRIVER_THRESHOLD: tiny
# contracted graphs run the identical core spec driver-side instead of
# paying O(levels × sweeps) shuffle-job latency. The driver path bounds
# BOTH collects: a 100k-node similarity graph can still carry 10⁹ edges
# (dense cliques), so the edge count is guarded by
# components.EDGE_DRIVER_THRESHOLD exactly like connected_components.
DRIVER_THRESHOLD = 100_000


def projection_edges(triples: DataFrame) -> DataFrame:
    """Canonical triples → undirected weighted edges: weight = COUNT of
    relationships per unordered pair (reference projection config
    orientation UNDIRECTED, weight aggregation COUNT —
    community/detector/projections.py:24-34)."""
    return (
        triples.where(F.col("subj") != F.col("obj"))
        .select(
            F.least("subj", "obj").alias("a"),
            F.greatest("subj", "obj").alias("b"),
        )
        .groupBy("a", "b")
        .agg(F.count("*").cast("double").alias("w"))
    )


def lpa_level(nodes: DataFrame, edges: DataFrame, max_sweeps: int = MAX_SWEEPS) -> DataFrame:
    """nodes(node) + edges(a, b, w) → (node, label).

    Monotone weighted LPA (core/lpa.py spec): synchronous sweeps; a
    node adopts its weighted-majority neighbor label (tie → smallest)
    only if that label sorts before its current one — guaranteed
    convergent, no oscillation."""
    from ..session import loop_checkpoint, materialize

    sym = edges.select(
        F.col("a").alias("node"), F.col("b").alias("nbr"), "w"
    ).union(edges.select(F.col("b").alias("node"), F.col("a").alias("nbr"), "w"))
    # loop state: materialize (stats reset), not localCheckpoint —
    # see session.materialize
    sym = materialize(sym, "lpa-sym")

    labels = materialize(
        nodes.select(F.col(nodes.columns[0]).alias("node")).withColumn(
            "label", F.col("node")
        ),
        "lpa-labels",
    )

    w_top = Window.partitionBy("node").orderBy(F.desc("vote"), F.asc("nbr_label"))
    for _sweep in range(max_sweeps):
        votes = (
            sym.join(
                labels.select(
                    F.col("node").alias("nbr"), F.col("label").alias("nbr_label")
                ),
                "nbr",
            )
            .groupBy("node", "nbr_label")
            .agg(F.sum("w").alias("vote"))
        )
        best = (
            votes.withColumn("rn", F.row_number().over(w_top))
            .where(F.col("rn") == 1)
            .select("node", F.col("nbr_label").alias("best_label"))
        )
        new_label = F.when(
            F.col("best_label").isNotNull()
            & (F.col("best_label") < F.col("label")),
            F.col("best_label"),
        ).otherwise(F.col("label"))
        # checkpoint once; change detection reads the materialized flag
        new_labels = loop_checkpoint(
            labels.join(best, "node", "left").select(
                "node",
                new_label.alias("label"),
                (new_label != F.col("label")).alias("changed"),
            ),
            "lpa-labels",
            _sweep,
        )
        changed = new_labels.where("changed").limit(1).count()
        labels = new_labels.select("node", "label")
        if changed == 0:
            break
    return labels.select("node", "label")


def _distributed_level_labels(
    nodes: DataFrame, edges: DataFrame, max_levels: int
) -> list[DataFrame]:
    """The leveled LPA/contraction loop, emitting the per-level RAW
    label assignment (entity_id, label); the dense numbering is
    applied afterwards by assemble_communities_from_labels. Returns
    one checkpointed frame per EXECUTED level."""
    # node → supernode of current level (starts as itself)
    assignment = nodes.withColumn("super", F.col("node"))
    parts: list[DataFrame] = []
    cur_nodes = nodes
    for level in range(max_levels):
        labels = lpa_level(cur_nodes, edges)
        n_labels = labels.select("label").distinct().count()
        n_nodes = cur_nodes.count()
        parts.append(
            assignment.join(
                labels.withColumnRenamed("node", "super2"),
                F.col("super") == F.col("super2"),
            )
            .select(
                F.col("node").alias("entity_id"),
                F.lit(level).alias("level"),
                "label",
            )
            .localCheckpoint()
        )
        if n_labels == n_nodes:
            break

        # contract
        assignment = (
            assignment.join(
                labels.withColumnRenamed("node", "super2"),
                F.col("super") == F.col("super2"),
            )
            .select("node", F.col("label").alias("super"))
            .localCheckpoint()
        )
        lab_a = labels.select(F.col("node").alias("a"), F.col("label").alias("la"))
        lab_b = labels.select(F.col("node").alias("b"), F.col("label").alias("lb"))
        edges = (
            edges.join(lab_a, "a")
            .join(lab_b, "b")
            .where(F.col("la") != F.col("lb"))
            .select(
                F.least("la", "lb").alias("a"),
                F.greatest("la", "lb").alias("b"),
                "w",
            )
            .groupBy("a", "b")
            .agg(F.sum("w").alias("w"))
            .localCheckpoint()
        )
        cur_nodes = labels.select(F.col("label").alias("node")).distinct()
        if edges.limit(1).count() == 0:
            break
    return parts


def assemble_communities_from_labels(
    labels: DataFrame,
) -> tuple[DataFrame, DataFrame]:
    """(entity_id, level, label) rows for levels 0..E-1 →
    (membership(entity_id, community_id, level),
     hierarchy(child_community, parent_community)).

    The distributed detector's numbering/assembly: per level,
    dense-number the distinct labels (range-partitioned two-phase —
    no global-sort Window) and stamp "{level}-{number}" ids; the
    hierarchy is the distinct (child, parent) co-membership of
    adjacent levels."""
    spark = labels.sparkSession
    level_vals = sorted(
        r["level"] for r in labels.select("level").distinct().collect()
    )
    membership_parts: list[DataFrame] = []
    hierarchy_parts: list[DataFrame] = []
    for level in level_vals:
        lvl = labels.where(F.col("level") == level).select("entity_id", "label")
        numbering = dense_number_labels(lvl, "label", "number")
        membership_parts.append(
            lvl.join(numbering, "label")
            .select(
                "entity_id",
                F.concat_ws("-", F.lit(level), F.col("number")).alias(
                    "community_id"
                ),
                F.lit(level).alias("level"),
            )
            .localCheckpoint()
        )
        if len(membership_parts) > 1:
            hierarchy_parts.append(
                membership_parts[-2]
                .select(
                    "entity_id", F.col("community_id").alias("child_community")
                )
                .join(
                    membership_parts[-1].select(
                        "entity_id",
                        F.col("community_id").alias("parent_community"),
                    ),
                    "entity_id",
                )
                .select("child_community", "parent_community")
                .distinct()
            )
    membership = membership_parts[0]
    for part in membership_parts[1:]:
        membership = membership.unionByName(part)
    if hierarchy_parts:
        hierarchy = hierarchy_parts[0]
        for part in hierarchy_parts[1:]:
            hierarchy = hierarchy.unionByName(part)
        hierarchy = hierarchy.distinct()
    else:
        hierarchy = spark.createDataFrame(
            [], "child_community string, parent_community string"
        )
    return membership, hierarchy


def detect_communities(
    entities: DataFrame,
    triples: DataFrame,
    max_levels: int = MAX_LEVELS,
    driver_threshold: int = DRIVER_THRESHOLD,
    edge_driver_threshold: int = EDGE_DRIVER_THRESHOLD,
) -> tuple[DataFrame, DataFrame]:
    """→ (membership(entity_id, community_id, level),
         hierarchy(child_community, parent_community)).

    Isolated entities keep their own label → singleton communities,
    matching a GDS projection over all __Entity__ nodes."""
    spark = entities.sparkSession
    nodes = entities.select(F.col("entity_id").alias("node")).distinct()
    # checkpoint before the threshold counts: both the driver collect
    # and the distributed loop re-read this (components.py rationale)
    edges = projection_edges(triples).localCheckpoint()

    if (
        driver_threshold > 0
        and nodes.count() <= driver_threshold
        and edges.count() <= edge_driver_threshold
    ):
        from ..core.lpa import detect_label_hierarchy

        node_list = [r["node"] for r in nodes.collect()]
        edge_list = [(r["a"], r["b"], r["w"]) for r in edges.collect()]
        lbl_levels = detect_label_hierarchy(
            node_list, edge_list, max_levels=max_levels
        )
        m_rows, h_rows = [], set()
        numbers = [
            {lbl: i for i, lbl in enumerate(sorted(set(lvl.values())))}
            for lvl in lbl_levels
        ]
        for n in node_list:
            arr = [num[lvl[n]] for lvl, num in zip(lbl_levels, numbers)]
            for level, num in enumerate(arr):
                m_rows.append((n, f"{level}-{num}", level))
            for level in range(1, len(arr)):
                h_rows.add((f"{level - 1}-{arr[level - 1]}", f"{level}-{arr[level]}"))
        membership = spark.createDataFrame(
            m_rows, "entity_id string, community_id string, level int"
        )
        hierarchy = spark.createDataFrame(
            sorted(h_rows) or [],
            "child_community string, parent_community string",
        )
        return membership, hierarchy

    parts = _distributed_level_labels(nodes, edges, max_levels)
    labels = parts[0]
    for part in parts[1:]:
        labels = labels.unionByName(part)
    return assemble_communities_from_labels(labels)


# No package caller; kept only because perfbench/tracing.py WRAPPED names it (drop both together).
def projection_components(
    entities: DataFrame, triples: DataFrame
) -> DataFrame:
    """(entity_id, pwcc): connected components of the undirected triple
    projection graph."""
    from .components import connected_components

    return connected_components(
        projection_edges(triples),
        nodes=entities.select("entity_id"),
        src="a",
        dst="b",
    ).select(
        F.col("node").alias("entity_id"), F.col("component").alias("pwcc")
    )


# No package caller; kept only because perfbench/tracing.py WRAPPED names it (drop both together).
def localized_community_catalog(
    membership: DataFrame,
    dirty_entities: DataFrame,
    stored_communities: DataFrame,
    entities: DataFrame,
    triples: DataFrame,
    mentions: DataFrame,
) -> DataFrame:
    """Recompute catalog/summary rows ONLY for communities holding a
    dirty entity; stored rows stand in verbatim for the rest. Sound
    because community_catalog is deterministic per community in
    (members, member entity rows, intra-community triples, member
    mentions) — the caller's
    dirty_entities must cover every entity whose contribution to any
    of those changed; `summary_created_at` on kept rows keeps the
    writing cycle's stamp (the one permitted divergence from a full
    recompute). The frame returned is lazy; callers checkpoint."""
    changed_ids = (
        membership.join(dirty_entities, "entity_id", "left_semi")
        .select("community_id")
        .distinct()
        .localCheckpoint()
    )
    fresh = community_catalog(
        membership.join(changed_ids, "community_id", "left_semi"),
        entities,
        triples,
        mentions,
    ).localCheckpoint()
    keep_ids = (
        membership.select("community_id")
        .distinct()
        .join(changed_ids, "community_id", "left_anti")
    )
    kept = stored_communities.join(
        keep_ids, "community_id", "left_semi"
    ).select(*fresh.columns)
    return kept.unionByName(fresh)


def detect_communities_factory(
    entities: DataFrame,
    triples: DataFrame,
    algorithm: str = "leiden",
    **kwargs,
) -> tuple[DataFrame, DataFrame]:
    """Algorithm selector mirroring the reference's
    ``community_algorithm`` setting (config/settings.py:48 — 'leiden'
    or 'sllpa', factory community/detector/__init__).

    'leiden' → the hierarchical LPA/contraction detector above;
    'sllpa' → overlapping single-level SLLPA (operators/sllpa.py) —
    its hierarchy is empty (level-0 only, like the reference's SLLPA
    save path)."""
    if algorithm == "leiden":
        return detect_communities(entities, triples, **kwargs)
    if algorithm == "sllpa":
        from .sllpa import sllpa_membership_table

        kwargs.pop("max_levels", None)
        membership = sllpa_membership_table(entities, triples, **kwargs)
        hierarchy = entities.sparkSession.createDataFrame(
            [], "child_community string, parent_community string"
        )
        return membership, hierarchy
    raise ValueError(f"unknown community algorithm: {algorithm!r}")


def community_catalog(
    membership: DataFrame,
    entities: DataFrame,
    triples: DataFrame,
    mentions: DataFrame,
) -> DataFrame:
    """Community table: rank = countDistinct chunks mentioning members
    (IN_COMMUNITY* transitive — summary/base.py:59-64), weight =
    member count, stub summary + full_content (summary/base.py:15-45).
    """
    # rank via mentions ⋈ membership (J7)
    rank = (
        membership.join(mentions, "entity_id")
        .groupBy("community_id")
        .agg(F.countDistinct("chunk_id").cast("long").alias("community_rank"))
    )
    weight = membership.groupBy("community_id", "level").agg(
        F.count("*").cast("long").alias("weight")
    )

    # intra-community rels: both endpoints in same community+level (J6)
    m_subj = membership.select(
        F.col("entity_id").alias("subj"), "community_id", "level"
    )
    m_obj = membership.select(F.col("entity_id").alias("obj"), "community_id", "level")
    intra = (
        triples.where(F.col("subj") != F.col("obj"))
        .join(m_subj, "subj")
        .join(m_obj, ["obj", "community_id", "level"])
        .select("community_id", "subj", "pred", "obj", "description")
    )

    members = membership.join(
        entities.select("entity_id", "entity_type", "description"), "entity_id"
    )

    nodes_packed = members.groupBy("community_id").agg(
        F.sort_array(
            F.collect_list(F.struct("entity_id", "entity_type", "description"))
        ).alias("nodes")
    )
    rels_packed = intra.groupBy("community_id").agg(
        F.sort_array(
            F.collect_list(F.struct("subj", "pred", "obj", "description"))
        ).alias("rels")
    )

    packed = (
        weight.join(nodes_packed, "community_id", "left")
        .join(rels_packed, "community_id", "left")
        .join(rank, "community_id", "left")
    )

    summary_schema = (
        "community_id string, level int, community_rank long, weight long, "
        "summary string, full_content string"
    )

    def summarize(pdf: pd.DataFrame) -> pd.DataFrame:
        out = []
        for row in pdf.itertuples(index=False):
            raw_nodes = row.nodes if row.nodes is not None else []
            raw_rels = row.rels if row.rels is not None else []
            nodes = [
                {
                    "id": n["entity_id"],
                    "type": n["entity_type"],
                    "description": n["description"],
                }
                for n in raw_nodes
            ]
            rels = [
                {
                    "start": r["subj"],
                    "end": r["obj"],
                    "type": r["pred"],
                    "description": r["description"],
                }
                for r in raw_rels
            ]
            out.append(
                (
                    row.community_id,
                    row.level,
                    row.community_rank if row.community_rank is not None else 0,
                    row.weight,
                    stub_summarize(row.community_id, nodes, rels),
                    prepare_string(nodes, rels),
                )
            )
        return pd.DataFrame(
            out,
            columns=[
                "community_id",
                "level",
                "community_rank",
                "weight",
                "summary",
                "full_content",
            ],
        )

    return (
        packed.groupBy("community_id")
        .applyInPandas(lambda pdf: summarize(pdf), schema=summary_schema)
        .withColumn("summary_created_at", F.current_timestamp())
    )
