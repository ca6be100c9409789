"""Duplicate detection + merge + canonical rewrite (SURVEY.md J4, SO1,
SO2, A8, L4).

Reference lifecycle reproduced
(/root/reference/graph/processing/similar_entity.py:289-365 +
entity_merger.py:233-360,409-450):
  1. WCC over SIMILAR edges → wcc id per entity;
  2. duplicate candidates: within one wcc, entities with len(id)>1
     whose lowercased ids are within Levenshtein distance < 3,
     transitively unioned — expressed as a blocked theta self-join
     (equi on wcc + levenshtein predicate) followed by connected
     components, which IS the transitive union;
  3. merge judge (LLM in prod, deterministic stub here) per candidate
     group via applyInPandas → mergeable subgroups;
  4. subgroups sharing an entity are unioned (entity_merger.py:233-280)
     — again connected components, over the subgroup chain edges;
  5. survivor = min by (length, lexicographic) — the pinned
     deterministic stand-in for apoc.refactor.mergeNodes 'discard'
     (entity_merger.py:348-360);
  6. triples/mentions rewritten through the canonical map (broadcast
     join — the map is tiny next to the fact tables), then
     relationship dedup by (subj, pred, obj) keeping the first by
     (conv_id, chunk_id, description, weight) — entity_merger.py:
     418-429 with a deterministic pin for Neo4j's "first".
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from ..core.linkage import (
    WORD_EDIT_DISTANCE,
    duplicate_candidate_groups,
    resolve_canonical_map,
)
from ..core.stub_judge import judge_group
from .components import connected_components

# Same rationale as components.DRIVER_THRESHOLD: the post-extraction
# entity catalog is tiny next to the corpus; below this count the
# candidates→judge→union→survivor chain runs the identical core spec
# driver-side instead of ~8 actions of shuffle latency.
DRIVER_THRESHOLD = 100_000


def duplicate_candidate_edges(
    entities_with_wcc: DataFrame, max_distance: int = WORD_EDIT_DISTANCE
) -> DataFrame:
    """Blocked lev<3 theta join inside each wcc (similar_entity.py:
    315-352). The wcc equi-key keeps the self-join from exploding:
    components are small by construction (cosine ≥ 0.9 cliques)."""
    base = entities_with_wcc.select("entity_id", "wcc").where(
        F.length("entity_id") > 1  # similar_entity.py:302,318
    )
    a = base.select(F.col("entity_id").alias("src"), "wcc")
    b = base.select(F.col("entity_id").alias("dst"), "wcc")
    # threshold form runs banded O(n·k) DP (-1 above the bound) instead
    # of the full matrix; a length-band prefilter measured slower (it
    # rarely prunes id-shaped vocabularies and adds per-pair work)
    return (
        a.join(b, "wcc")
        .where(F.col("src") < F.col("dst"))
        .where(
            F.levenshtein(
                F.lower("src"), F.lower("dst"), threshold=max_distance - 1
            )
            >= 0
        )
        .select("src", "dst")
    )


def candidate_groups(entities_with_wcc: DataFrame) -> DataFrame:
    """(entity_id, group_id) for entities in candidate groups (≥2
    members); group_id = component label.

    Intermediate results are localCheckpointed: the CC output is
    re-referenced by its own aggregate, and un-truncated lineage here
    compounds into join-tree plans whose size statistics blow up the
    optimizer (see session.py runtime-filter note)."""
    edges = duplicate_candidate_edges(entities_with_wcc).localCheckpoint()
    comp = (
        connected_components(edges)
        .select(F.col("node").alias("entity_id"), F.col("component").alias("group_id"))
        .localCheckpoint()
    )
    sizes = comp.groupBy("group_id").count().where(F.col("count") > 1)
    return comp.join(sizes.select("group_id"), "group_id")


_SUGGEST_SCHEMA = "entity_id string, suggestion_id string"


def _judge_partition(pdf: pd.DataFrame) -> pd.DataFrame:
    group_id = pdf["group_id"].iloc[0]
    members = sorted(pdf["entity_id"].tolist())
    out = []
    for i, subgroup in enumerate(judge_group(members)):
        for member in subgroup:
            out.append((member, f"{group_id}#{i}"))
    return pd.DataFrame(out, columns=["entity_id", "suggestion_id"])


def merge_groups(groups: DataFrame) -> DataFrame:
    """Judge each candidate group, union overlapping suggestions via
    CC, return (entity_id, merge_root)."""
    # AQE coalesces the pre-applyInPandas shuffle by BYTES, but this
    # stage is per-group Python (~1 ms/group overhead): explicitly
    # spread the groups across all cores
    partitions = int(
        groups.sparkSession.conf.get("spark.sql.shuffle.partitions")
    )
    suggestions = (
        groups.repartition(partitions, "group_id")
        .groupBy("group_id")
        .applyInPandas(_judge_partition, schema=_SUGGEST_SCHEMA)
        .localCheckpoint()  # referenced by chained-edges AND node set
    )
    # chain edges within each suggestion connect its members; CC then
    # unions suggestions that share an entity (entity_merger.py:233-280)
    w = Window.partitionBy("suggestion_id").orderBy("entity_id")
    chained = suggestions.withColumn("prev", F.lag("entity_id").over(w)).where(
        F.col("prev").isNotNull()
    )
    edges = chained.select(F.col("prev").alias("src"), F.col("entity_id").alias("dst"))
    return connected_components(
        edges, nodes=suggestions.select("entity_id").distinct()
    ).select(F.col("node").alias("entity_id"), F.col("component").alias("merge_root"))


def canonical_map(merged: DataFrame) -> DataFrame:
    """(entity_id, merge_root) → (entity_id, canonical_id); survivor =
    min by (length, lexical) per merge group."""
    w = Window.partitionBy("merge_root").orderBy(
        F.length("entity_id").asc(), F.col("entity_id").asc()
    )
    survivors = (
        merged.withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") == 1)
        .select("merge_root", F.col("entity_id").alias("canonical_id"))
    )
    return merged.join(survivors, "merge_root").select("entity_id", "canonical_id")


# Components larger than this bypass the per-group pandas resolve
# (its lev work is O(m²) within a component — fine for the bounded
# cliques cosine-0.9 produces, quadratic poison for a pathological
# mega-component) and go through the fully distributed
# candidate_groups → merge_groups → canonical_map chain instead.
GROUP_SKEW_THRESHOLD = 1_000

_RESOLVE_SCHEMA = "entity_id string, canonical_id string"


def _resolve_partition(batches):
    """mapInPandas body: one pandas groupby over the whole hash
    partition instead of one Spark/Arrow group per component.
    Components are ~3-6 members, so a 125k-entity catalog has tens of
    thousands of them — Spark's per-group applyInPandas dispatch
    (~0.5 ms/group) dominates at that shape, while pandas groupby
    iteration is ~20 µs/group. Correctness needs every wcc's rows in
    ONE partition (the caller repartitions by wcc) and the whole
    partition concatenated first (Arrow may deliver it as several
    batches). Memory is bounded by partition size — two small string
    columns; size spark.sql.shuffle.partitions for the catalog, not
    the corpus."""
    frames = [b for b in batches]
    if not frames:
        return
    pdf = pd.concat(frames, ignore_index=True)
    ids_out: list[str] = []
    canon_out: list[str] = []
    for _, g in pdf.groupby("wcc", sort=False):
        mapping = resolve_canonical_map(
            duplicate_candidate_groups(
                sorted(g["entity_id"].tolist()),
                dict.fromkeys(g["entity_id"], 0),
            )
        )
        ids_out.extend(mapping.keys())
        canon_out.extend(mapping.values())
    yield pd.DataFrame({"entity_id": ids_out, "canonical_id": canon_out})


def resolve_canonical_grouped(
    entities_with_wcc: DataFrame,
    skew_threshold: int = GROUP_SKEW_THRESHOLD,
) -> DataFrame:
    """Per-component canonicalization: one shuffle + one
    mapInPandas pass (pandas groupby inside the partition).

    The entire post-WCC chain decomposes by component: candidate
    edges are blocked on wcc (duplicate_candidate_edges), judge
    suggestions are subsets of candidate groups, and overlapping-
    suggestion unions therefore never cross a wcc boundary — so each
    component can run the exact core spec (duplicate_candidate_groups
    → judge → union → survivor, core/linkage.py) independently inside
    one hash partition. This replaces two distributed CC loops + the judge
    stage (~dozens of fixed-latency scheduler jobs) with ONE shuffle
    on wcc; at 100 TB the per-round loop latency is what dominates the
    linking phase, and components stay bounded (cosine-0.9 cliques of
    id variants), so this is the right physical plan, not a shortcut.

    Skew guard: components above ``skew_threshold`` members (where the
    in-group O(m²) lev scan would be quadratic poison) are routed
    through the fully distributed chain; singleton components are
    dropped up front (a candidate group needs ≥2 members).
    """
    base = entities_with_wcc.select("entity_id", "wcc")
    sizes = (
        base.groupBy("wcc").agg(F.count(F.lit(1)).alias("n")).localCheckpoint()
    )
    small_wccs = sizes.where(
        (F.col("n") >= 2) & (F.col("n") <= skew_threshold)
    ).select("wcc")
    partitions = int(
        base.sparkSession.conf.get("spark.sql.shuffle.partitions")
    )
    small_map = (
        base.join(F.broadcast(small_wccs), "wcc", "left_semi")
        .repartition(partitions, "wcc")
        .mapInPandas(_resolve_partition, schema=_RESOLVE_SCHEMA)
    )
    big_wccs = sizes.where(F.col("n") > skew_threshold).select("wcc")
    if big_wccs.limit(1).count() == 0:
        return small_map
    big = base.join(F.broadcast(big_wccs), "wcc", "left_semi")
    big_map = canonical_map(merge_groups(candidate_groups(big)))
    return small_map.unionByName(big_map)


def resolve_canonical(
    entities_with_wcc: DataFrame, driver_threshold: int = DRIVER_THRESHOLD
) -> DataFrame:
    """(entity_id, wcc) → (entity_id, canonical_id) for merged members.

    Routes small catalogs through the pure-Python core spec (collect +
    resolve + createDataFrame); large catalogs through
    resolve_canonical_grouped (per-component applyInPandas, skew-
    guarded by the distributed candidate_groups → merge_groups →
    canonical_map chain). All paths are tested equal."""
    if driver_threshold > 0 and entities_with_wcc.count() <= driver_threshold:
        rows = entities_with_wcc.select("entity_id", "wcc").collect()
        wcc = {r["entity_id"]: r["wcc"] for r in rows}
        groups = duplicate_candidate_groups(sorted(wcc), wcc)
        mapping = resolve_canonical_map(groups)
        spark = entities_with_wcc.sparkSession
        cmap_df = spark.createDataFrame(
            list(mapping.items()) or [], "entity_id string, canonical_id string"
        )
        # the driver path KNOWS the map's size — pre-seed the
        # broadcast-gate estimate for consumers that use this frame
        # DIRECTLY (plans/inmem — the bench's hot path); a
        # localCheckpoint/ck wrapper returns a fresh object and the
        # estimate re-memoizes there with one agg job
        cmap_df._cmap_est_bytes = (
            sum(len(k) + len(v) for k, v in mapping.items()) * 4
            + len(mapping) * 48
        )
        return cmap_df
    return resolve_canonical_grouped(entities_with_wcc)


# Broadcast budget for the canonical map. The map is one row per
# MERGED entity — tiny for any realistic catalog — but at a 100×
# catalog (10⁸+ entities, long Chinese ids) an unconditional hint
# would sail past Spark's 8 GB broadcast ceiling and the driver heap.
# Above this estimate the rewrite joins fall back to a plain shuffled
# hash join (the same conditional pattern as linking.py's scorer).
# 512 MB broadcasts in seconds on a 1000-executor cluster and is far
# cheaper than shuffling the corpus-scale fact side, so the hint
# stays on for every map that plausibly fits.
CMAP_BROADCAST_MAX_BYTES = 512 * 1024 * 1024


def _estimate_map_bytes(cmap: DataFrame) -> int:
    """One cheap agg over the (entity_id, canonical_id) map:
    count × string chars → a worst-case byte estimate (4 B/char
    covers any UTF-8 + UTF8String overhead, 48 B/row covers the
    BroadcastHashJoin relation's per-row cost). Memoized on the
    DataFrame object — every rewrite in a build cycle reuses the same
    cmap frame, so the job runs once per map, not once per join."""
    cached = getattr(cmap, "_cmap_est_bytes", None)
    if cached is not None:
        return cached
    row = cmap.agg(
        F.count(F.lit(1)).alias("n"),
        F.coalesce(
            F.sum(F.length("entity_id") + F.length("canonical_id")), F.lit(0)
        ).alias("chars"),
    ).collect()[0]
    est = int(row["chars"]) * 4 + int(row["n"]) * 48
    try:
        cmap._cmap_est_bytes = est
    except Exception:
        pass
    return est


def _map_side(cmap: DataFrame, projected: DataFrame) -> DataFrame:
    """The build side of a canonical-map join: broadcast-hinted only
    when the size estimate fits the budget, else left unhinted so
    Catalyst plans a shuffled join."""
    if _estimate_map_bytes(cmap) <= CMAP_BROADCAST_MAX_BYTES:
        return F.broadcast(projected)
    return projected


def _canonize(df: DataFrame, col: str, cmap: DataFrame) -> DataFrame:
    mapped = cmap.select(
        F.col("entity_id").alias(col), F.col("canonical_id").alias(f"__canon_{col}")
    )
    return (
        df.join(_map_side(cmap, mapped), col, "left")
        .withColumn(col, F.coalesce(f"__canon_{col}", col))
        .drop(f"__canon_{col}")
    )


def rewrite_triples(
    triples_raw: DataFrame, cmap: DataFrame, keys: DataFrame | None = None
) -> DataFrame:
    """Canonical rewrite + (subj,pred,obj) dedup keeping pinned first.

    The reference's "first" is arbitrary Neo4j internal order
    (entity_merger.py:418-429); our pin orders by (description,
    weight, conv_id, chunk_id) — properties first so the surviving
    (description, weight) is a pure function of the triple key, which
    is what lets the DuckDB oracle recompute the table without
    replicating chunk ids (__spark_entry__ kg_triples oracle).

    ``keys`` (optional, columns subj/pred/obj) restricts the output to
    those canonical keys — applied AFTER the rewrite but BEFORE the
    dedup, so the incremental delta path can recompute winners for
    exactly its affected key set; correctness requires triples_raw to
    contain EVERY contributor of each requested key (the caller
    assembles that via the entity→conv index).

    The winner pick is min(struct(...)) — struct comparison is
    lexicographic in field order, so it equals a window ordered by
    (description, weight, conv_id, chunk_id) asc (nulls-first on both
    paths) while staying a grouped aggregate: partial min runs
    map-side, no full shuffle-and-sort of the rewritten triples."""
    rewritten = _canonize(_canonize(triples_raw, "subj", cmap), "obj", cmap)
    if keys is not None:
        rewritten = rewritten.join(
            keys.select("subj", "pred", "obj").distinct(),
            ["subj", "pred", "obj"],
            "left_semi",
        )
    winner = F.min(
        F.struct("description", "weight", "conv_id", "chunk_id")
    ).alias("__p")
    return (
        rewritten.groupBy("subj", "pred", "obj")
        .agg(winner)
        .select(
            F.col("__p.chunk_id").alias("chunk_id"),
            F.col("__p.conv_id").alias("conv_id"),
            "subj",
            "pred",
            "obj",
            F.col("__p.description").alias("description"),
            F.col("__p.weight").alias("weight"),
        )
    )


def rewrite_mentions(mentions_raw: DataFrame, cmap: DataFrame) -> DataFrame:
    """Canonical rewrite + (chunk_id, entity_id) dedup. chunk ids are
    content hashes (sha1(text)), so the same chunk can appear in two
    conversations — the surviving row's conv_id is pinned to the
    MINIMUM conv_id (the oracle's first-seen order), which makes the
    dedup a pure function of the input set and therefore safe to
    recompute over any superset-of-contributors slice in the
    incremental delta path. The min is a grouped aggregate (partial,
    map-side combinable) rather than a window — same result, no
    full shuffle-and-sort of the mentions table."""
    rewritten = _canonize(mentions_raw, "entity_id", cmap)
    return (
        rewritten.groupBy("chunk_id", "entity_id")
        .agg(F.min("conv_id").alias("conv_id"))
        .select("chunk_id", "conv_id", "entity_id")
    )


# ASCII unit separator — cannot appear in entity/pred tokens (the
# record grammar strips control chars), so the concatenation is an
# injective key for (subj, pred, obj).
TRIPLE_KEY_SEP = "\u001f"
TRIPLE_KEY_COL = "__tkey"


def with_triple_key(triples: DataFrame) -> DataFrame:
    """Adds the single-column MERGE key for the canonical triples
    table: incremental cycles upsert winner rows per (subj, pred, obj)
    group, and the bucket-partitioned warehouse needs one stable key
    column to prune on (plans/merge.py)."""
    return triples.withColumn(
        TRIPLE_KEY_COL, F.concat_ws(TRIPLE_KEY_SEP, "subj", "pred", "obj")
    )


def canonical_entities(
    catalog_with_wcc: DataFrame, cmap: DataFrame
) -> DataFrame:
    """Catalog reduced to survivors ('discard': survivor's props win)."""
    joined = catalog_with_wcc.join(
        _map_side(cmap, cmap), "entity_id", "left"
    ).withColumn("canonical_id", F.coalesce("canonical_id", "entity_id"))
    return joined.where(F.col("entity_id") == F.col("canonical_id"))
