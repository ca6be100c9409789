"""Entity catalog, embeddings and the similarity join (SURVEY.md J3/J4,
G1).

Reference behavior reproduced:
  - entity catalog: distinct entity ids, FIRST description wins in
    (conv_id, position) chunk order (graph_writer.py:57-69 node cache
    + Neo4j MERGE);
  - embeddings over id + ' ' + description
    (graph/indexing/entity_indexer.py:53-56,149-253) — here the
    deterministic stub, in prod a batched model client in the same
    pandas_udf slot;
  - KNN: per-entity top-10 neighbors by cosine, similarityCutoff 0.9
    (similar_entity.py:162-180, config/settings.py:38). Two physical
    strategies:
      * exact — blocked cross join; O(n²), used under a size
        threshold and as the correctness baseline;
      * LSH — random-hyperplane signatures banded into buckets;
        candidates only within matching (band, bucket), then EXACT
        cosine re-rank + cutoff (SURVEY.md §4.5: LSH blocks, exact
        re-rank keeps correctness where it matters). This is the
        100 TB path: candidate generation is an equi-join on the
        band key instead of a cross join.
"""

from __future__ import annotations

from collections.abc import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from ..core.linkage import SIMILARITY_CUTOFF, SIMILARITY_TOP_K
from ..core.stub_embed import DIM, embed_entity

# 16 bands × 24 bits. The regime that matters is NOT uniform-random
# vectors: entities sharing a string prefix (EMP-…, a real-world
# phenomenon for any id-shaped vocabulary) sit at cosine ≈ 0.5-0.65
# in O(n²) pair volume. Band selectivity must suppress THAT mass:
# p_bit(cos 0.55) ≈ 0.69 → p_band = 0.69²⁴ ≈ 1e-4 → ≈ 2e-3 per pair
# over 16 bands, which keeps a 150k-catalog candidate set at a few
# million pairs (16-bit bands leaked ~50M; round-1's 4-bit bands were
# O(n²/16)). Same-entity variant groups (cosine ≈ 0.999) still miss
# with probability (1 - 0.986²⁴)¹⁶ ≈ 2e-9 per pair.
LSH_BANDS = 16
LSH_ROWS = 24  # bits per band


def entity_catalog(entities_raw: DataFrame, chunks: DataFrame) -> DataFrame:
    """entities_raw + chunks → one row per entity_id, first-seen
    (conv_id, position, chunk_id) description/type winning."""
    with_pos = entities_raw.join(
        chunks.select("chunk_id", "conv_id", "position").dropDuplicates(
            ["chunk_id", "conv_id"]
        ),
        ["chunk_id", "conv_id"],
    )
    w = Window.partitionBy("entity_id").orderBy("conv_id", "position", "chunk_id")
    return (
        with_pos.withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") == 1)
        .select("entity_id", "entity_type", "description")
    )


def with_embeddings(catalog: DataFrame) -> DataFrame:
    """Adds embedding array<double> via an Arrow-batched pandas UDF."""

    @F.pandas_udf("array<double>")
    def embed_udf(it: Iterator[tuple[pd.Series, pd.Series]]) -> Iterator[pd.Series]:
        for entity_id, description in it:
            yield pd.Series(
                [embed_entity(e, d) for e, d in zip(entity_id, description)]
            )

    # the catalog arrives off a window-filter shuffle that AQE
    # coalesces by BYTES (~1 partition per ~64 MB) — re-spread so this
    # CPU-bound Python stage uses the whole cluster, not 1-2 cores
    n_part = int(
        catalog.sparkSession.conf.get("spark.sql.shuffle.partitions", "32")
    )
    return catalog.repartition(n_part).withColumn(
        "embedding", embed_udf("entity_id", "description")
    )


def _cosine_expr(a: str, b: str):
    dot = F.aggregate(
        F.zip_with(F.col(a), F.col(b), lambda x, y: x * y),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )
    norm_a = F.sqrt(
        F.aggregate(F.col(a), F.lit(0.0), lambda acc, x: acc + x * x)
    )
    norm_b = F.sqrt(
        F.aggregate(F.col(b), F.lit(0.0), lambda acc, x: acc + x * x)
    )
    return F.when((norm_a == 0) | (norm_b == 0), F.lit(0.0)).otherwise(
        dot / (norm_a * norm_b)
    )


def _topk_filter(pairs: DataFrame, top_k: int, cutoff: float) -> DataFrame:
    w = Window.partitionBy("src").orderBy(F.desc("score"), F.asc("dst"))
    return (
        pairs.where(F.col("score") >= cutoff)
        .withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") <= top_k)
        .select("src", "dst", "score")
    )


def similar_entities_exact(
    embedded: DataFrame,
    top_k: int = SIMILARITY_TOP_K,
    cutoff: float = SIMILARITY_CUTOFF,
) -> DataFrame:
    """Exact KNN via self cross join — correctness baseline."""
    a = embedded.select(
        F.col("entity_id").alias("src"), F.col("embedding").alias("emb_a")
    )
    b = embedded.select(
        F.col("entity_id").alias("dst"), F.col("embedding").alias("emb_b")
    )
    pairs = (
        a.crossJoin(b)
        .where(F.col("src") != F.col("dst"))
        .withColumn("score", _cosine_expr("emb_a", "emb_b"))
    )
    return _topk_filter(pairs, top_k, cutoff)


def _hyperplanes(dim: int, n_planes: int) -> np.ndarray:
    rng = np.random.RandomState(42)  # fixed: signatures must be stable
    return rng.normal(size=(n_planes, dim))


def _signature_udf(dim: int, bands: int, rows: int):
    planes = _hyperplanes(dim, bands * rows)

    # big-endian bit weights within a band + the (band << 32) tag,
    # so the whole (n, bands*rows) bit matrix packs into band hashes
    # with one reshape + matmul — no per-row Python
    weights = (1 << np.arange(rows - 1, -1, -1)).astype(np.int64)
    band_tags = (np.arange(bands, dtype=np.int64) << 32)

    @F.pandas_udf("array<long>")
    def sig(it: Iterator[pd.Series]) -> Iterator[pd.Series]:
        for emb in it:
            mat = np.stack(emb.to_numpy())  # (n, dim)
            bits = (mat @ planes.T) >= 0  # (n, bands*rows)
            hashes = bits.reshape(len(mat), bands, rows) @ weights + band_tags
            yield pd.Series(list(hashes))

    return sig


# Catalogs whose embedding store fits under this BYTE budget score
# candidates via a BROADCAST store (one numpy gather + einsum per
# Arrow batch); larger catalogs fall back to re-joining embeddings
# onto the candidate pairs. The budget is bytes, not rows: 500k rows
# of 64-dim doubles are ~256 MB (shippable), the same rows at a
# production 1,536-dim are ~6 GB — past the driver toPandas and the
# per-executor deserialized copy. The join path instead shuffles
# |candidates| × 2 × dim doubles, which is the better trade exactly
# when the store itself is the bigger object.
BROADCAST_SCORE_MAX_BYTES = 512 * 1024 * 1024


def _store_bytes(n_rows: int, dim: int) -> int:
    """Broadcast-store size estimate: the float64 matrix dominates
    (ids + index add single-digit %); 8 bytes per element."""
    return n_rows * dim * 8


def _score_candidates_broadcast(cand: DataFrame, embedded: DataFrame) -> DataFrame:
    import pandas as pd

    spark = cand.sparkSession
    # Arrow transfer + one contiguous matrix + a pd.Index for the
    # id→row lookup: get_indexer is a vectorized C-level hash probe
    # (a python dict .map over millions of candidate ids was the
    # scorer's hottest line), and the whole store pickles as two blobs
    pdf = embedded.select("entity_id", "embedding").toPandas()
    ids = pd.Index(pdf["entity_id"])
    mat = (
        np.array(pdf["embedding"].to_list(), dtype=np.float64)
        if len(pdf)
        else np.zeros((0, 1))
    )
    norms = np.linalg.norm(mat, axis=1)
    bc = spark.sparkContext.broadcast((ids, mat, norms))

    @F.pandas_udf("double")
    def cos(src: pd.Series, dst: pd.Series) -> pd.Series:
        ids, mat, norms = bc.value
        ii = ids.get_indexer(src)
        jj = ids.get_indexer(dst)
        a, b = mat[ii], mat[jj]
        dots = np.einsum("ij,ij->i", a, b)
        denom = norms[ii] * norms[jj]
        out = np.where(denom == 0, 0.0, dots / np.where(denom == 0, 1.0, denom))
        return pd.Series(out)

    # AQE coalesces the upstream candidate dedup by BYTES (~76 MB for
    # 2M pairs → 2-3 partitions), which would run this CPU-bound
    # Python stage on 2-3 cores at ANY cluster size — a parallelism-
    # independent floor. Re-spread to the configured partition count.
    n_part = int(spark.conf.get("spark.sql.shuffle.partitions", "32"))
    cand = cand.repartition(n_part)
    return cand.withColumn("score", cos("src", "dst")).select("src", "dst", "score")


def _score_candidates_join(cand: DataFrame, embedded: DataFrame) -> DataFrame:
    emb = embedded.select(
        "entity_id",
        F.col("embedding"),
        F.sqrt(
            F.aggregate("embedding", F.lit(0.0), lambda acc, x: acc + x * x)
        ).alias("norm"),
    )
    return (
        cand.join(
            emb.select(
                F.col("entity_id").alias("src"),
                F.col("embedding").alias("emb_a"),
                F.col("norm").alias("norm_a"),
            ),
            "src",
        )
        .join(
            emb.select(
                F.col("entity_id").alias("dst"),
                F.col("embedding").alias("emb_b"),
                F.col("norm").alias("norm_b"),
            ),
            "dst",
        )
        .withColumn(
            "score",
            F.when(
                (F.col("norm_a") == 0) | (F.col("norm_b") == 0), F.lit(0.0)
            ).otherwise(
                F.aggregate(
                    F.zip_with("emb_a", "emb_b", lambda x, y: x * y),
                    F.lit(0.0),
                    lambda acc, x: acc + x,
                )
                / (F.col("norm_a") * F.col("norm_b"))
            ),
        )
        .select("src", "dst", "score")
    )


def similar_entities_lsh(
    embedded: DataFrame,
    top_k: int = SIMILARITY_TOP_K,
    cutoff: float = SIMILARITY_CUTOFF,
    bands: int = LSH_BANDS,
    rows: int = LSH_ROWS,
    dim: int = DIM,
    broadcast_max_bytes: int = BROADCAST_SCORE_MAX_BYTES,
) -> DataFrame:
    """Banded random-hyperplane LSH candidates + exact cosine re-rank.

    Physical shape (the 100 TB path): the band equi-join carries ONLY
    (entity_id, band_hash) — embeddings would multiply the shuffle by
    bands × dim. Candidates are deduped as unordered (src<dst) pairs,
    each pair scored ONCE and mirrored for the directional top-k.
    Scoring gathers vectors from a broadcast store when the catalog
    fits (numpy einsum per Arrow batch — no array shuffle at all);
    giant catalogs re-join embeddings instead.
    """
    sig = _signature_udf(dim, bands, rows)
    signed = embedded.select(
        "entity_id", F.explode(sig("embedding")).alias("band_hash")
    )
    cand = (
        signed.alias("l")
        .join(signed.alias("r"), "band_hash")
        .where(F.col("l.entity_id") < F.col("r.entity_id"))
        .select(
            F.col("l.entity_id").alias("src"), F.col("r.entity_id").alias("dst")
        )
        .dropDuplicates(["src", "dst"])
    )
    if _store_bytes(embedded.count(), dim) <= broadcast_max_bytes:
        scored = _score_candidates_broadcast(cand, embedded)
    else:
        scored = _score_candidates_join(cand, embedded)
    # checkpoint before mirroring: the union's two branches would each
    # re-run the scoring UDF stage (exchange reuse covers the band-join
    # shuffle, not the post-shuffle Python projection) — score each
    # unordered pair exactly once, then mirror the materialized rows
    scored = scored.localCheckpoint()
    both = scored.unionByName(
        scored.select(
            F.col("dst").alias("src"), F.col("src").alias("dst"), "score"
        )
    )
    return _topk_filter(both, top_k, cutoff)


def similar_entities_lsh_delta(
    embedded: DataFrame,
    old_embedded: DataFrame,
    old_similar: DataFrame,
    top_k: int = SIMILARITY_TOP_K,
    cutoff: float = SIMILARITY_CUTOFF,
    bands: int = LSH_BANDS,
    rows: int = LSH_ROWS,
    dim: int = DIM,
    broadcast_max_bytes: int = BROADCAST_SCORE_MAX_BYTES,
) -> DataFrame:
    """Incremental KNN maintenance: returns EXACTLY
    ``similar_entities_lsh(embedded)`` while recomputing only the
    rows that can differ from ``old_similar``.

    Soundness: a source's top-k depends only on (its own vector, the
    vectors of its band-mates). Both are unchanged unless the source
    shares ≥1 band bucket with some ADDED, REMOVED or MODIFIED
    entity — the dirty buckets are derived from the changed entities'
    OLD signatures (covers removals/old mates) and NEW signatures
    (covers additions/new mates). Every other source's stored rows
    are provably identical to a fresh recompute (the whole chain is
    deterministic), so they are reused verbatim.

    Physical shape: one signature pass over the current catalog (a
    vectorized matmul — cheap next to candidate scoring), a band
    equi-join with ONE side restricted to the affected sources, and
    scoring only |affected| × bucket-mates candidate pairs. At a
    production catalog a small delta touches a few buckets, so the
    shuffle and the Python scoring volume are delta-proportional; the
    full chain's corpus-wide pair dedup + scoring disappears.

    Falls back to the full chain when everything changed (e.g. first
    cycle) by construction — affected = catalog ⇒ identical work."""
    fp_new = embedded.select(
        "entity_id", F.xxhash64("entity_id", "embedding").alias("__h")
    )
    fp_old = old_embedded.select(
        "entity_id", F.xxhash64("entity_id", "embedding").alias("__h")
    ).localCheckpoint()
    changed_ids = (
        fp_new.join(fp_old, ["entity_id", "__h"], "left_anti")
        .select("entity_id")
        .localCheckpoint()
    )  # added + modified
    removed_ids = (
        fp_old.select("entity_id")
        .join(fp_new.select("entity_id"), "entity_id", "left_anti")
        .localCheckpoint()
    )
    if (
        changed_ids.limit(1).count() == 0
        and removed_ids.limit(1).count() == 0
    ):
        return old_similar

    sig = _signature_udf(dim, bands, rows)
    signed = (
        embedded.select(
            "entity_id", F.explode(sig("embedding")).alias("band_hash")
        )
        .localCheckpoint()
    )
    old_signed_changed = old_embedded.join(
        changed_ids.unionByName(removed_ids).distinct(),
        "entity_id",
        "left_semi",
    ).select("entity_id", F.explode(sig("embedding")).alias("band_hash"))
    new_signed_changed = signed.join(changed_ids, "entity_id", "left_semi")
    dirty_buckets = (
        old_signed_changed.select("band_hash")
        .unionByName(new_signed_changed.select("band_hash"))
        .distinct()
        .localCheckpoint()
    )
    affected_srcs = (
        signed.join(dirty_buckets, "band_hash", "left_semi")
        .select("entity_id")
        .distinct()
        .localCheckpoint()
    )
    # DIRECTED candidates for the affected sources against the whole
    # catalog — per-source candidate sets equal the full chain's
    # (band join is symmetric), so per-source top-k rows match
    cand = (
        signed.join(affected_srcs, "entity_id", "left_semi")
        .alias("l")
        .join(signed.alias("r"), "band_hash")
        .where(F.col("l.entity_id") != F.col("r.entity_id"))
        .select(
            F.col("l.entity_id").alias("src"), F.col("r.entity_id").alias("dst")
        )
        .dropDuplicates(["src", "dst"])
    )
    if _store_bytes(embedded.count(), dim) <= broadcast_max_bytes:
        scored = _score_candidates_broadcast(cand, embedded)
    else:
        scored = _score_candidates_join(cand, embedded)
    fresh = _topk_filter(scored, top_k, cutoff)
    kept = (
        old_similar.join(
            affected_srcs.withColumnRenamed("entity_id", "src"),
            "src",
            "left_anti",
        )
        .join(
            removed_ids.withColumnRenamed("entity_id", "src"),
            "src",
            "left_anti",
        )
        .select("src", "dst", "score")
    )
    return kept.unionByName(fresh)


# Driver-path ceiling. Above this the catalog goes through the
# distributed LSH chain; below it a single collect + numpy KNN wins
# (the driver KNN is O(n²) flops — 2000² × 64 ≈ 0.3 GFlop ≈ tens of
# ms in numpy; the distributed chain costs ~15 fixed-latency shuffle
# jobs). Round-1 shipped 50k, which was driver-feasible only for
# collect volume, not for the O(n²) similarity work.
LINK_DRIVER_THRESHOLD = 2_000


def knn_pairs_np(
    ids: list[str],
    mat: "np.ndarray",
    top_k: int = SIMILARITY_TOP_K,
    cutoff: float = SIMILARITY_CUTOFF,
) -> list[tuple[str, str, float]]:
    """Vectorized core/linkage.knn_pairs: same (cosine desc, dst asc)
    ordering and cutoff semantics, numpy instead of per-pair Python."""
    norms = np.sqrt((mat * mat).sum(axis=1))
    norms[norms == 0.0] = 1.0
    sims = (mat @ mat.T) / np.outer(norms, norms)
    out: list[tuple[str, str, float]] = []
    n = len(ids)
    for i in range(n):
        row = sims[i]
        cand = [(float(row[j]), ids[j]) for j in range(n) if j != i and row[j] >= cutoff]
        cand.sort(key=lambda t: (-t[0], t[1]))
        for score, dst in cand[:top_k]:
            out.append((ids[i], dst, score))
    return out


def link_entities_driver_path(
    catalog: DataFrame, threshold: int = LINK_DRIVER_THRESHOLD
) -> dict[str, DataFrame] | None:
    """Whole linking stage (embed → KNN → WCC → candidates → judge →
    canonical map) computed driver-side when the entity catalog is
    small — one collect in, four createDataFrames out, zero shuffle
    jobs. Runs the same core spec as the oracle
    (core/stub_embed + core/linkage), so results are identical to the
    distributed chain (tested). Returns None when the catalog exceeds
    ``threshold`` — callers then use the distributed operators.

    Rationale: the canonical entity catalog is typically orders of
    magnitude smaller than the corpus (vocabulary-bound); spending
    ~15 shuffle jobs of fixed latency on a few thousand rows is the
    wrong physical plan at ANY cluster size.
    """
    from ..core.linkage import (
        duplicate_candidate_groups,
        resolve_canonical_map,
        wcc_ids,
    )

    if threshold <= 0:
        return None
    rows = catalog.limit(threshold + 1).collect()
    if len(rows) > threshold:
        return None
    spark = catalog.sparkSession
    info = {r["entity_id"]: r for r in rows}
    embeddings = {
        eid: embed_entity(eid, r["description"]) for eid, r in info.items()
    }
    ids = sorted(embeddings)
    similar = (
        knn_pairs_np(ids, np.array([embeddings[i] for i in ids])) if ids else []
    )
    wcc = wcc_ids(sorted(info), [(s, d) for s, d, _ in similar])
    groups = duplicate_candidate_groups(sorted(info), wcc)
    cmap = resolve_canonical_map(groups)

    embedded_df = spark.createDataFrame(
        [
            (eid, r["entity_type"], r["description"], embeddings[eid])
            for eid, r in info.items()
        ],
        "entity_id string, entity_type string, description string, "
        "embedding array<double>",
    )
    similar_df = spark.createDataFrame(
        similar or [], "src string, dst string, score double"
    )
    wcc_df = spark.createDataFrame(
        list(wcc.items()) or [], "entity_id string, wcc long"
    )
    cmap_df = spark.createDataFrame(
        list(cmap.items()) or [], "entity_id string, canonical_id string"
    )
    # pre-seed the canonicalize broadcast-gate estimate (driver path
    # knows the exact map) for DIRECT consumers (plans/inmem);
    # checkpoint wrappers re-memoize on their fresh object
    cmap_df._cmap_est_bytes = (
        sum(len(k) + len(v) for k, v in cmap.items()) * 4 + len(cmap) * 48
    )
    return {
        "embedded": embedded_df,
        "similar": similar_df,
        "wcc": wcc_df,
        "canonical_map": cmap_df,
    }


#: below this catalog size method='auto' routes to the exact cross
#: join; at or above it, the LSH chain (and therefore the LSH delta
#: maintenance path in plans/incremental)
EXACT_THRESHOLD = 2_000


def similar_entities(
    embedded: DataFrame,
    method: str = "auto",
    exact_threshold: int = EXACT_THRESHOLD,
    **kwargs,
) -> DataFrame:
    """exact under ``exact_threshold`` rows (the interpreted per-pair
    cosine fold makes the O(n²) cross join viable only for small
    catalogs — 2k ≈ 4M pairs; round-1's 20k threshold allowed 4×10⁸),
    LSH above. Catalogs ≤ LINK_DRIVER_THRESHOLD normally never reach
    here (driver fast path), so auto effectively means LSH."""
    if method == "exact":
        return similar_entities_exact(embedded, **kwargs)
    if method == "lsh":
        return similar_entities_lsh(embedded, **kwargs)
    n = embedded.count()
    if n <= exact_threshold:
        return similar_entities_exact(embedded, **kwargs)
    return similar_entities_lsh(embedded, **kwargs)


def similar_entities_degraded(
    embedded: DataFrame,
    stored_fraction: float = 0.5,
    seed: int = 7,
    top_k: int = 5,
    cutoff: float = SIMILARITY_CUTOFF,
    exact_threshold: int = 2_000,
    bands: int = LSH_BANDS,
    rows: int = LSH_ROWS,
    dim: int = DIM,
    broadcast_max_bytes: int = BROADCAST_SCORE_MAX_BYTES,
) -> DataFrame:
    """GDS ``sampleRate`` analogue for the degraded KNN rung
    (similar_entity.py:182-222): EVERY entity queries, but neighbors
    are drawn only from a Bernoulli ``stored_fraction`` sample of the
    catalog — halved comparison volume, deterministic under ``seed``.

    Asymmetric by construction (queries = full catalog, stored =
    sample), unlike the symmetric ``similar_entities`` pipeline where
    sampling the single input would silently drop the unsampled half
    from the QUERY side too. Small catalogs take the exact
    query×stored join; large ones the banded LSH equi-join with the
    stored side sampled BEFORE signatures (the band shuffle shrinks
    with the sample). Directed candidates skip the score-once-mirror
    optimization — it only pays when both directions exist, and here
    dst is restricted to the sample."""
    stored = embedded.sample(
        withReplacement=False, fraction=stored_fraction, seed=seed
    )
    n = embedded.count()
    if n <= exact_threshold:
        pairs = (
            embedded.select(
                F.col("entity_id").alias("src"),
                F.col("embedding").alias("emb_a"),
            )
            .crossJoin(
                stored.select(
                    F.col("entity_id").alias("dst"),
                    F.col("embedding").alias("emb_b"),
                )
            )
            .where(F.col("src") != F.col("dst"))
            .withColumn("score", _cosine_expr("emb_a", "emb_b"))
        )
        return _topk_filter(pairs, top_k, cutoff)
    sig = _signature_udf(dim, bands, rows)
    q_signed = embedded.select(
        "entity_id", F.explode(sig("embedding")).alias("band_hash")
    )
    s_signed = stored.select(
        "entity_id", F.explode(sig("embedding")).alias("band_hash")
    )
    cand = (
        q_signed.alias("l")
        .join(s_signed.alias("r"), "band_hash")
        .where(F.col("l.entity_id") != F.col("r.entity_id"))
        .select(
            F.col("l.entity_id").alias("src"), F.col("r.entity_id").alias("dst")
        )
        .dropDuplicates(["src", "dst"])
    )
    if _store_bytes(n, dim) <= broadcast_max_bytes:
        scored = _score_candidates_broadcast(cand, embedded)
    else:
        scored = _score_candidates_join(cand, embedded)
    return _topk_filter(scored, top_k, cutoff)


def similar_entities_with_fallback(
    embedded: DataFrame,
    method: str = "auto",
    top_k: int = SIMILARITY_TOP_K,
    cutoff: float = SIMILARITY_CUTOFF,
    **kwargs,
) -> dict:
    """KNN resilience ladder — exact transcription of the reference's
    degraded-mode retry (similar_entity.py:162-222): primary attempt
    with topK=10; on failure retry with topK=5 AND sampleRate=0.5; a
    second failure returns status='error' instead of raising, exactly
    like the reference's error dict.

    GDS ``sampleRate`` bounds each node's candidate pool to a sample
    of the catalog; the Spark analogue samples the STORED side of the
    similarity join (Bernoulli 0.5, fixed seed) while every entity
    still queries — same halved comparison volume, deterministic here.

    Returns {"status": "success"|"error", "edges": DataFrame|None,
    "relationships": int, "note": ...}. The frames are EVALUATED
    inside each rung (eager checkpoint): a lazy frame would defer the
    failure past the ladder, making the except branches dead code.
    """
    try:
        edges = similar_entities(
            embedded, method=method, top_k=top_k, cutoff=cutoff, **kwargs
        ).localCheckpoint(eager=True)
        return {
            "status": "success",
            "edges": edges,
            "relationships": edges.count(),
            "note": None,
        }
    except Exception as primary_err:  # degraded rung: topK=5, sampleRate=0.5
        try:
            # GDS sampleRate bounds each node's candidate pool to a
            # sample of the catalog while every node still queries —
            # the asymmetric query×sampled-stored join, NOT a sample
            # of the whole input (which would drop half the entities
            # from the query side and silently skip their merges)
            edges = similar_entities_degraded(
                embedded, stored_fraction=0.5, seed=7, top_k=5,
                cutoff=cutoff,
            ).localCheckpoint(eager=True)
            return {
                "status": "success",
                "edges": edges,
                "relationships": edges.count(),
                "note": "fallback parameters used (topK=5, sampleRate=0.5)",
            }
        except Exception:
            return {
                "status": "error",
                "edges": None,
                "relationships": 0,
                "note": str(primary_err),
            }
