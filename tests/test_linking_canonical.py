"""Linking stage vs oracle: embeddings, similarity join (exact + LSH),
WCC, lev<3 candidates, merge + canonical map (FIXTURES.md §4)."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from graph_rag_agent_spark.core import linkage as L
from graph_rag_agent_spark.core.stub_embed import cosine, embed_entity
from graph_rag_agent_spark.operators.canonicalize import (
    candidate_groups,
    canonical_map,
    merge_groups,
)
from graph_rag_agent_spark.operators.chunking import chunk_conversations
from graph_rag_agent_spark.operators.components import (
    connected_components,
    consecutive_component_ids,
)
from graph_rag_agent_spark.operators.extraction import extract_chunks
from graph_rag_agent_spark.operators.linking import (
    entity_catalog,
    similar_entities_exact,
    similar_entities_lsh,
    with_embeddings,
)
from graph_rag_agent_spark.operators.parsing import entities_raw, parse_extractions


@pytest.fixture(scope="module")
def embedded_df(transcripts_df):
    chunks = chunk_conversations(transcripts_df)
    parsed = parse_extractions(extract_chunks(chunks))
    catalog = entity_catalog(entities_raw(parsed), chunks)
    return with_embeddings(catalog).cache()


@pytest.fixture(scope="module")
def oracle_embeddings(oracle_small):
    firsts = {}
    for e in oracle_small.entities_raw:
        firsts.setdefault(e["entity_id"], e["description"])
    return {eid: embed_entity(eid, desc) for eid, desc in firsts.items()}


def test_embeddings_match_oracle(embedded_df, oracle_embeddings):
    got = {r["entity_id"]: r["embedding"] for r in embedded_df.collect()}
    assert set(got) == set(oracle_embeddings)
    for eid, vec in got.items():
        want = oracle_embeddings[eid]
        assert max(abs(a - b) for a, b in zip(vec, want)) < 1e-12


def test_exact_similarity_matches_oracle(embedded_df, oracle_embeddings, oracle_small):
    got = {
        (r["src"], r["dst"]): r["score"]
        for r in similar_entities_exact(embedded_df).collect()
    }
    want = {(s["src"], s["dst"]): s["score"] for s in oracle_small.similar}
    assert set(got) == set(want)
    for k in got:
        assert abs(got[k] - want[k]) < 1e-9


def test_lsh_recall_against_exact(embedded_df, oracle_small):
    got = {(r["src"], r["dst"]) for r in similar_entities_lsh(embedded_df).collect()}
    want = {(s["src"], s["dst"]) for s in oracle_small.similar}
    # banded hyperplane LSH at cosine≥0.9 (angle ≤ 26°) must recover
    # nearly everything; require ≥0.9 recall and full precision on
    # the cutoff (all returned pairs are exact-re-ranked)
    assert len(got & want) / len(want) >= 0.9
    assert got <= want or all(p in want for p in got)


def test_canonical_map_matches_oracle(embedded_df, oracle_small, spark):
    similar = similar_entities_exact(embedded_df)
    comp = connected_components(
        similar.select("src", "dst"), nodes=embedded_df.select("entity_id")
    )
    wcc = consecutive_component_ids(comp).select(
        F.col("node").alias("entity_id"), "wcc"
    )
    groups = candidate_groups(wcc)
    merged = merge_groups(groups)
    cmap = {
        r["entity_id"]: r["canonical_id"] for r in canonical_map(merged).collect()
    }
    assert cmap == oracle_small.canonical_map


def test_resolve_canonical_paths_equal(embedded_df, oracle_small, spark):
    from graph_rag_agent_spark.operators.canonicalize import resolve_canonical

    similar = similar_entities_exact(embedded_df)
    comp = connected_components(
        similar.select("src", "dst"), nodes=embedded_df.select("entity_id")
    )
    wcc = consecutive_component_ids(comp).select(
        F.col("node").alias("entity_id"), "wcc"
    ).localCheckpoint()
    fast = {
        r["entity_id"]: r["canonical_id"]
        for r in resolve_canonical(wcc, driver_threshold=10**6).collect()
    }
    dist = {
        r["entity_id"]: r["canonical_id"]
        for r in resolve_canonical(wcc, driver_threshold=0).collect()
    }
    assert fast == dist == oracle_small.canonical_map


def test_resolve_canonical_grouped_skew_guard(embedded_df, oracle_small, spark):
    """Per-component applyInPandas path == skew-fallback distributed
    chain == oracle. skew_threshold=1 forces EVERY multi-member
    component through the big-component branch (candidate_groups →
    merge_groups → canonical_map), proving the guard routes and that
    both branches agree."""
    from graph_rag_agent_spark.operators.canonicalize import (
        resolve_canonical_grouped,
    )

    similar = similar_entities_exact(embedded_df)
    comp = connected_components(
        similar.select("src", "dst"), nodes=embedded_df.select("entity_id")
    )
    wcc = consecutive_component_ids(comp).select(
        F.col("node").alias("entity_id"), "wcc"
    ).localCheckpoint()
    grouped = {
        r["entity_id"]: r["canonical_id"]
        for r in resolve_canonical_grouped(wcc).collect()
    }
    all_big = {
        r["entity_id"]: r["canonical_id"]
        for r in resolve_canonical_grouped(wcc, skew_threshold=1).collect()
    }
    assert grouped == all_big == oracle_small.canonical_map


def test_wcc_ids_match_oracle(embedded_df, oracle_small, spark):
    similar = similar_entities_exact(embedded_df)
    comp = connected_components(
        similar.select("src", "dst"), nodes=embedded_df.select("entity_id")
    )
    got = {
        r["node"]: r["wcc"] for r in consecutive_component_ids(comp).collect()
    }
    first = {}
    for e in oracle_small.entities_raw:
        first.setdefault(e["entity_id"], e)
    want = L.wcc_ids(
        sorted(first), [(s["src"], s["dst"]) for s in oracle_small.similar]
    )
    assert got == want


def test_levenshtein_gate_negative():
    # "Sony Inc" vs "Sony": lev=4 → never merged (reference
    # similar_entity.py:324,352 would not either)
    assert L.levenshtein("sony inc", "sony") >= 3
    groups = L.duplicate_candidate_groups(
        ["Sony", "Sony Inc", "sony"], {"Sony": 0, "Sony Inc": 0, "sony": 0}
    )
    assert ["Sony", "sony"] in groups
    assert all("Sony Inc" not in g for g in groups)


def test_cluster_embedding_regime():
    # intra-cluster cosine ≥ 0.9, cross-cluster < 0.9
    sony = embed_entity("Sony", "Sony is a Organization")
    sony2 = embed_entity("sony", "sony is a Organization")
    acme = embed_entity("Acme Corp", "Acme Corp is a Organization")
    assert cosine(sony, sony2) >= 0.9
    assert cosine(sony, acme) < 0.9


def test_knn_fallback_ladder(spark):
    """similar_entity.py:162-222 resilience ladder: primary success,
    degraded retry on primary failure (topK=5 over a 0.5 sample), and
    the error dict when both rungs fail."""
    from graph_rag_agent_spark.operators.linking import (
        similar_entities_with_fallback,
        with_embeddings,
    )

    catalog = spark.createDataFrame(
        [(f"Widget {i}", "Product", f"desc {i}") for i in range(30)],
        "entity_id string, entity_type string, description string",
    )
    embedded = with_embeddings(catalog).localCheckpoint()

    ok = similar_entities_with_fallback(embedded, method="exact")
    assert ok["status"] == "success" and ok["note"] is None
    assert ok["relationships"] == ok["edges"].count()

    import graph_rag_agent_spark.operators.linking as linking_mod

    orig = linking_mod.similar_entities
    orig_deg = linking_mod.similar_entities_degraded

    # both rungs fail → error dict with the PRIMARY error, no raise
    def broken(embedded_df, *a, **kw):
        raise RuntimeError("simulated GDS failure")

    linking_mod.similar_entities = broken
    linking_mod.similar_entities_degraded = broken
    try:
        err = similar_entities_with_fallback(embedded, method="exact")
    finally:
        linking_mod.similar_entities = orig
        linking_mod.similar_entities_degraded = orig_deg
    assert err["status"] == "error" and err["edges"] is None
    assert "simulated GDS failure" in err["note"]

    # primary fails, degraded rung succeeds with topK=5 over the
    # sampled stored side
    calls = []

    def flaky(embedded_df, method="auto", **kw):
        calls.append(kw.get("top_k"))
        raise RuntimeError("simulated GDS failure")

    def spy_degraded(embedded_df, **kw):
        calls.append(kw.get("top_k"))
        return orig_deg(embedded_df, **kw)

    linking_mod.similar_entities = flaky
    linking_mod.similar_entities_degraded = spy_degraded
    try:
        deg = similar_entities_with_fallback(embedded, method="exact")
    finally:
        linking_mod.similar_entities = orig
        linking_mod.similar_entities_degraded = orig_deg
    assert deg["status"] == "success"
    assert deg["note"] and "topK=5" in deg["note"]
    assert calls == [10, 5]  # primary topK then degraded topK


def test_lsh_delta_equals_full_recompute(spark):
    """Incremental KNN maintenance: modify + remove + add entities,
    then similar_entities_lsh_delta must equal a full recompute
    bit-for-bit (unaffected sources' stored rows are reused verbatim;
    affected ones re-score against the whole catalog)."""
    from graph_rag_agent_spark.operators.linking import (
        similar_entities_lsh,
        similar_entities_lsh_delta,
        with_embeddings,
    )

    schema = "entity_id string, entity_type string, description string"
    base = [(f"Widget {i}", "Product", f"desc {i % 7}") for i in range(300)]
    v1 = with_embeddings(spark.createDataFrame(base, schema)).localCheckpoint()
    old_similar = similar_entities_lsh(v1, cutoff=0.3).localCheckpoint()

    # no change → the stored table is returned untouched
    assert similar_entities_lsh_delta(v1, v1, old_similar, cutoff=0.3) is old_similar

    rows2 = [
        (eid, t, ("MODIFIED " + d) if i % 29 == 0 else d)
        for i, (eid, t, d) in enumerate(base)
        if i % 31 != 0  # ~10 removals
    ] + [(f"Gadget {i}", "Product", f"fresh {i}") for i in range(8)]
    v2 = with_embeddings(spark.createDataFrame(rows2, schema)).localCheckpoint()

    got = {
        (r["src"], r["dst"], r["score"])
        for r in similar_entities_lsh_delta(
            v2, v1, old_similar, cutoff=0.3
        ).collect()
    }
    want = {
        (r["src"], r["dst"], r["score"])
        for r in similar_entities_lsh(v2, cutoff=0.3).collect()
    }
    assert got == want and want


def test_score_path_gate_is_byte_aware(spark):
    """The broadcast-store gate counts BYTES (rows × dim × 8), not
    rows: 500k rows of production 1,536-dim vectors (~6 GB) must route
    through the embedding re-join that the old 500k-ROW threshold
    would have broadcast; the same rows at 64-dim (~256 MB) still
    broadcast. And the two scoring paths agree bit-for-bit on pairs,
    to float tolerance on scores."""
    from graph_rag_agent_spark.operators.linking import (
        BROADCAST_SCORE_MAX_BYTES,
        _store_bytes,
        similar_entities_lsh,
        with_embeddings,
    )

    assert _store_bytes(500_000, 1536) > BROADCAST_SCORE_MAX_BYTES
    assert _store_bytes(500_000, 64) <= BROADCAST_SCORE_MAX_BYTES

    catalog = spark.createDataFrame(
        [(f"Widget {i}", "Product", f"desc {i}") for i in range(40)],
        "entity_id string, entity_type string, description string",
    )
    embedded = with_embeddings(catalog).localCheckpoint()
    via_broadcast = {
        (r["src"], r["dst"]): r["score"]
        for r in similar_entities_lsh(embedded, cutoff=-1.0).collect()
    }
    via_join = {
        (r["src"], r["dst"]): r["score"]
        for r in similar_entities_lsh(
            embedded, cutoff=-1.0, broadcast_max_bytes=0
        ).collect()
    }
    assert set(via_broadcast) == set(via_join) and via_join
    for k in via_join:
        assert abs(via_broadcast[k] - via_join[k]) < 1e-9


def test_degraded_knn_every_entity_queries(spark):
    """GDS sampleRate analogue: the degraded rung samples the STORED
    side only — every entity still queries (src covers the unsampled
    half), neighbors come only from the sample (dst ⊆ sample). Both
    the exact and LSH physical paths obey the contract."""
    from graph_rag_agent_spark.operators.linking import (
        similar_entities_degraded,
        with_embeddings,
    )

    catalog = spark.createDataFrame(
        [(f"Widget {i}", "Product", f"desc {i}") for i in range(40)],
        "entity_id string, entity_type string, description string",
    )
    embedded = with_embeddings(catalog).localCheckpoint()
    all_ids = {r["entity_id"] for r in embedded.select("entity_id").collect()}
    stored_ids = {
        r["entity_id"]
        for r in embedded.sample(False, 0.5, 7).select("entity_id").collect()
    }
    unsampled = all_ids - stored_ids
    assert unsampled and stored_ids  # the sample actually split

    for exact_threshold in (2_000, 0):  # exact path, then LSH path
        edges = similar_entities_degraded(
            embedded,
            stored_fraction=0.5,
            seed=7,
            top_k=5,
            cutoff=-1.0,
            exact_threshold=exact_threshold,
        ).collect()
        assert edges
        assert {r["dst"] for r in edges} <= stored_ids
        assert {r["src"] for r in edges} & unsampled, (
            "unsampled entities must still query"
        )


def test_link_catalog_driver_path_equals_distributed_chain(transcripts_df):
    """link_catalog's driver pass and its distributed chain (every
    driver fast path off) give the same four tables on the fixture
    catalog: embeddings, similar pairs (scores to 1e-9), the wcc
    partition and the canonical map."""
    from graph_rag_agent_spark.operators.linking import link_catalog

    chunks = chunk_conversations(transcripts_df)
    parsed = parse_extractions(extract_chunks(chunks))
    catalog = entity_catalog(entities_raw(parsed), chunks).cache()
    driver = link_catalog(catalog, "exact")
    dist = link_catalog(catalog, "exact", driver_threshold=0)
    assert driver["embedded_rows"] is None and dist["embedded_rows"] is None
    assert not driver["lsh_delta"] and not dist["lsh_delta"]

    def cmap(out):
        return {tuple(r) for r in out["canonical_map"].collect()}

    def partition(out):
        groups: dict = {}
        for r in out["wcc"].collect():
            groups.setdefault(r["wcc"], set()).add(r["entity_id"])
        return {frozenset(g) for g in groups.values()}

    def similar(out):
        return {(r["src"], r["dst"]): r["score"] for r in out["similar"].collect()}

    def embedded(out):
        return {
            r["entity_id"]: (r["entity_type"], r["description"], r["embedding"])
            for r in out["embedded"].collect()
        }

    assert cmap(driver) and cmap(driver) == cmap(dist)
    assert partition(driver) == partition(dist)
    s_driver, s_dist = similar(driver), similar(dist)
    assert s_driver and s_driver.keys() == s_dist.keys()
    assert all(abs(s_driver[k] - s_dist[k]) <= 1e-9 for k in s_driver)
    e_driver, e_dist = embedded(driver), embedded(dist)
    assert e_driver.keys() == e_dist.keys()
    for k, (etype, desc, vec) in e_driver.items():
        assert e_dist[k][:2] == (etype, desc)
        assert e_dist[k][2] == pytest.approx(vec, abs=1e-9)


def test_plans_compose_no_linking_chain_of_their_own():
    """The plans reach the linking operators only through
    linking.link_catalog: none binds a chain operator of its own."""
    import importlib

    for mod in ("build", "incremental", "inmem", "benchjob"):
        plan = importlib.import_module(f"graph_rag_agent_spark.plans.{mod}")
        for name in (
            "link_entities_driver_path",
            "similar_entities",
            "resolve_canonical",
        ):
            assert not hasattr(plan, name), f"plans.{mod}.{name}"
