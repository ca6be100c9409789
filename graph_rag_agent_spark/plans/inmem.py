"""Warehouse-free pipeline composition (for entry()/bench/demos).

Same operator graph as plans/build.py without the checkpoint writes —
used where the driver just wants the resulting DataFrames.
"""

from __future__ import annotations

from pyspark.sql import DataFrame

from ..operators.canonicalize import (
    canonical_entities,
    rewrite_mentions,
    rewrite_triples,
)
from ..operators.chunking import chunk_conversations
from ..operators.community import community_catalog, detect_communities
from ..operators.extraction import extract_chunks
from ..operators.linking import entity_catalog, link_catalog
from ..operators.parsing import (
    entities_raw,
    mentions_raw,
    parse_extractions,
    triples_raw,
)


def build_kg_tables(
    transcripts: DataFrame,
    similarity_method: str = "auto",
    with_communities: bool = False,
    with_signatures: bool = False,
    max_levels: int = 3,
    with_chunk_index: bool = False,
) -> dict[str, DataFrame]:
    chunks = chunk_conversations(transcripts)
    if with_signatures:
        from ..operators.dedup import chunk_signature_columns

        chunks = chunk_signature_columns(chunks)
    if with_chunk_index:
        from ..operators.chunk_index import with_chunk_embeddings

        chunks = with_chunk_embeddings(chunks)
    chunks = chunks.localCheckpoint()
    parsed = parse_extractions(extract_chunks(chunks)).localCheckpoint()
    e_raw = entities_raw(parsed)
    t_raw = triples_raw(parsed)
    m_raw = mentions_raw(parsed)

    linked = link_catalog(entity_catalog(e_raw, chunks), similarity_method)
    embedded, similar = linked["embedded"], linked["similar"]
    wcc, cmap = linked["wcc"], linked["canonical_map"]

    triples = rewrite_triples(t_raw, cmap)
    mentions = rewrite_mentions(m_raw, cmap)
    entities = canonical_entities(embedded.join(wcc, "entity_id", "left"), cmap).select(
        "entity_id", "entity_type", "description", "embedding", "wcc"
    )

    tables = {
        "chunks": chunks,
        "entities_raw": e_raw,
        "triples_raw": t_raw,
        "mentions_raw": m_raw,
        "similar": similar,
        "canonical_map": cmap,
        "triples": triples,
        "mentions": mentions,
        "entities": entities,
    }
    if with_communities:
        triples = triples.localCheckpoint()
        entities = entities.localCheckpoint()
        membership, hierarchy = detect_communities(
            entities, triples, max_levels=max_levels
        )
        tables["membership"] = membership
        tables["hierarchy"] = hierarchy
        tables["communities"] = community_catalog(
            membership, entities, triples, mentions
        )
    return tables
