"""Incremental KG update (SURVEY.md §3.2, S9, J9).

Reference behavior reproduced (/root/reference/build/
incremental_graph_builder.py:880-958 + incremental/file_change_manager
.py:53-134):
  1. change detection: SHA-256 content registry per source unit (file
     there, conversation here) diffed against the stored registry →
     added / modified / deleted conv_ids. Expressed as joins on the
     registry tables — the Iceberg-native variant would diff
     snapshots, same contract.
  2. deleted/modified cascade: chunks of those conversations are
     dropped; entities whose EVERY mention comes from dropped chunks
     are deleted (reference counting via anti-join — J9,
     incremental_graph_builder.py:566-669); shared entities survive.
     Entities flagged protected/manual_edit are never cascaded
     (conflict policy 'manual_first', config/settings.py:40-44).
  3. re-run the build pipeline on added+modified conversations only;
     the extraction cache is looked up through the chunk→conv index,
     so even a modified conversation only pays for its new chunk
     texts.
  4. MERGE instead of rewrite: the warehouse has ONE layout (bucketed
     per-key tables, build.FORMAT_VERSION 3) and ONE cycle
     (``incremental_update``). Per-conversation tables take a
     conv-keyed MERGE of the changed conversations; the canonical
     triples / mentions are re-pointed only where the canonical map or
     a contributing conversation changed, found via the entity→conv
     and chunk→conv inverted indexes; linking reuses its stored tables
     when the entity catalog did not move and otherwise runs one full
     recompute (``link_catalog``, as build_all); community detection
     runs one full recompute on every cycle with work
     (build.write_communities, shared with build_all). The
     entity-scale tables (linking, entities, communities) are
     recomputed in full, so they are written whole, each through the
     crash-safe overwrite (build._Warehouse.overwrite). Warehouses in
     any older format are rejected and rebuilt with
     ``build_all(resume=False)``.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..sources.transcripts import conversation_registry
from . import fsio
from .build import (
    JOURNAL_TABLES,
    LINK_PARAMS_FILE,
    NEXT_SUFFIX,
    WAREHOUSE_TABLES,
    BuildConfig,
    _run_parallel,
    _Warehouse,
    canonical_entity_rows,
    community_fingerprint,
    entity_conv_pairs,
    link_fingerprint,
    write_communities,
)


def detect_changes(
    new_registry: DataFrame, old_registry: DataFrame
) -> dict[str, DataFrame]:
    """→ {'added', 'modified', 'deleted'} conv_id DataFrames
    (file_change_manager.detect_changes semantics)."""
    new_keys = new_registry.select("conv_id", "content_sha256")
    old_keys = old_registry.select(
        F.col("conv_id"), F.col("content_sha256").alias("old_sha256")
    )
    joined = new_keys.join(old_keys, "conv_id", "full_outer")
    return {
        "added": joined.where(F.col("old_sha256").isNull()).select("conv_id"),
        "modified": joined.where(
            F.col("old_sha256").isNotNull()
            & F.col("content_sha256").isNotNull()
            & (F.col("content_sha256") != F.col("old_sha256"))
        ).select("conv_id"),
        "deleted": joined.where(F.col("content_sha256").isNull()).select("conv_id"),
    }


def cascade_delete_entities(
    mentions: DataFrame,
    dropped_convs: DataFrame,
    protected: DataFrame | None = None,
) -> DataFrame:
    """Entities mentioned ONLY by conversations being dropped →
    delete list (minus protected). Reference-counted via anti-join
    (incremental_graph_builder.py:585-657)."""
    surviving_mentions = mentions.join(dropped_convs, "conv_id", "left_anti")
    only_dropped = (
        mentions.join(dropped_convs, "conv_id", "left_semi")
        .select("entity_id")
        .distinct()
        .join(surviving_mentions.select("entity_id").distinct(), "entity_id", "left_anti")
    )
    if protected is not None:
        only_dropped = only_dropped.join(protected, "entity_id", "left_anti")
    return only_dropped


def incremental_update(
    spark: SparkSession,
    new_transcripts: DataFrame,
    warehouse: str,
    cfg=None,
) -> dict[str, DataFrame]:
    """One incremental cycle against a build_all warehouse (format
    v3 — any other stamp raises; older warehouses are rebuilt).

    The reference re-points only edges touched by merges
    (entity_merger.py:348-360, cascade at
    incremental_graph_builder.py:566-669); so does this cycle. Every
    corpus-proportional READ is bucket-pruned and every
    corpus-proportional WRITE a keyed MERGE:

      * per-conversation tables (transcripts/chunks/extractions/
        parsed/raw entity·triple·mention tables/registry): changed
        conversations recomputed, conv-keyed MERGE (delete stale conv
        groups + insert new) — cost O(changed convs).
      * canonical-map DELTA: entities whose effective canonical id
        changed vs the stored map (full-outer diff of two
        catalog-scale maps).
      * affected scope: stale convs ∪ convs containing delta-mapped
        entities, found via the entity→conv inverted index
        (bucket-pruned lookup — the Spark analogue of Neo4j's
        adjacency index the reference leans on).
      * triples: winner rows recomputed ONLY for affected canonical
        keys, from exactly the contributor conversations (preimage →
        index → pruned read), MERGEd by triple key.
      * mentions: recomputed ONLY for affected chunks (shared-chunk
        contributors via the chunk→conv index), MERGEd by chunk id.
      * chunk embeddings: pruned-reuse + chunk-keyed upsert; rows for
        vanished content-hash chunks are left as orphans (content ids
        are shared across conversations — reclaiming them needs a
        global reference count, which belongs in a periodic vacuum
        job, not the hot cycle: plans/maintenance.py
        ``vacuum_chunk_embeddings`` / ``maintain_warehouse``).

    Remaining corpus-proportional work, by design (matching the
    reference, which re-runs entity linking and community detection
    globally every cycle, incremental_graph_builder.py:880-958): ONE
    columnar scan of the raw entity table to rebuild the entity
    catalog aggregate, one full recompute per global stage — connected
    components + canonical resolve over the similarity graph, and
    community detection over the (entity-scale) graph, the same
    code build_all runs — and the community-rank countDistinct over
    mentions. When the rebuilt catalog is bit-identical to the stored
    one, the linking recompute is skipped
    (_stored_linking_if_catalog_unchanged — the chain is deterministic
    in the catalog, so the stored tables ARE its output); and when the
    SOURCE is bit-identical (zero detected changes, no surviving
    journal, config sidecars matching), the whole cycle is the
    reference's early return
    (incremental_graph_builder.py:903-905): change detection +
    metadata probes, then the stored tables (step 1.5). The
    entity-scale tables — entity_embeddings, similar, wcc,
    canonical_map, entities and the community tables — are recomputed
    in full, so they are written whole (catalog-proportional, never
    corpus-proportional), each through the crash-safe overwrite whose
    interrupted swaps the next cycle finishes first
    (_Warehouse.heal); entity EMBEDDING compute (the LLM boundary) is
    delta-only via (entity_id, description) reuse.

    Crash-retryability across the WHOLE cycle: the conv-keyed merges
    destroy the pre-merge evidence the canonical rewrites need, and the
    registry (the change detector's only input) commits right after
    them — so a rewrite-intent journal (step 3.5: pending conv ids /
    old-map triple keys / chunk ids, all delta-proportional) is
    persisted before the first merge and cleared only after the last
    table commits. A retry after ANY crash point re-derives the full
    rewrite scope from detection ∪ journal; all merges and keyed
    upserts are idempotent.

    Lineage rows (stage='incr_*') record the rows each delta stage
    actually processed; tests assert they scale with the delta, not
    the corpus.
    """
    cfg = cfg or BuildConfig(warehouse=warehouse, resume=False)
    wh = _Warehouse(spark, warehouse)
    wh.check_format()
    link_params = link_fingerprint(cfg)
    # each config sidecar is read once per cycle: the link sidecar
    # guards step 1.5 and the linking reuse (step 6), the community
    # sidecar only step 1.5
    link_sidecar_ok = wh.stored_link_params() == link_params

    import time as _time

    from ..operators.canonicalize import (
        TRIPLE_KEY_COL,
        rewrite_mentions,
        rewrite_triples,
        with_triple_key,
    )
    from ..operators.chunk_index import with_chunk_embeddings
    from ..operators.chunking import chunk_conversations
    from ..operators.extraction import extract_chunks
    from ..operators.linking import entity_catalog, link_catalog
    from ..operators.parsing import (
        entities_raw,
        mentions_raw,
        parse_extractions,
        triples_raw,
    )
    from .merge import read_pruned, upsert_groups

    ck = lambda df: df.localCheckpoint()  # noqa: E731

    # ---- 1. change detection -----------------------------------------
    old_registry = wh.read("registry")
    new_registry = ck(conversation_registry(new_transcripts))
    changes = {
        k: ck(v) for k, v in detect_changes(new_registry, old_registry).items()
    }
    changed = ck(changes["added"].union(changes["modified"]).distinct())
    dropped = ck(changes["deleted"].union(changes["modified"]).distinct())
    stale = ck(dropped.union(changed).distinct())

    # ---- 1.5. unchanged-source shortcut ------------------------------
    # The reference's incremental cycle returns right after change
    # detection when nothing changed (incremental_graph_builder.py:
    # 903-905). Same here: a registry-identical source means no conv
    # table was (or needs to be) touched, so when no crashed cycle left
    # obligations (journal empty post-heal), the stored linking AND
    # community tables were produced under this cfg (both sidecar
    # fingerprints match), and every output table exists, the stored
    # warehouse IS this cycle's output. A polling stream that finds a
    # quiet source pays change detection + metadata probes — nothing
    # else (no empty-frame chunk/extract/merge jobs, no catalog scan,
    # no EXCEPT probe). Any guard failing falls through to the normal
    # path, which handles partial reuse stage by stage.
    # The stale probe (one limit(1) job) and the journal probe run once
    # here and are reused by step 3.5. The heal runs first: step 2
    # reads canonical_map as pre-cycle evidence, and a table whose
    # overwrite a crash interrupted is complete only as ``__next``.
    root_names = wh.heal()
    journal_present = [
        n for n in JOURNAL_TABLES if n in root_names and wh.exists(n)
    ]
    journal_on_disk = bool(journal_present)
    has_new_obligations = bool(stale.limit(1).count())
    if (
        not has_new_obligations
        and not journal_on_disk
        and link_sidecar_ok
        and wh.stored_community_params() == community_fingerprint(cfg)
        and all(wh.exists(n) for n in WAREHOUSE_TABLES)
    ):
        wh.append_lineage(
            "incr_noop_shortcut", -1, 1, _time.time(), defer=True
        )
        wh.flush_lineage()
        out = _read_out_tables(wh)
        out["cascade_deleted_entities"] = spark.createDataFrame(
            [], "entity_id string"
        )
        out["changes_added"] = changes["added"]
        out["changes_modified"] = changes["modified"]
        out["changes_deleted"] = changes["deleted"]
        return out

    # ---- 2. old-state slices (pruned reads, BEFORE any merge) --------
    old_traw_stale, old_mraw_stale, old_eraw_stale, old_chunks_stale, \
        old_cmap = _run_parallel([
            lambda: ck(read_pruned(spark, wh.path("triples_raw"), stale)),
            lambda: ck(read_pruned(spark, wh.path("mentions_raw"), stale)),
            lambda: ck(read_pruned(spark, wh.path("entities_raw"), stale)),
            lambda: ck(read_pruned(spark, wh.path("chunks"), stale)),
            lambda: ck(wh.read("canonical_map")),
        ])
    old_pairs_stale = ck(
        entity_conv_pairs(old_eraw_stale, old_traw_stale, old_mraw_stale)
    )

    # cascade audit (J9) — canonical entities whose EVERY mention
    # lives in a dropped conversation: the same reference count
    # cascade_delete_entities computes over the canonical mentions
    # table, rebuilt here from index lookups instead of a corpus scan.
    #   1. candidates: canonical ids with a raw mention in a dropped
    #      conv (mentions basis, as cascade_delete_entities — NOT the
    #      entities∪triples union the conv index stores);
    #   2. aliases: ALL raw preimages of those canonicals — survival
    #      is a property of the canonical entity, so an alias seen
    #      only in dropped convs must not flag its canonical deleted
    #      while a sibling alias is still mentioned elsewhere;
    #   3. survival: a raw mention of ANY alias in a surviving conv,
    #      probed on the mentions_raw slice of the aliases' surviving
    #      convs (conv set pruned through entity_conv_index).
    # Bounded by the candidates' alias/conv footprint (hub-entity
    # proportional), never corpus-proportional.
    def _to_canon(df):
        return (
            df.join(old_cmap, "entity_id", "left")
            .select(
                F.coalesce("canonical_id", F.col("entity_id")).alias(
                    "canonical_id"
                )
            )
            .distinct()
        )

    cand_m = (
        old_mraw_stale.join(dropped, "conv_id", "left_semi")
        .select("entity_id")
        .distinct()
    )
    cand_canon = ck(_to_canon(cand_m))
    aliases = ck(
        old_cmap.join(cand_canon, "canonical_id", "left_semi")
        .select("entity_id")
        .union(cand_canon.select(F.col("canonical_id").alias("entity_id")))
        .union(cand_m)
        .distinct()
    )
    alias_surviving_convs = (
        read_pruned(spark, wh.path("entity_conv_index"), aliases)
        .join(dropped, "conv_id", "left_anti")
        .select("conv_id")
        .distinct()
    )
    surviving_canon = _to_canon(
        read_pruned(spark, wh.path("mentions_raw"), alias_surviving_convs)
        .join(aliases, "entity_id", "left_semi")
        .select("entity_id")
        .distinct()
    )
    cascade = ck(
        cand_canon.join(surviving_canon, "canonical_id", "left_anti")
        .select(F.col("canonical_id").alias("entity_id"))
        .distinct()
    )

    # ---- 3. per-conversation deltas ----------------------------------
    changed_transcripts = ck(
        new_transcripts.join(changed, "conv_id", "left_semi")
    )
    t0 = _time.time()
    new_chunks = ck(chunk_conversations(changed_transcripts))
    wh.append_lineage("incr_chunks", -1, new_chunks.count(), t0, defer=True)

    # extraction cache: chunk ids are content hashes, so a new
    # conversation can share chunk text with ANY conversation — not
    # just its own previous version. The chunk_conv_index (pre-merge
    # state, bucketed by chunk_id) maps the delta's chunk ids to every
    # conversation already holding them; reading the extractions of
    # those convs plus the stale convs gives full cross-conversation
    # cache hits at delta-proportional cost (bounded by the new
    # chunks' duplication footprint — never a corpus cache scan).
    # extract_chunks dedups the cache to one result per chunk id, so a
    # nondeterministic extractor can't seed conflicting rows for
    # identical content. No ck: consumed only while new_extractions
    # materializes, before the extractions/index tables are merged.
    cache_convs = (
        read_pruned(
            spark,
            wh.path("chunk_conv_index"),
            new_chunks.select("chunk_id").distinct(),
        )
        .select("conv_id")
        .union(stale.select("conv_id"))
        .distinct()
    )
    cache = read_pruned(spark, wh.path("extractions"), cache_convs).select(
        "chunk_id", "result"
    )
    t0 = _time.time()
    kwargs = {} if cfg.extractor is None else {"extractor": cfg.extractor}
    new_extractions = ck(extract_chunks(new_chunks, cache=cache, **kwargs))
    wh.append_lineage("incr_extract", -1, new_extractions.count(), t0, defer=True)

    t0 = _time.time()
    parsed_new = ck(parse_extractions(new_extractions))
    wh.append_lineage("incr_parse", -1, parsed_new.count(), t0, defer=True)
    # raw-table deltas are cheap narrow maps over the checkpointed
    # parsed_new — no ck of their own (each evaluation re-derives from
    # the materialized parent)
    e_raw_new = entities_raw(parsed_new)
    t_raw_new = triples_raw(parsed_new)
    m_raw_new = mentions_raw(parsed_new)

    # ---- 3.5. rewrite-intent journal --------------------------------
    # The conv-keyed merges below DESTROY the old-state evidence the
    # canonical rewrites (steps 8-10) need: once a deleted conv's raw
    # rows are merged away, nothing in the warehouse says which winner
    # rows in `triples`/`mentions` it contributed to. The registry then
    # commits at the end of step 4+5, so a crash anywhere between that
    # commit and the step 8-10 upserts would otherwise orphan those
    # winner rows forever — the retry detects zero changes and the
    # stale/delta scopes all come up empty. Journaling the rewrite
    # obligations FIRST (stale+changed conv ids, the stale convs' old
    # canonical triple keys, the stale+new chunk ids — all
    # delta-proportional) lets any retry re-derive the full rewrite
    # scope from the journal alone; the journal is cleared only after
    # the whole cycle commits. Unioning with a previous crashed cycle's
    # journal (instead of overwriting it) keeps obligations alive even
    # when the retry's own change detection is empty.
    journal = _read_journal(spark, wh, journal_present)
    k_old_stale = ck(_triple_keys(old_traw_stale, old_cmap))
    pending_convs = ck(
        journal["pending_rewrite_convs"].union(stale).distinct()
    )
    pending_tkeys = ck(
        journal["pending_rewrite_tkeys"].union(k_old_stale).distinct()
    )
    pending_chunks = ck(
        journal["pending_rewrite_chunks"]
        .union(old_chunks_stale.select("chunk_id"))
        .union(new_chunks.select("chunk_id"))
        .distinct()
    )
    # A no-change cycle (stale empty ⇒ every journaled union above is a
    # no-op) adds no obligations: skip the three write jobs on the
    # steady-state hot path. A surviving journal is left in place —
    # this cycle still fulfils it through pending_* and clears it on
    # commit.
    if has_new_obligations:
        _write_journal(
            wh,
            {
                "pending_rewrite_convs": pending_convs,
                "pending_rewrite_tkeys": pending_tkeys,
                "pending_rewrite_chunks": pending_chunks,
            },
        )
    journal_live = has_new_obligations or journal_on_disk

    # ---- 4+5. conv-keyed MERGEs + inverted-index maintenance, all
    # mutually independent (distinct paths, inputs checkpointed) → one
    # driver-thread pool so their ~4 barrier jobs each overlap -------
    new_pairs, new_chunk_pairs = _run_parallel([
        lambda: ck(entity_conv_pairs(e_raw_new, t_raw_new, m_raw_new)),
        lambda: ck(new_chunks.select("chunk_id", "conv_id").distinct()),
    ])
    touched_entities, touched_chunks = _run_parallel([
        lambda: ck(
            old_pairs_stale.select("entity_id")
            .union(new_pairs.select("entity_id"))
            .distinct()
        ),
        lambda: ck(
            old_chunks_stale.select("chunk_id")
            .union(new_chunk_pairs.select("chunk_id"))
            .distinct()
        ),
    ])

    per_conv = {
        "transcripts": changed_transcripts,
        "chunks": new_chunks,
        "extractions": new_extractions,
        "parsed": parsed_new,
        "entities_raw": e_raw_new,
        "triples_raw": t_raw_new,
        "mentions_raw": m_raw_new,
    }

    def _merge_conv_table(name, delta):
        info = upsert_groups(spark, wh.path(name), delta, stale, "conv_id")
        wh.append_lineage(
            f"incr_merge_{name}",
            len(info["touched_buckets"]),
            -1,
            _time.time(),
            defer=True,
        )

    def _merge_inverted_index(name, key, touched, new_index_rows):
        rows = ck(
            read_pruned(spark, wh.path(name), touched)
            .join(stale, "conv_id", "left_anti")
            .unionByName(new_index_rows)
            .distinct()
        )
        upsert_groups(spark, wh.path(name), rows, touched, key)

    _run_parallel(
        [
            (lambda n=n, d=d: _merge_conv_table(n, d))
            for n, d in per_conv.items()
        ]
        + [
            lambda: _merge_inverted_index(
                "entity_conv_index", "entity_id", touched_entities, new_pairs
            ),
            lambda: _merge_inverted_index(
                "chunk_conv_index", "chunk_id", touched_chunks, new_chunk_pairs
            ),
        ]
    )
    # the registry commits LAST among the conv tables, after every
    # data-table merge above has succeeded: change detection keys
    # solely off the stored registry, so under foreachBatch's
    # at-least-once retry a cycle that died mid-merge must re-detect
    # its conversations as changed on the retry (the conv-keyed
    # upserts are idempotent). Committing the registry first would
    # make the retry a no-op and leave any failed table stale forever.
    # The global stages (6-12) are covered past this point by the
    # rewrite-intent journal (step 3.5): a crash after this commit
    # leaves the retry with zero detected changes, and the journal is
    # what re-derives the canonical rewrite scope.
    _merge_conv_table(
        "registry", new_registry.join(changed, "conv_id", "left_semi")
    )

    # ---- 6. global linking over the merged catalog, embeddings
    # recomputed ONLY where (entity_id, description) changed ----------
    e_raw_merged = wh.read("entities_raw")
    chunks_merged = wh.read("chunks")
    catalog = entity_catalog(e_raw_merged, chunks_merged)

    # catalog-unchanged shortcut: the whole linking chain (embed → LSH
    # → CC → resolve) is a DETERMINISTIC pure function of the
    # (entity_id, entity_type, description) catalog, so when a cycle
    # leaves the catalog bit-identical to the stored one (re-delivered
    # data; edits that only move mentions around existing entities, as
    # in 2 of the 10 seeded perfbench delta_refresh deltas), the stored
    # similar/wcc/canonical_map ARE the chain's output — reuse them and
    # skip the catalog-proportional recompute. One entity-scale EXCEPT
    # probe decides; any table missing or any difference falls through
    # to the full chain.
    stored, link_reused = _stored_linking_if_catalog_unchanged(
        wh, catalog, link_sidecar_ok
    )
    if link_reused:
        embedded, similar, wcc, cmap = _run_parallel(
            [lambda t=t: ck(t) for t in stored.values()]
        )
        wh.append_lineage(
            "incr_link_reused", -1, 1, _time.time(), defer=True
        )
    else:
        # the committed linking set (None when the link-params sidecar
        # declines) seeds the (entity_id, description) embedding reuse
        # and the incremental KNN maintenance of the distributed chain
        t0 = _time.time()
        linked = link_catalog(catalog, cfg.similarity_method, prior=stored)
        embedded, similar, wcc, cmap = _run_parallel(
            [
                lambda k=k: ck(linked[k])
                for k in ("embedded", "similar", "wcc", "canonical_map")
            ]
        )
        if linked["embedded_rows"] is not None:
            wh.append_lineage(
                "incr_embed", -1, linked["embedded_rows"], t0, defer=True
            )
        if linked["lsh_delta"]:
            # marker row (rows=1, like incr_link_reused): the table
            # count would read catalog-proportional and obscure that
            # only the affected sources re-scored
            wh.append_lineage(
                "incr_similar_delta", -1, 1, t0, defer=True
            )

    # ---- 7. canonical-map delta → affected scope ---------------------
    oc = old_cmap.select("entity_id", F.col("canonical_id").alias("__old_c"))
    nc = cmap.select("entity_id", F.col("canonical_id").alias("__new_c"))
    delta_entities = ck(
        oc.join(nc, "entity_id", "full_outer")
        .where(
            F.coalesce("__old_c", "entity_id")
            != F.coalesce("__new_c", "entity_id")
        )
        .select("entity_id")
        .distinct()
    )
    delta_convs = ck(
        read_pruned(spark, wh.path("entity_conv_index"), delta_entities)
        .select("conv_id")
        .distinct()
    )
    # pending_convs ⊇ stale, plus any crashed cycle's unfinished scope
    affected_convs = ck(pending_convs.union(delta_convs).distinct())
    wh.append_lineage(
        "incr_affected_convs", -1, affected_convs.count(), _time.time(),
        defer=True,
    )

    # ---- 8-10, 12: four mutually independent tasks (mentions /
    # triples delta rewrites, the whole entities table, chunk
    # embeddings — distinct target tables, read-only sharing of the
    # merged raw tables and indexes) run from one driver-thread pool --

    def _rewrite_mentions_task():
        m_raw_delta = read_pruned(spark, wh.path("mentions_raw"), delta_convs)
        chunks_repointed = m_raw_delta.join(
            delta_entities, "entity_id", "left_semi"
        ).select("chunk_id")
        # pending_chunks ⊇ stale ∪ new chunk ids (journaled step 3.5)
        affected_chunks = ck(
            pending_chunks.union(chunks_repointed).distinct()
        )
        contrib_convs_m = (
            read_pruned(spark, wh.path("chunk_conv_index"), affected_chunks)
            .select("conv_id")
            .distinct()
        )
        m_contrib = read_pruned(
            spark, wh.path("mentions_raw"), contrib_convs_m
        ).join(affected_chunks, "chunk_id", "left_semi")
        t0 = _time.time()
        mentions_delta = ck(rewrite_mentions(m_contrib, cmap))
        wh.append_lineage(
            "incr_mentions_rewrite", -1, mentions_delta.count(), t0, defer=True
        )
        upsert_groups(
            spark, wh.path("mentions"), mentions_delta, affected_chunks,
            "chunk_id",
        )

    def _rewrite_triples_task():
        t_raw_aff = ck(
            read_pruned(spark, wh.path("triples_raw"), affected_convs)
        )
        k_new = _triple_keys(t_raw_aff, cmap)
        # pending_tkeys ⊇ k_old_stale (journaled in step 3.5, including
        # any crashed cycle's keys whose pre-merge evidence is gone);
        # every affected conv (= pending ∪ delta — exactly the set
        # t_raw_aff was read pruned to) also contributes its CURRENT
        # raw keys under the stored map — the winner rows those keys
        # name are superseded by the rewrite under the new map
        k_old_repointed = _triple_keys(t_raw_aff, old_cmap)
        affected_keys = ck(
            k_new.union(pending_tkeys).union(k_old_repointed).distinct()
        )
        aff_canon = (
            affected_keys.select(F.col("subj").alias("entity_id"))
            .union(affected_keys.select(F.col("obj").alias("entity_id")))
            .distinct()
        )
        preimages = ck(
            cmap.join(
                aff_canon.withColumnRenamed("entity_id", "canonical_id"),
                "canonical_id",
                "left_semi",
            )
            .select("entity_id")
            .union(aff_canon)
            .distinct()
        )
        contrib_convs_t = (
            read_pruned(spark, wh.path("entity_conv_index"), preimages)
            .select("conv_id")
            .union(affected_convs)
            .distinct()
        )
        t_contrib = read_pruned(spark, wh.path("triples_raw"), contrib_convs_t)
        t0 = _time.time()
        triples_delta = ck(
            with_triple_key(rewrite_triples(t_contrib, cmap, keys=affected_keys))
        )
        wh.append_lineage(
            "incr_triples_rewrite", -1, triples_delta.count(), t0, defer=True
        )
        stale_tkeys = with_triple_key(affected_keys).select(TRIPLE_KEY_COL)
        upsert_groups(
            spark, wh.path("triples"), triples_delta, stale_tkeys, TRIPLE_KEY_COL
        )

    def _chunk_embeddings_task():
        # scope = new chunk ids ∪ the journal's pending ids: a retry
        # after the registry committed has empty new_chunks, and the
        # journal is what names the chunks whose embeddings the crashed
        # cycle never wrote. Texts for missing ids come from the MERGED
        # chunks table (conv-bucketed, so the id set routes through the
        # chunk→conv index first) — both paths embed identically.
        # Already-stored rows are kept VERBATIM, orphans included:
        # reclaiming content-hash ids needs the global liveness check
        # the periodic vacuum does (plans/maintenance.py), not the hot
        # cycle.
        want_ids = ck(
            new_chunks.select("chunk_id").union(pending_chunks).distinct()
        )
        cur_ce = ck(
            read_pruned(spark, wh.path("chunk_embeddings"), want_ids)
        )
        holder_convs = (
            read_pruned(spark, wh.path("chunk_conv_index"), want_ids)
            .select("conv_id")
            .distinct()
        )
        live = read_pruned(spark, wh.path("chunks"), holder_convs).join(
            want_ids, "chunk_id", "left_semi"
        )
        todo_ce = (
            live.select("chunk_id", "text")
            .dropDuplicates(["chunk_id"])
            .join(cur_ce.select("chunk_id"), "chunk_id", "left_anti")
        )
        ce_delta = ck(
            cur_ce.select("chunk_id", "embedding").unionByName(
                with_chunk_embeddings(todo_ce).select("chunk_id", "embedding")
            )
        )
        upsert_groups(
            spark, wh.path("chunk_embeddings"), ce_delta, want_ids,
            "chunk_id",
        )

    _, _, entities, _ = _run_parallel(
        [
            _rewrite_mentions_task,
            _rewrite_triples_task,
            lambda: wh.write(
                canonical_entity_rows(embedded, wcc, cmap), "entities"
            ),
            _chunk_embeddings_task,
        ]
    )

    # ---- 11. the four linking tables, written whole in one pool;
    # nothing to write when the stored tables were reused verbatim.
    # This runs after steps 8-10, so canonical_map commits only once
    # no table depends on the map it replaces: a crash before that
    # leaves the old map as the retry's pre-cycle evidence (step 2).
    # One sidecar window (the torn-window guard): the link-params
    # sidecar is removed before the first write and written after the
    # last, so for any crash inside the window the retry declines the
    # step-1.5 shortcut and the catalog-unchanged reuse probe instead
    # of pairing new embeddings with a stale map.
    if not link_reused:
        with wh.sidecar_window(LINK_PARAMS_FILE, link_params):
            _run_parallel([
                (lambda n=n, t=t: wh.write(t, n))
                for n, t in zip(
                    ("entity_embeddings", "similar", "wcc", "canonical_map"),
                    (embedded, similar, wcc, cmap),
                )
            ])

    # ---- 13. community detection: one full recompute over the
    # upserted graph, committed in one sidecar window (build_all's
    # community stage) -----------------------------------------------
    write_communities(
        wh, cfg, entities, wh.read("triples"), wh.read("mentions")
    )

    wh.flush_lineage()
    # every table is committed — the rewrite obligations are met, so
    # the journal can go. A crash BEFORE this point leaves it in place
    # and the next cycle re-winners the journaled scope (idempotent).
    # No-change cycles with no surviving journal have nothing to clear
    # (and skip the three delete RPCs).
    if journal_live:
        _clear_journal(wh)

    out = _read_out_tables(wh)
    out["cascade_deleted_entities"] = cascade
    out["changes_added"] = changes["added"]
    out["changes_modified"] = changes["modified"]
    out["changes_deleted"] = changes["deleted"]
    return out


def _read_out_tables(wh) -> dict[str, DataFrame]:
    return dict(
        zip(
            WAREHOUSE_TABLES,
            _run_parallel(
                [(lambda n=n: wh.read(n)) for n in WAREHOUSE_TABLES]
            ),
        )
    )


def _stored_linking_if_catalog_unchanged(
    wh, catalog: DataFrame, link_sidecar_ok: bool
) -> tuple[dict[str, DataFrame] | None, bool]:
    """(stored, unchanged): the committed linking tables {name: frame}
    in chain order — entity_embeddings, similar, wcc, canonical_map —
    (None when ``link_sidecar_ok`` is False — the link-params sidecar
    does not match this cycle's config — or a table is missing) and
    whether the merged entity catalog is BIT-IDENTICAL to the stored
    one.

    Soundness: every stage of the linking chain — the embedding stub,
    hyperplane-LSH banding (fixed seed), candidate scoring, connected
    components, the per-component resolve — is a deterministic pure
    function of the (entity_id, entity_type, description) catalog
    (README "Determinism as a contract") PLUS the linking config, so
    identical (catalog, config) pairs produce identical outputs and
    the stored tables can stand in for the recompute. The config half
    is the _link_params.json sidecar committed with every linking-table
    write — a warehouse built under a different similarity_method (or
    inside a torn write window) declines reuse and falls through to the
    full chain. The probe costs one entity-scale EXCEPT job — cheap
    next to the chain it skips. Any difference (including entity
    count) reads as changed.
    """
    cols = ["entity_id", "entity_type", "description"]
    if not link_sidecar_ok:
        return None, False
    try:
        stored = {
            n: wh.read(n)
            for n in ("entity_embeddings", "similar", "wcc", "canonical_map")
        }
    except Exception:
        return None, False
    old_cat = stored["entity_embeddings"]
    if set(cols) - set(old_cat.columns):
        return None, False
    new_cat = catalog.select(*cols)
    old_cat = old_cat.select(*cols)
    # both sides are unique per entity_id, so the symmetric difference
    # decides set equality; one UNION plan evaluates both EXCEPT legs
    # inside a single job (the probe is on every cycle's hot path —
    # one barrier, not two) and limit(1) short-circuits
    diff = new_cat.exceptAll(old_cat).unionAll(old_cat.exceptAll(new_cat))
    return stored, not diff.limit(1).count()


def _read_journal(
    spark: SparkSession, wh, present: list[str]
) -> dict[str, DataFrame]:
    """The surviving journal of a crashed cycle, empty frames when the
    last cycle completed (or none ever ran). ``present`` names the
    journal tables on disk, probed after _Warehouse.heal so the caller
    (and a subsequent _write_journal) sees one authoritative
    generation per table."""
    return {
        name: (
            wh.read(name)
            if name in present
            else spark.createDataFrame([], schema)
        )
        for name, schema in JOURNAL_TABLES.items()
    }


def _write_journal(wh, updates: dict[str, DataFrame]) -> None:
    """Persist the journal BEFORE the first destructive merge, without
    ever holding the obligations in zero complete copies: each table is
    committed through _Warehouse.overwrite. A plain overwrite would be
    delete-then-write — a crash inside that window destroys a PRIOR
    crashed cycle's obligations, which are exactly the ones the retry's
    change detection cannot re-derive (its registry already committed).
    Every write unions the stored journal, so a complete ``__next`` is
    a superset and promoting it (heal) is monotone-safe. Inputs are
    checkpointed by the caller."""
    for name, df in updates.items():
        wh.overwrite(df, name)


def _clear_journal(wh) -> None:
    for name in JOURNAL_TABLES:
        fsio.rmtree(wh.path(name))
        fsio.rmtree(wh.path(name) + NEXT_SUFFIX)


def _triple_keys(t_raw: DataFrame, cmap: DataFrame) -> DataFrame:
    """Distinct canonical (subj, pred, obj) keys of a raw-triple slice
    under a given canonical map."""
    from ..operators.canonicalize import _canonize

    return (
        _canonize(_canonize(t_raw, "subj", cmap), "obj", cmap)
        .select("subj", "pred", "obj")
        .distinct()
    )
