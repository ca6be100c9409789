"""Incremental update cycle (S9/J9 semantics) + streaming ingest."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from graph_rag_agent_spark import schemas
from graph_rag_agent_spark.core.gen import generate_transcripts
from graph_rag_agent_spark.oracle import oracle_build
from graph_rag_agent_spark.plans.build import BuildConfig, build_all
from graph_rag_agent_spark.plans.incremental import (
    cascade_delete_entities,
    detect_changes,
    incremental_update,
)
from graph_rag_agent_spark.sources.transcripts import conversation_registry


def test_detect_changes(spark, transcripts_df):
    reg = conversation_registry(transcripts_df).cache()
    # modify conv-000001 (drop a turn), delete conv-000002, add conv-X
    modified = transcripts_df.where(
        ~((F.col("conv_id") == "conv-000001") & (F.col("turn_idx") == 0))
    ).where(F.col("conv_id") != "conv-000002")
    extra = spark.createDataFrame(
        [("conv-X", 0, "user", "hi", None, None)], schema=schemas.TRANSCRIPTS
    )
    new_reg = conversation_registry(modified.unionByName(extra))
    ch = detect_changes(new_reg, reg)
    assert {r["conv_id"] for r in ch["added"].collect()} == {"conv-X"}
    assert {r["conv_id"] for r in ch["modified"].collect()} == {"conv-000001"}
    assert {r["conv_id"] for r in ch["deleted"].collect()} == {"conv-000002"}


def test_cascade_delete_reference_counting(spark):
    mentions = spark.createDataFrame(
        [
            ("c1", "convA", "OnlyA"),
            ("c2", "convA", "Shared"),
            ("c3", "convB", "Shared"),
            ("c4", "convB", "OnlyB"),
        ],
        "chunk_id string, conv_id string, entity_id string",
    )
    dropped = spark.createDataFrame([("convA",)], "conv_id string")
    got = {r["entity_id"] for r in cascade_delete_entities(mentions, dropped).collect()}
    assert got == {"OnlyA"}  # Shared survives via convB

    protected = spark.createDataFrame([("OnlyA",)], "entity_id string")
    got2 = {
        r["entity_id"]
        for r in cascade_delete_entities(mentions, dropped, protected).collect()
    }
    assert got2 == set()  # manual_first conflict policy


def test_incremental_update_matches_full_rebuild(
    spark, v1_warehouse, exact_build
):
    """Build v1, then apply changes incrementally; final triples must
    equal a from-scratch oracle build of the v2 corpus."""
    wh = v1_warehouse

    # v2 corpus: drop conv-000003 entirely, truncate conv-000001
    v2_rows = [
        r
        for r in generate_transcripts(12)
        if r["conv_id"] != "conv-000003"
        and not (r["conv_id"] == "conv-000001" and r["turn_idx"] >= 5)
    ]
    v2_df = spark.createDataFrame(v2_rows, schema=schemas.TRANSCRIPTS)
    tables = incremental_update(
        spark,
        v2_df,
        wh,
        cfg=BuildConfig(
            warehouse=wh, resume=False, similarity_method="exact", extraction_buckets=2
        ),
    )

    want = oracle_build(v2_rows).triple_set()
    got = {(r["subj"], r["pred"], r["obj"]) for r in tables["triples"].collect()}
    assert got == want
    deleted = {r["conv_id"] for r in tables["changes_deleted"].collect()}
    modified = {r["conv_id"] for r in tables["changes_modified"].collect()}
    assert deleted == {"conv-000003"} and modified == {"conv-000001"}

    # unchanged-is-free: the incremental chunk/parse stages processed
    # ONLY the changed conversation's rows (lineage incr_* counters)
    lineage = spark.read.parquet(f"{wh}/lineage")
    incr_chunks = (
        lineage.where(F.col("stage") == "incr_chunks").agg(F.sum("rows")).first()[0]
    )
    n_changed_chunks = (
        tables["chunks"].where(F.col("conv_id") == "conv-000001").count()
    )
    assert incr_chunks == n_changed_chunks  # not the full corpus
    total_chunks = tables["chunks"].count()
    assert incr_chunks < total_chunks

    # and the final warehouse state equals a from-scratch rebuild
    _, rebuilt = exact_build("v2")
    for name in ["chunks", "entities", "mentions"]:
        a = {tuple(r) for r in tables[name].drop("embedding").collect()}
        b = {tuple(r) for r in rebuilt.tables[name].drop("embedding").collect()}
        assert a == b, name


def test_streaming_ingest_dedups_replays(spark, tmp_path_factory):
    from graph_rag_agent_spark.streaming.ingest import (
        read_transcript_stream,
        start_ingest,
    )

    src = str(tmp_path_factory.mktemp("stream_src"))
    out = str(tmp_path_factory.mktemp("stream_out"))
    ckpt = str(tmp_path_factory.mktemp("stream_ckpt"))

    rows = generate_transcripts(3)
    df = spark.createDataFrame(rows, schema=schemas.TRANSCRIPTS)
    df.write.mode("append").parquet(src)
    # replay the same rows (duplicate files) — watermark dedup drops them
    df.write.mode("append").parquet(src)

    q = start_ingest(read_transcript_stream(spark, src), out, ckpt)
    q.awaitTermination(120)

    written = spark.read.parquet(out)
    assert written.count() == len(rows)
    assert written.dropDuplicates(["conv_id", "turn_idx"]).count() == len(rows)


def _turns(conv_id, n, t0_min, step_min=1):
    import datetime as dt

    base = dt.datetime(2026, 1, 1, 0, 0, 0)
    return [
        (
            conv_id,
            i,
            "user" if i % 2 == 0 else "assistant",
            f"turn {i} of {conv_id}",
            None,
            base + dt.timedelta(minutes=t0_min + i * step_min),
        )
        for i in range(n)
    ]


def test_sessionize_stateful_gap_and_early_emit(spark, tmp_path_factory):
    """Event-time-timeout sessionization: a quiet conversation closes
    when the watermark passes its last turn + gap; a mega-conversation
    emits closed=false partials every max_turns without waiting."""
    from graph_rag_agent_spark.streaming.sessionize import sessionize_stateful

    src = str(tmp_path_factory.mktemp("sess_src"))
    out = str(tmp_path_factory.mktemp("sess_out"))
    ckpt = str(tmp_path_factory.mktemp("sess_ckpt"))

    def run_once():
        stream = (
            spark.readStream.schema(schemas.TRANSCRIPTS)
            .option("maxFilesPerTrigger", 1)
            .parquet(src)
        )
        sess = sessionize_stateful(
            stream, gap_ms=30 * 60 * 1000, max_turns=10, watermark="10 minutes"
        )
        q = (
            sess.writeStream.format("parquet")
            .option("path", out)
            .option("checkpointLocation", ckpt)
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(180)

    # batch 1: conv-a (5 quiet turns), conv-mega (25 turns → 2 partials).
    # coalesce(1): one file per append so maxFilesPerTrigger=1 delivers
    # the whole batch in one micro-batch — multi-file appends would be
    # processed in arbitrary order, and the watermark advancing past a
    # later-processed file's rows silently drops them as late data.
    rows = _turns("conv-a", 5, t0_min=0) + _turns("conv-mega", 25, t0_min=0)
    spark.createDataFrame(rows, schema=schemas.TRANSCRIPTS).coalesce(1).write.mode(
        "append"
    ).parquet(src)
    run_once()

    partials = spark.read.parquet(out).where("NOT closed").collect()
    assert {(r.conv_id, r.n_turns) for r in partials} == {
        ("conv-mega", 25)
    } or len(partials) == 2  # one row per crossed max_turns boundary

    # batch 2: conv-b three hours later → watermark passes a+mega's
    # gap; their closed=true rows fire on the post-advance batch
    spark.createDataFrame(
        _turns("conv-b", 3, t0_min=180), schema=schemas.TRANSCRIPTS
    ).coalesce(1).write.mode("append").parquet(src)
    run_once()

    closed = {
        r.conv_id: r
        for r in spark.read.parquet(out).where("closed").collect()
    }
    assert set(closed) == {"conv-a", "conv-mega"}
    assert closed["conv-a"].n_turns == 5
    assert closed["conv-mega"].n_turns == 25
    assert closed["conv-a"].total_chars == sum(
        len(f"turn {i} of conv-a") for i in range(5)
    )
    # conv-b is still open (watermark has not passed its gap)
    assert "conv-b" not in closed


def test_conversation_sessions_builtin(spark, tmp_path_factory):
    """Built-in session_window path: same close-on-gap semantics, pure
    JVM (no Python boundary in the plan)."""
    from graph_rag_agent_spark.streaming.sessionize import conversation_sessions

    src = str(tmp_path_factory.mktemp("bsess_src"))
    out = str(tmp_path_factory.mktemp("bsess_out"))
    ckpt = str(tmp_path_factory.mktemp("bsess_ckpt"))

    def run_once():
        stream = (
            spark.readStream.schema(schemas.TRANSCRIPTS)
            .option("maxFilesPerTrigger", 1)
            .parquet(src)
        )
        sess = conversation_sessions(stream, gap="30 minutes", watermark="10 minutes")
        q = (
            sess.writeStream.format("parquet")
            .option("path", out)
            .option("checkpointLocation", ckpt)
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(180)

    rows = _turns("conv-a", 5, t0_min=0)
    spark.createDataFrame(rows, schema=schemas.TRANSCRIPTS).coalesce(1).write.mode(
        "append"
    ).parquet(src)
    run_once()
    spark.createDataFrame(
        _turns("conv-b", 3, t0_min=180), schema=schemas.TRANSCRIPTS
    ).coalesce(1).write.mode("append").parquet(src)
    run_once()

    got = {r.conv_id: r for r in spark.read.parquet(out).collect()}
    assert "conv-a" in got and got["conv-a"].n_turns == 5
    assert "conv-b" not in got


def test_stream_incremental_build_matches_batch_rebuild(
    spark, tmp_path_factory
):
    """Two availableNow passes through the foreachBatch pipeline —
    first batch bootstraps the warehouse (build_all), the second
    (one new conversation + one re-delivered/modified conversation)
    goes through incremental_update. Final triples must equal a
    from-scratch batch build of the latest-version corpus."""
    from graph_rag_agent_spark.streaming.pipeline import (
        stream_incremental_build,
    )

    src = str(tmp_path_factory.mktemp("sp_src"))
    wh = str(tmp_path_factory.mktemp("sp_wh"))
    ckpt = str(tmp_path_factory.mktemp("sp_ckpt"))
    cfg = BuildConfig(
        warehouse=wh, similarity_method="exact", extraction_buckets=2
    )

    rows = generate_transcripts(12)
    batch1 = [r for r in rows if r["conv_id"] != "conv-000005"]
    # v2 of conv-000001: truncated re-delivery (modified semantics)
    conv1_v2 = [
        r
        for r in rows
        if r["conv_id"] == "conv-000001" and r["turn_idx"] < 5
    ]
    conv5 = [r for r in rows if r["conv_id"] == "conv-000005"]
    batch2 = conv1_v2 + conv5

    def deliver(batch_rows):
        spark.createDataFrame(
            batch_rows, schema=schemas.TRANSCRIPTS
        ).coalesce(1).write.mode("append").parquet(src)
        q = stream_incremental_build(spark, src, wh, ckpt, cfg=cfg)
        q.awaitTermination(300)

    deliver(batch1)
    deliver(batch2)

    # the second micro-batch ran the incremental cycle's conv-keyed
    # MERGEs, not a rebuild
    stages = {r["stage"] for r in spark.read.parquet(f"{wh}/lineage").collect()}
    assert "incr_merge_registry" in stages

    got = {
        (r["subj"], r["pred"], r["obj"])
        for r in spark.read.parquet(f"{wh}/triples").collect()
    }

    final_corpus = (
        [r for r in batch1 if r["conv_id"] != "conv-000001"]
        + conv1_v2
        + conv5
    )
    wh2 = str(tmp_path_factory.mktemp("sp_wh_ref"))
    ref = build_all(
        spark,
        spark.createDataFrame(final_corpus, schema=schemas.TRANSCRIPTS),
        BuildConfig(
            warehouse=wh2, similarity_method="exact", extraction_buckets=2
        ),
    )
    want = {
        (r["subj"], r["pred"], r["obj"])
        for r in ref.tables["triples"].collect()
    }
    assert got == want and len(got) > 0


def test_stream_first_batch_killed_in_build_retries_as_build(
    spark, tmp_path_factory
):
    """A first micro-batch that dies inside build_all leaves a partial
    warehouse: the registry is written before extraction. The retried
    batch must finish the build instead of cycling the partial
    warehouse with incremental_update, and converge to the oracle."""
    import os

    from graph_rag_agent_spark.streaming.pipeline import (
        stream_incremental_build,
    )

    src = str(tmp_path_factory.mktemp("sp_kill_src"))
    wh = str(tmp_path_factory.mktemp("sp_kill_wh"))
    ckpt = str(tmp_path_factory.mktemp("sp_kill_ckpt"))
    rows = generate_transcripts(4)
    spark.createDataFrame(rows, schema=schemas.TRANSCRIPTS).coalesce(
        1
    ).write.mode("append").parquet(src)
    kw = dict(warehouse=wh, similarity_method="exact", extraction_buckets=2)

    q = stream_incremental_build(
        spark, src, wh, ckpt, cfg=BuildConfig(**kw, fail_after_bucket=0)
    )
    with pytest.raises(Exception, match="simulated failure"):
        q.awaitTermination(300)
    assert os.path.exists(f"{wh}/registry/_SUCCESS")

    q = stream_incremental_build(spark, src, wh, ckpt, cfg=BuildConfig(**kw))
    q.awaitTermination(300)
    got = {
        (r["subj"], r["pred"], r["obj"])
        for r in spark.read.parquet(f"{wh}/triples").collect()
    }
    assert got and got == oracle_build(rows).triple_set()


def test_gated_stream_build_only_closed_conversations(
    spark, tmp_path_factory
):
    """Session-gated delivery: only conversations whose event-time gap
    has passed reach the build; an open conversation is picked up by a
    later pass once the watermark closes it."""
    import datetime as dt

    from graph_rag_agent_spark.streaming.pipeline import gated_stream_build

    src = str(tmp_path_factory.mktemp("gated_src"))
    wh = str(tmp_path_factory.mktemp("gated_wh"))
    ckpt = str(tmp_path_factory.mktemp("gated_ckpt"))
    cfg = BuildConfig(
        warehouse=wh, similarity_method="exact", extraction_buckets=2
    )
    base = dt.datetime(2026, 1, 1)

    def turns(conv_id, t0_min, texts):
        return [
            (
                conv_id,
                i,
                "user" if i % 2 == 0 else "assistant",
                t,
                None,
                base + dt.timedelta(minutes=t0_min + i),
            )
            for i, t in enumerate(texts)
        ]

    story = [
        "Alice Zhang works at Acme Corp now.",
        "Acme Corp ships Widget X from Shanghai.",
    ]
    # conv-a is long quiet by the time conv-b's turns arrive;
    # conv-b's gap has NOT passed at the first watermark
    batch1 = turns("conv-a", 0, story) + turns(
        "conv-b", 100, ["Bob Li met Carol Wu in Beijing.", "Carol Wu agreed."]
    )
    spark.createDataFrame(batch1, schema=schemas.TRANSCRIPTS).coalesce(
        1
    ).write.mode("append").parquet(src)
    n = gated_stream_build(spark, src, wh, ckpt, cfg=cfg)
    assert n == 1  # only conv-a closed
    convs = {
        r["conv_id"]
        for r in spark.read.parquet(f"{wh}/chunks").collect()
    }
    assert convs == {"conv-a"}

    # a much later heartbeat conversation advances the watermark past
    # conv-b's gap; the next pass builds it incrementally
    spark.createDataFrame(
        turns("conv-z", 400, ["David Chen visited Hangzhou today."]),
        schema=schemas.TRANSCRIPTS,
    ).coalesce(1).write.mode("append").parquet(src)
    n = gated_stream_build(spark, src, wh, ckpt, cfg=cfg)
    assert n == 2  # conv-a and conv-b closed; conv-z still open
    convs = {
        r["conv_id"]
        for r in spark.read.parquet(f"{wh}/chunks").collect()
    }
    assert convs == {"conv-a", "conv-b"}

    # the gated warehouse equals a batch build of the closed corpus
    wh2 = str(tmp_path_factory.mktemp("gated_ref"))
    ref = build_all(
        spark,
        spark.createDataFrame(
            [r for r in batch1], schema=schemas.TRANSCRIPTS
        ),
        BuildConfig(
            warehouse=wh2, similarity_method="exact", extraction_buckets=2
        ),
    )
    got = {
        (r["subj"], r["pred"], r["obj"])
        for r in spark.read.parquet(f"{wh}/triples").collect()
    }
    want = {
        (r["subj"], r["pred"], r["obj"])
        for r in ref.tables["triples"].collect()
    }
    assert got == want and len(got) > 0


# the corpus-scale tables an incremental cycle MERGEs into; every
# entity-scale table is written whole
CORPUS_SCALE_MERGE_TARGETS = (
    "transcripts",
    "chunks",
    "extractions",
    "parsed",
    "entities_raw",
    "triples_raw",
    "mentions_raw",
    "registry",
    "entity_conv_index",
    "chunk_conv_index",
    "mentions",
    "triples",
    "chunk_embeddings",
)


def test_delta_incremental_matches_rebuild_and_is_delta_proportional(
    spark, v1_warehouse, exact_build, monkeypatch
):
    """The bucketed (delta-capable) warehouse path: incremental result
    equals a from-scratch rebuild, the lineage proves the triple/
    mention rewrites touched a delta-proportional slice, not the
    corpus (VERDICT r2 item #1), and the cycle MERGEs into exactly the
    corpus-scale tables, each once."""
    import os

    import graph_rag_agent_spark.plans.merge as merge_mod

    wh = v1_warehouse
    cfg = BuildConfig(
        warehouse=wh,
        similarity_method="exact",
        extraction_buckets=2,
        bucket_convs=8,
    )

    from graph_rag_agent_spark.operators.canonicalize import TRIPLE_KEY_COL
    from graph_rag_agent_spark.plans.build import _Warehouse
    from graph_rag_agent_spark.plans.merge import table_bucket_spec

    assert table_bucket_spec(f"{wh}/triples")["key"] == TRIPLE_KEY_COL
    for idx in ("entity_conv_index", "chunk_conv_index"):
        assert table_bucket_spec(f"{wh}/{idx}") is not None

    # v2: drop conv-000003, truncate conv-000001
    v2_rows = [
        r
        for r in generate_transcripts(12)
        if r["conv_id"] != "conv-000003"
        and not (r["conv_id"] == "conv-000001" and r["turn_idx"] >= 5)
    ]
    v2_df = spark.createDataFrame(v2_rows, schema=schemas.TRANSCRIPTS)
    # snapshot the pre-update canonical mentions — the input of
    # cascade_delete_entities — before the cycle overwrites the table
    old_mentions = spark.read.parquet(f"{wh}/mentions").localCheckpoint(
        eager=True
    )
    merge_targets = []
    real_upsert = merge_mod.upsert_groups

    def recording_upsert(spark_, path, *a, **k):
        merge_targets.append(os.path.basename(path.rstrip("/")))
        return real_upsert(spark_, path, *a, **k)

    monkeypatch.setattr(merge_mod, "upsert_groups", recording_upsert)
    tables = incremental_update(spark, v2_df, wh, cfg=cfg)
    monkeypatch.undo()
    assert sorted(merge_targets) == sorted(CORPUS_SCALE_MERGE_TARGETS)

    # cascade-audit parity: the delta path's index-lookup cascade must
    # equal cascade_delete_entities' reference count over the mentions
    # table (dropped = deleted ∪ modified), at canonical granularity —
    # an alias seen only in a dropped conv must not flag a canonical
    # whose sibling alias survives elsewhere
    dropped_df = spark.createDataFrame(
        [("conv-000003",), ("conv-000001",)], "conv_id string"
    )
    want_cascade = {
        r["entity_id"]
        for r in cascade_delete_entities(old_mentions, dropped_df).collect()
    }
    got_cascade = {
        r["entity_id"]
        for r in tables["cascade_deleted_entities"].collect()
    }
    assert got_cascade == want_cascade

    # correctness: equal to the python oracle AND a fresh rebuild
    from graph_rag_agent_spark.oracle import oracle_build

    want = oracle_build(v2_rows).triple_set()
    got = {(r["subj"], r["pred"], r["obj"]) for r in tables["triples"].collect()}
    assert got == want

    wh2, rebuilt = exact_build("v2")
    for name in ["chunks", "entities", "mentions", "triples", "registry"]:
        cols = sorted(
            c for c in tables[name].columns if c != "embedding"
        )
        a = {tuple(r) for r in tables[name].select(*cols).collect()}
        b = {tuple(r) for r in rebuilt.tables[name].select(*cols).collect()}
        assert a == b, name

    # the community tables must ALSO equal the rebuild (this delta
    # moves triple keys)
    for name in ["membership", "hierarchy", "communities"]:
        cols = sorted(
            c for c in tables[name].columns if c != "summary_created_at"
        )
        a = {tuple(r) for r in tables[name].select(*cols).collect()}
        b = {tuple(r) for r in rebuilt.tables[name].select(*cols).collect()}
        assert a == b, name

    # the linking tables, written whole, equal the rebuild's too
    # (both runs compute them from the identical catalog, so even the
    # float scores and embedding vectors are bit-equal)
    wh2_reader = _Warehouse(spark, wh2)
    wh_reader = _Warehouse(spark, wh)

    def rows_of(reader, name):
        out = set()
        for r in reader.read(name).collect():
            out.add(
                tuple(
                    tuple(v) if isinstance(v, list) else v for v in r
                )
            )
        return out

    for name in ["entity_embeddings", "similar", "canonical_map"]:
        assert rows_of(wh_reader, name) == rows_of(wh2_reader, name), name

    # delta-proportionality: the triple rewrite touched a slice, not
    # the corpus, and per-conv stages processed only the changed conv
    lineage = spark.read.parquet(f"{wh}/lineage")
    def stage_rows(stage):
        return (
            lineage.where(F.col("stage") == stage).agg(F.sum("rows")).first()[0]
        )

    total_triples = tables["triples"].count()
    rewritten = stage_rows("incr_triples_rewrite")
    assert rewritten is not None and rewritten < total_triples
    incr_chunks = stage_rows("incr_chunks")
    n_changed_chunks = (
        tables["chunks"].where(F.col("conv_id") == "conv-000001").count()
    )
    assert incr_chunks == n_changed_chunks
    assert incr_chunks < tables["chunks"].count()

    deleted = {r["conv_id"] for r in tables["changes_deleted"].collect()}
    modified = {r["conv_id"] for r in tables["changes_modified"].collect()}
    assert deleted == {"conv-000003"} and modified == {"conv-000001"}

    # the catalog changed (entities dropped with conv-000003), so the
    # linking chain must have re-run — no reuse marker
    assert lineage.where(F.col("stage") == "incr_link_reused").count() == 0


def test_delta_incremental_lsh_linking_delta_path(
    spark, transcripts_df, tmp_path_factory, monkeypatch
):
    """With the LSH chain forced (driver fast path disabled,
    similarity_method='lsh'), a changed-catalog delta cycle must take
    the incremental KNN maintenance path (incr_similar_delta lineage
    marker) and still produce tables identical to a from-scratch LSH
    rebuild — the delta maintenance is provably-equal reuse, not an
    approximation."""
    import graph_rag_agent_spark.operators.linking as linking_mod

    # every build and cycle links through linking.link_catalog, so one
    # seam sends BOTH the rebuild and the delta cycle down the
    # distributed LSH chain
    monkeypatch.setattr(
        linking_mod,
        "link_entities_driver_path",
        lambda catalog, threshold=None: None,
    )
    # the delta gate requires the stored table to be LSH-produced
    # (catalog above both routing thresholds); this fixture's catalog
    # is small but BUILT via the forced LSH chain, so lower the floor
    monkeypatch.setattr(linking_mod, "EXACT_THRESHOLD", 0)
    monkeypatch.setattr(linking_mod, "LINK_DRIVER_THRESHOLD", 0)
    wh = str(tmp_path_factory.mktemp("wh_lshdelta"))
    cfg = BuildConfig(
        warehouse=wh,
        similarity_method="lsh",
        extraction_buckets=2,
        bucket_convs=8,
    )
    build_all(spark, transcripts_df, cfg)

    v2_rows = [
        r
        for r in generate_transcripts(12)
        if r["conv_id"] != "conv-000003"
        and not (r["conv_id"] == "conv-000001" and r["turn_idx"] >= 5)
    ]
    v2_df = spark.createDataFrame(v2_rows, schema=schemas.TRANSCRIPTS)
    tables = incremental_update(spark, v2_df, wh, cfg=cfg)

    lineage = spark.read.parquet(f"{wh}/lineage")
    assert lineage.where(F.col("stage") == "incr_similar_delta").count() == 1

    wh2 = str(tmp_path_factory.mktemp("wh_lshdelta_ref"))
    rebuilt = build_all(
        spark,
        v2_df,
        BuildConfig(
            warehouse=wh2,
            similarity_method="lsh",
            extraction_buckets=2,
            bucket_convs=8,
        ),
    )
    for name in ["similar", "canonical_map", "entities", "triples"]:
        cols = sorted(
            c for c in tables[name].columns if c != "embedding"
        )
        a = {tuple(r) for r in tables[name].select(*cols).collect()}
        b = {tuple(r) for r in rebuilt.tables[name].select(*cols).collect()}
        assert a == b, name


def test_lsh_delta_declines_exact_produced_store(
    spark, transcripts_df, tmp_path_factory, monkeypatch
):
    """A stored `similar` table produced by the exact/driver KNN path
    (small catalog) must NOT seed the LSH delta maintenance — exact
    tables contain pairs no band join generates, so reusing them
    would diverge from an LSH recompute. The gate declines (catalog
    below the routing floor) and the cycle re-runs the full LSH
    chain, whose output equals a direct similar_entities_lsh."""
    import graph_rag_agent_spark.operators.linking as linking_mod

    wh = str(tmp_path_factory.mktemp("wh_lshdecline"))
    cfg = BuildConfig(
        warehouse=wh,
        similarity_method="lsh",
        extraction_buckets=2,
        bucket_convs=8,
    )
    # v1 build with the driver fast path ACTIVE: the tiny catalog
    # routes through exact numpy KNN regardless of method='lsh'
    build_all(spark, transcripts_df, cfg)

    # delta cycle with the driver path off: use_lsh is True but the
    # stored table is exact-produced (catalog far below the floor)
    monkeypatch.setattr(
        linking_mod,
        "link_entities_driver_path",
        lambda catalog, threshold=None: None,
    )
    v2_rows = [
        r for r in generate_transcripts(12) if r["conv_id"] != "conv-000003"
    ]
    v2_df = spark.createDataFrame(v2_rows, schema=schemas.TRANSCRIPTS)
    tables = incremental_update(spark, v2_df, wh, cfg=cfg)

    lineage = spark.read.parquet(f"{wh}/lineage")
    assert lineage.where(F.col("stage") == "incr_similar_delta").count() == 0

    from graph_rag_agent_spark.plans.build import _Warehouse

    whr = _Warehouse(spark, wh)
    emb = whr.read("entity_embeddings").localCheckpoint()
    want = {
        (r["src"], r["dst"], r["score"])
        for r in linking_mod.similar_entities_lsh(emb).collect()
    }
    got = {
        (r["src"], r["dst"], r["score"])
        for r in whr.read("similar").collect()
    }
    assert got == want


def test_vocabulary_free_delta_redetects_once_and_matches_rebuild(
    spark, v1_warehouse, tmp_path_factory, monkeypatch
):
    """A delta that changes a conversation WITHOUT moving community
    detection's inputs (entity id set + triple key set) still runs one
    full detection — the cycle has no detection reuse beside it — and
    its community tables equal a fresh rebuild."""
    import datetime

    import graph_rag_agent_spark.operators.community as comm_mod

    wh = v1_warehouse
    cfg = BuildConfig(
        warehouse=wh,
        similarity_method="exact",
        extraction_buckets=2,
        bucket_convs=8,
    )

    # v2: one extra vocabulary-free turn — new chunk, zero new
    # mentions/entities/triples
    extra = {
        "conv_id": "conv-000002",
        "turn_idx": 15,
        "role": "user",
        "text": "plain filler words with nothing extractable here.",
        "tool": None,
        "ts": datetime.datetime(
            2025, 1, 1, 3, 0, tzinfo=datetime.timezone.utc
        ),
    }
    v2_rows = generate_transcripts(12) + [extra]
    v2_df = spark.createDataFrame(v2_rows, schema=schemas.TRANSCRIPTS)
    detections = []
    real_detect = comm_mod.detect_communities
    monkeypatch.setattr(
        comm_mod,
        "detect_communities",
        lambda *a, **k: (detections.append(1), real_detect(*a, **k))[1],
    )
    tables = incremental_update(spark, v2_df, wh, cfg=cfg)
    monkeypatch.undo()
    assert detections == [1]

    wh2 = str(tmp_path_factory.mktemp("wh_vocab_free_ref"))
    rebuilt = build_all(
        spark,
        v2_df,
        BuildConfig(
            warehouse=wh2,
            similarity_method="exact",
            extraction_buckets=2,
            bucket_convs=8,
        ),
    )
    for name in ["membership", "hierarchy", "communities", "triples"]:
        cols = [
            c for c in tables[name].columns if c != "summary_created_at"
        ]
        a = {tuple(r) for r in tables[name].select(*cols).collect()}
        b = {tuple(r) for r in rebuilt.tables[name].select(*cols).collect()}
        assert a == b, name


def test_delta_incremental_noop_cycle_rewrites_nothing(
    spark, transcripts_df, v1_warehouse
):
    """Re-delivering an identical corpus must cost ~zero: no chunks
    re-extracted, no triples rewritten, tables unchanged."""
    wh = v1_warehouse
    cfg = BuildConfig(
        warehouse=wh,
        similarity_method="exact",
        extraction_buckets=2,
        bucket_convs=8,
    )
    before = {
        (r["subj"], r["pred"], r["obj"])
        for r in spark.read.parquet(f"{wh}/triples").collect()
    }

    tables = incremental_update(spark, transcripts_df, wh, cfg=cfg)
    lineage = spark.read.parquet(f"{wh}/lineage")

    def stage_rows(stage):
        return (
            lineage.where(F.col("stage") == stage).agg(F.sum("rows")).first()[0]
        )

    # identical corpus → the unchanged-source shortcut returns right
    # after change detection: no per-conv stages ran AT ALL (no lineage
    # rows, not zero-row ones), no linking, no communities
    assert (stage_rows("incr_chunks") or 0) == 0
    assert (stage_rows("incr_triples_rewrite") or 0) == 0
    assert (stage_rows("incr_mentions_rewrite") or 0) == 0
    assert lineage.where(F.col("stage") == "incr_noop_shortcut").count() == 1
    after = {
        (r["subj"], r["pred"], r["obj"]) for r in tables["triples"].collect()
    }
    assert after == before

    # reuse is only sound for identical (catalog, config) pairs: the
    # same noop delivery under a DIFFERENT similarity_method must
    # decline the shortcut (the _link_params.json sidecar mismatches)
    # and re-run the chain — outputs stay identical anyway because
    # exact and lsh agree on this fixture
    cfg_lsh = BuildConfig(
        warehouse=wh,
        similarity_method="lsh",
        extraction_buckets=2,
        bucket_convs=8,
    )
    tables2 = incremental_update(spark, transcripts_df, wh, cfg=cfg_lsh)
    lineage2 = spark.read.parquet(f"{wh}/lineage")
    # the config mismatch declined BOTH the unchanged-source shortcut
    # and the stored-linking reuse: the chain actually re-ran
    assert lineage2.where(F.col("stage") == "incr_noop_shortcut").count() == 1
    assert lineage2.where(F.col("stage") == "incr_link_reused").count() == 0
    after2 = {
        (r["subj"], r["pred"], r["obj"]) for r in tables2["triples"].collect()
    }
    assert after2 == before
    # and the sidecars now record the lsh run, so a THIRD noop cycle
    # under lsh takes the shortcut again
    tables3 = incremental_update(spark, transcripts_df, wh, cfg=cfg_lsh)
    lineage3 = spark.read.parquet(f"{wh}/lineage")
    assert lineage3.where(F.col("stage") == "incr_noop_shortcut").count() == 2
    after3 = {
        (r["subj"], r["pred"], r["obj"]) for r in tables3["triples"].collect()
    }
    assert after3 == before


def test_delta_incremental_shared_chunk_survives_conv_delete(
    spark, tmp_path_factory
):
    """Two conversations share identical chunk text (content-hash
    chunk ids collide by design). Deleting EITHER one incrementally
    must leave every (chunk, entity) mention the surviving twin still
    holds — i.e. incremental == fresh rebuild for mentions/triples.

    Guards the mentions_raw dedup scope: a corpus-wide
    dropDuplicates(chunk_id, entity_id) stores the pair under only ONE
    (arbitrary) conv, so the conv-keyed delta MERGE loses it when that
    conv is deleted. mentions_raw must stay conv-complete (dedup per
    conv), with the one-row-per-pair dedup applied only in the
    canonical rewrite (deterministic min-conv pin)."""
    base = generate_transcripts(6)
    clone = [
        {**r, "conv_id": "conv-clone"}
        for r in base
        if r["conv_id"] == "conv-000002"
    ]
    v1 = base + clone

    # deleting either twin must converge to the same rebuilt state
    for victim in ["conv-000002", "conv-clone"]:
        wh = str(tmp_path_factory.mktemp(f"wh_twin_{victim}"))
        cfg = BuildConfig(
            warehouse=wh,
            similarity_method="exact",
            extraction_buckets=2,
            bucket_convs=8,
        )
        build_all(
            spark, spark.createDataFrame(v1, schema=schemas.TRANSCRIPTS), cfg
        )
        v2_rows = [r for r in v1 if r["conv_id"] != victim]
        v2_df = spark.createDataFrame(v2_rows, schema=schemas.TRANSCRIPTS)
        tables = incremental_update(spark, v2_df, wh, cfg=cfg)

        wh2 = str(tmp_path_factory.mktemp(f"wh_twin_ref_{victim}"))
        rebuilt = build_all(
            spark,
            v2_df,
            BuildConfig(
                warehouse=wh2,
                similarity_method="exact",
                extraction_buckets=2,
                bucket_convs=8,
            ),
        )
        for name in ["mentions", "mentions_raw", "triples", "chunks"]:
            cols = sorted(tables[name].columns)
            a = {tuple(r) for r in tables[name].select(*cols).collect()}
            b = {
                tuple(r)
                for r in rebuilt.tables[name].select(*cols).collect()
            }
            assert a == b, f"{name} diverged after deleting {victim}"
        # the surviving twin still holds every shared chunk's mentions
        twin = "conv-clone" if victim == "conv-000002" else "conv-000002"
        twin_chunks = {
            r["chunk_id"]
            for r in tables["chunks"]
            .where(F.col("conv_id") == twin)
            .collect()
        }
        mention_chunks = {
            r["chunk_id"] for r in tables["mentions"].collect()
        }
        assert twin_chunks and twin_chunks <= mention_chunks


def test_delta_extraction_cache_hits_across_conversations(spark, v1_warehouse):
    """chunk_id is a content hash, so a NEW conversation that shares
    chunk text with an UNCHANGED one must hit the extraction cache
    (chunk_conv_index lookup), not re-run the extractor: the cycle is
    driven with a poison extractor that fails on any real call."""
    wh = v1_warehouse
    cfg = BuildConfig(
        warehouse=wh,
        similarity_method="exact",
        extraction_buckets=2,
        bucket_convs=8,
    )

    rows = generate_transcripts(12)
    clone = [
        {**r, "conv_id": "conv-clone"}
        for r in rows
        if r["conv_id"] == "conv-000002"
    ]
    v2_df = spark.createDataFrame(rows + clone, schema=schemas.TRANSCRIPTS)

    # defined in-test so cloudpickle ships it by VALUE — a test-module
    # global would be pickled by reference and executors can't import
    # the tests package
    def poison_extractor(text: str) -> str:
        raise AssertionError(
            "extractor invoked — expected a cache hit for shared chunk text"
        )

    cfg2 = BuildConfig(
        warehouse=wh,
        similarity_method="exact",
        extraction_buckets=2,
        bucket_convs=8,
        extractor=poison_extractor,
    )
    tables = incremental_update(spark, v2_df, wh, cfg=cfg2)

    # the poison extractor never fired (or incremental_update would
    # have raised) — every clone chunk was served from the cache. The
    # clone registered with exactly the original's content-hash chunk
    # ids; its mentions/triples collapse into the existing canonical
    # rows by design (dedup pins the minimum conv_id).
    chunks = tables["chunks"]
    orig_ids = {
        r["chunk_id"]
        for r in chunks.where(F.col("conv_id") == "conv-000002").collect()
    }
    clone_ids = {
        r["chunk_id"]
        for r in chunks.where(F.col("conv_id") == "conv-clone").collect()
    }
    assert clone_ids and clone_ids == orig_ids
    reg = {r["conv_id"] for r in tables["registry"].collect()}
    assert "conv-clone" in reg


def test_failed_delta_cycle_retry_self_heals(
    spark, v1_warehouse, monkeypatch
):
    """The registry must commit LAST: a delta cycle that dies after
    some conv-table merges committed (injected triples_raw merge
    failure) must leave the stored registry untouched, so the retried
    cycle re-detects the same conversations as changed, re-runs the
    idempotent conv-keyed merges, and converges to the oracle state."""
    import graph_rag_agent_spark.plans.merge as merge_mod

    wh = v1_warehouse
    cfg = BuildConfig(
        warehouse=wh,
        similarity_method="exact",
        extraction_buckets=2,
        bucket_convs=8,
    )

    v2_rows = [
        r
        for r in generate_transcripts(12)
        if r["conv_id"] != "conv-000003"
        and not (r["conv_id"] == "conv-000001" and r["turn_idx"] >= 5)
    ]
    v2_df = spark.createDataFrame(v2_rows, schema=schemas.TRANSCRIPTS)

    real_upsert = merge_mod.upsert_groups

    def dying_upsert(spark_, path, *a, **k):
        if path.rstrip("/").endswith("triples_raw"):
            raise RuntimeError("injected merge failure")
        return real_upsert(spark_, path, *a, **k)

    monkeypatch.setattr(merge_mod, "upsert_groups", dying_upsert)
    with pytest.raises(Exception, match="injected merge failure"):
        incremental_update(spark, v2_df, wh, cfg=cfg)
    monkeypatch.undo()

    # the failed cycle must NOT have committed the registry, or this
    # retry would detect zero changes and never repair triples_raw
    tables = incremental_update(spark, v2_df, wh, cfg=cfg)
    want = oracle_build(v2_rows).triple_set()
    got = {
        (r["subj"], r["pred"], r["obj"]) for r in tables["triples"].collect()
    }
    assert got == want
    reg = {r["conv_id"] for r in tables["registry"].collect()}
    assert reg == {r["conv_id"] for r in v2_rows}


def test_torn_linking_write_declines_reuse_on_retry(
    spark, v1_warehouse, exact_build, monkeypatch
):
    """A delta cycle whose canonical_map write dies (step 11) while the
    other linking tables commit leaves the stored linking tables torn:
    NEW embeddings beside the OLD map. The retry detects
    zero registry changes, so its rebuilt catalog is bit-identical to
    the just-written embeddings — without the sidecar invalidation the
    catalog-unchanged probe would hand back the STALE canonical_map and
    freeze the warehouse inconsistent forever. The step-11 window
    deletes _link_params.json before the first write and restores it
    only after the last, so the retry must decline reuse, recompute the
    chain, and converge to the same canonical_map a fresh rebuild
    produces."""
    import graph_rag_agent_spark.plans.build as build_mod

    wh = v1_warehouse
    cfg = BuildConfig(
        warehouse=wh,
        similarity_method="exact",
        extraction_buckets=2,
        bucket_convs=8,
    )

    v2_rows = [
        r
        for r in generate_transcripts(12)
        if r["conv_id"] != "conv-000003"
        and not (r["conv_id"] == "conv-000001" and r["turn_idx"] >= 5)
    ]
    v2_df = spark.createDataFrame(v2_rows, schema=schemas.TRANSCRIPTS)

    # canonical_map is written whole through wh.write, in the same
    # pool as the other three linking tables
    real_write = build_mod._Warehouse.write

    def dying_write(self, df, name, *a, **k):
        if name == "canonical_map":
            raise RuntimeError("injected cmap write failure")
        return real_write(self, df, name, *a, **k)

    monkeypatch.setattr(build_mod._Warehouse, "write", dying_write)
    with pytest.raises(Exception, match="injected cmap write failure"):
        incremental_update(spark, v2_df, wh, cfg=cfg)
    monkeypatch.undo()

    # torn window: new embeddings on disk, old canonical_map, and the
    # reuse sidecar must be GONE so the retry cannot trust the pair
    import os

    assert not os.path.exists(os.path.join(wh, "_link_params.json"))

    tables = incremental_update(spark, v2_df, wh, cfg=cfg)

    _, fresh = exact_build("v2")
    want_cmap = {
        (r["entity_id"], r["canonical_id"])
        for r in fresh.tables["canonical_map"].collect()
    }
    got_cmap = {
        (r["entity_id"], r["canonical_id"])
        for r in tables["canonical_map"].collect()
    }
    assert got_cmap == want_cmap
    # sidecar restored by the completed retry → future cycles may reuse
    assert os.path.exists(os.path.join(wh, "_link_params.json"))
    got = {
        (r["subj"], r["pred"], r["obj"]) for r in tables["triples"].collect()
    }
    assert got == oracle_build(v2_rows).triple_set()


def test_post_registry_crash_rewrites_recover_via_journal(
    spark, v1_warehouse, monkeypatch
):
    """The registry commits BEFORE the canonical triple/mention
    rewrites, and the conv merges destroy the pre-merge evidence those
    rewrites need — so a cycle that dies in that window leaves a retry
    with zero detected changes and (without the step-3.5 journal) no
    way to learn which winner rows went stale: a deleted conversation's
    sole-contributor triples would survive in `triples` forever. The
    rewrite-intent journal persisted before the first merge must let
    the retry re-derive the scope and converge to the oracle state,
    then be cleared."""
    import os

    import graph_rag_agent_spark.plans.merge as merge_mod

    wh = v1_warehouse
    cfg = BuildConfig(
        warehouse=wh,
        similarity_method="exact",
        extraction_buckets=2,
        bucket_convs=8,
    )

    v2_rows = [
        r
        for r in generate_transcripts(12)
        if r["conv_id"] != "conv-000003"
        and not (r["conv_id"] == "conv-000001" and r["turn_idx"] >= 5)
    ]
    v2_df = spark.createDataFrame(v2_rows, schema=schemas.TRANSCRIPTS)
    # the deleted conv must have winner rows to orphan, or the test
    # can't tell the journal recovered anything
    v1_triples = {
        (r["subj"], r["pred"], r["obj"])
        for r in spark.read.parquet(f"{wh}/triples").collect()
    }
    want = oracle_build(v2_rows).triple_set()
    assert v1_triples - want, "fixture must delete sole-contributor triples"

    real_upsert = merge_mod.upsert_groups

    def dying_upsert(spark_, path, *a, **k):
        # the canonical triples table is only touched by the step 8-10
        # rewrites — AFTER the conv merges and the registry commit
        if path.rstrip("/").endswith("/triples"):
            raise RuntimeError("injected rewrite failure")
        return real_upsert(spark_, path, *a, **k)

    monkeypatch.setattr(merge_mod, "upsert_groups", dying_upsert)
    with pytest.raises(Exception, match="injected rewrite failure"):
        incremental_update(spark, v2_df, wh, cfg=cfg)
    monkeypatch.undo()

    # the crash window is real: registry already committed (retry will
    # detect zero changes) and the journal is still on disk
    reg = {
        r["conv_id"]
        for r in spark.read.parquet(f"{wh}/registry").collect()
    }
    assert reg == {r["conv_id"] for r in v2_rows}
    assert os.path.exists(f"{wh}/pending_rewrite_tkeys/_SUCCESS")

    tables = incremental_update(spark, v2_df, wh, cfg=cfg)
    got = {
        (r["subj"], r["pred"], r["obj"]) for r in tables["triples"].collect()
    }
    assert got == want
    # mentions follow the same scope — no canonical rows for dropped convs
    m_convs = {
        r["conv_id"] for r in tables["mentions"].select("conv_id").collect()
    }
    assert "conv-000003" not in m_convs
    # completed cycle clears the journal
    for t in (
        "pending_rewrite_convs",
        "pending_rewrite_tkeys",
        "pending_rewrite_chunks",
    ):
        assert not os.path.exists(f"{wh}/{t}")


def test_journal_torn_swap_heals_and_recovers(
    spark, v1_warehouse, monkeypatch
):
    """Every plain overwrite — the journal tables and canonical_map
    among them — swaps the table in via write-next → delete → rename.
    A crash between the delete and the rename leaves the main path
    missing and a COMPLETE ``__next`` generation on disk; a plain
    exists() read would see an empty journal and orphan the crashed
    cycle's winner rows, and step 2 could not read canonical_map at
    all. The cycle must heal the torn swaps forward and the retry must
    still converge to the oracle state."""
    import os

    import graph_rag_agent_spark.plans.merge as merge_mod

    wh = v1_warehouse
    cfg = BuildConfig(
        warehouse=wh,
        similarity_method="exact",
        extraction_buckets=2,
        bucket_convs=8,
    )

    v2_rows = [
        r for r in generate_transcripts(12) if r["conv_id"] != "conv-000003"
    ]
    v2_df = spark.createDataFrame(v2_rows, schema=schemas.TRANSCRIPTS)
    want = oracle_build(v2_rows).triple_set()

    real_upsert = merge_mod.upsert_groups

    def dying_upsert(spark_, path, *a, **k):
        if path.rstrip("/").endswith("/triples"):
            raise RuntimeError("injected rewrite failure")
        return real_upsert(spark_, path, *a, **k)

    monkeypatch.setattr(merge_mod, "upsert_groups", dying_upsert)
    with pytest.raises(Exception, match="injected rewrite failure"):
        incremental_update(spark, v2_df, wh, cfg=cfg)
    monkeypatch.undo()

    # simulate the torn swap window on every journal table and on
    # canonical_map: main gone, complete __next present (what a kill
    # between delete and rename leaves behind)
    torn = (
        "pending_rewrite_convs",
        "pending_rewrite_tkeys",
        "pending_rewrite_chunks",
        "canonical_map",
    )
    for t in torn:
        assert os.path.exists(f"{wh}/{t}/_SUCCESS")
        os.rename(f"{wh}/{t}", f"{wh}/{t}__next")

    tables = incremental_update(spark, v2_df, wh, cfg=cfg)
    got = {
        (r["subj"], r["pred"], r["obj"]) for r in tables["triples"].collect()
    }
    assert got == want
    # heal + commit leaves no __next behind, and no journal table
    for t in torn:
        assert not os.path.exists(f"{wh}/{t}__next")
        assert os.path.exists(f"{wh}/{t}") == (t == "canonical_map")


def test_no_change_cycle_skips_journal_writes_and_reuses_communities(
    spark, transcripts_df, v1_warehouse, monkeypatch
):
    """A steady-state cycle with zero detected changes takes the
    unchanged-source shortcut (the reference's early return,
    incremental_graph_builder.py:903-905): after change detection it
    must run NO per-conversation work, NO journal writes, NO community
    detection — just return the stored tables. Changing max_levels
    invalidates the shortcut via the sidecar fingerprint, and the
    refreshed stamp re-enables it on the next cycle."""
    import os

    import graph_rag_agent_spark.operators.chunking as chunk_mod
    import graph_rag_agent_spark.operators.community as comm_mod
    import graph_rag_agent_spark.plans.incremental as incr_mod

    wh = v1_warehouse
    cfg = BuildConfig(
        warehouse=wh,
        similarity_method="exact",
        extraction_buckets=2,
        bucket_convs=8,
    )
    stored_members = {
        tuple(r) for r in spark.read.parquet(f"{wh}/membership").collect()
    }

    calls = []
    real_write = incr_mod._write_journal
    monkeypatch.setattr(
        incr_mod,
        "_write_journal",
        lambda *a, **k: (calls.append(1), real_write(*a, **k)),
    )

    def boom(what):
        def _b(*a, **k):
            raise AssertionError(f"{what} ran on a no-change cycle")

        return _b

    real_detect = comm_mod.detect_communities
    monkeypatch.setattr(comm_mod, "detect_communities", boom("detect"))
    monkeypatch.setattr(chunk_mod, "chunk_conversations", boom("chunking"))
    tables = incremental_update(spark, transcripts_df, wh, cfg=cfg)
    assert calls == []
    assert not os.path.exists(f"{wh}/pending_rewrite_convs")
    lin = spark.read.parquet(f"{wh}/lineage")
    assert lin.where(lin.stage == "incr_noop_shortcut").count() == 1
    # and the cycle is still a correct no-op, stored communities reused
    got = {
        (r["subj"], r["pred"], r["obj"]) for r in tables["triples"].collect()
    }
    assert got == oracle_build(generate_transcripts(12)).triple_set()
    assert {
        tuple(r) for r in tables["membership"].collect()
    } == stored_members
    assert tables["changes_added"].count() == 0
    assert tables["cascade_deleted_entities"].count() == 0

    # a max_levels change must decline the shortcut and re-detect
    monkeypatch.undo()
    detections = []
    monkeypatch.setattr(
        comm_mod,
        "detect_communities",
        lambda *a, **k: (detections.append(1), real_detect(*a, **k))[1],
    )
    cfg2 = BuildConfig(
        warehouse=wh,
        similarity_method="exact",
        extraction_buckets=2,
        bucket_convs=8,
        max_levels=2,
    )
    incremental_update(spark, transcripts_df, wh, cfg=cfg2)
    assert detections == [1]
    # ... and the refreshed sidecar re-enables the shortcut next cycle
    incremental_update(spark, transcripts_df, wh, cfg=cfg2)
    assert detections == [1]


def test_old_format_and_unbucketed_warehouses_are_rejected(
    spark, transcripts_df, tmp_path_factory
):
    """One layout: a warehouse stamped with an older format version,
    or holding tables without any stamp, is refused by every entry
    point that would read it — incremental_update, a resuming
    build_all and maintain_warehouse — before anything is written;
    build_all(resume=False) is the rebuild that makes it current. An
    unbucketed config is rejected outright."""
    import os

    from graph_rag_agent_spark.plans.build import (
        FORMAT_FILE,
        FORMAT_VERSION,
        _Warehouse,
    )
    from graph_rag_agent_spark.plans import fsio
    from graph_rag_agent_spark.plans.maintenance import maintain_warehouse

    assert FORMAT_VERSION == 3
    with pytest.raises(ValueError, match="bucket_convs"):
        BuildConfig(warehouse="unused", bucket_convs=0)

    wh = str(tmp_path_factory.mktemp("wh_format"))
    cfg = BuildConfig(
        warehouse=wh, similarity_method="exact", extraction_buckets=2
    )
    build_all(spark, transcripts_df, cfg)
    stamp = os.path.join(wh, FORMAT_FILE)
    assert fsio.read_json(stamp) == {"version": 3}
    lineage_files = sorted(os.listdir(os.path.join(wh, "lineage")))

    def set_stamp(version):
        if version is None:
            fsio.remove(stamp)
        else:
            fsio.write_json(stamp, {"version": version})

    for version, found in ((2, "format v2"), (None, "unstamped")):
        set_stamp(version)
        msg = f"is {found}, this engine reads v3 — rebuild with build_all"
        with pytest.raises(ValueError, match=msg):
            incremental_update(spark, transcripts_df, wh, cfg=cfg)
        with pytest.raises(ValueError, match=msg):
            build_all(spark, transcripts_df, cfg)
        with pytest.raises(ValueError, match=msg):
            maintain_warehouse(spark, wh)
        # refused before any write: no lineage row was appended
        assert sorted(os.listdir(os.path.join(wh, "lineage"))) == lineage_files

    build_all(
        spark,
        transcripts_df,
        BuildConfig(
            warehouse=wh,
            resume=False,
            similarity_method="exact",
            extraction_buckets=2,
        ),
    )
    _Warehouse(spark, wh).check_format()


def test_root_file_turn_log_is_rejected(spark, transcripts_df, tmp_path):
    """A turn log written by an unpartitioned sink (root-level part
    files) is refused before the stream starts."""
    from graph_rag_agent_spark.streaming.pipeline import (
        stream_incremental_build,
    )

    wh = str(tmp_path / "wh")
    transcripts_df.limit(5).coalesce(1).write.parquet(f"{wh}/turn_log")
    with pytest.raises(ValueError, match="root-level part files"):
        stream_incremental_build(
            spark, str(tmp_path / "src"), wh, str(tmp_path / "ckpt")
        )
