"""Streaming → incremental KG build (additive; SURVEY.md §2.11).

Closes the loop between Structured Streaming ingest and the batch
build plans: a turn stream drives the warehouse through foreachBatch
— the standard Spark pattern for transactional sinks the streaming
engine can't express natively (here: the reference's
incremental_graph_builder.py cycle, reimplemented in
plans/incremental.py).

Per micro-batch:
  1. write the batch's turns into its own ``ingest_batch=<id>``
     partition of a versioned turn log (dynamic partition overwrite →
     idempotent under foreachBatch retries; a conversation
     re-delivered wholesale REPLACES its prior version — the
     streaming analogue of the reference's file-modified semantics in
     file_change_manager);
  2. project the latest-version snapshot of every conversation;
  3. ``build_or_update``: ``build_all`` until the warehouse holds
     every table, ``incremental_update`` after that (registry diff,
     changed-conversations-only chunk/extract/parse, cascade delete,
     keyed MERGEs).

Delivery contract: a micro-batch must carry whole conversations
(availableNow file batches, or upstream gating through
``sessionize.conversation_sessions``/``sessionize_stateful`` closed
rows — a half-delivered conversation would be registered with a
partial content hash and correctly reprocessed when the rest
arrives, costing an extra cycle, never wrong output).

Scale: the turn log is append-only (no rewrite amplification); the
snapshot projection is one broadcast-able (conv_id → max batch) join;
everything downstream is the incremental plan's O(changed) work.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .. import schemas


def latest_conversation_snapshot(turn_log: DataFrame) -> DataFrame:
    """Versioned turn log (+ingest_batch) → latest version of every
    conversation, original transcript columns.

    Defense-in-depth dedup on (conv_id, turn_idx, ingest_batch): the
    writer below is already idempotent per batch (dynamic partition
    overwrite of its own ingest_batch partition), but a log assembled
    by any other at-least-once producer must not let a replayed turn
    change the assembled conversation text."""
    latest = turn_log.groupBy("conv_id").agg(
        F.max("ingest_batch").alias("ingest_batch")
    )
    return (
        turn_log.dropDuplicates(["conv_id", "turn_idx", "ingest_batch"])
        .join(F.broadcast(latest), ["conv_id", "ingest_batch"])
        .drop("ingest_batch")
    )


def build_or_update(
    spark: SparkSession, snapshot: DataFrame, warehouse: str, cfg
) -> None:
    """``incremental_update`` when the warehouse holds every table
    (interrupted overwrites healed first), ``build_all`` otherwise: a
    first batch that died inside build_all, which writes the registry
    before extraction, is built again, not cycled."""
    from ..plans.build import WAREHOUSE_TABLES, _Warehouse, build_all
    from ..plans.incremental import incremental_update

    wh = _Warehouse(spark, warehouse)
    wh.heal()
    if all(wh.exists(n) for n in WAREHOUSE_TABLES):
        incremental_update(spark, snapshot, warehouse, cfg)
    else:
        build_all(spark, snapshot, cfg)


def _check_turn_log_layout(turn_log: str) -> None:
    """The partitioned writer below adds ingest_batch=<id> directories;
    a turn log holding root-level part files was written by an older,
    unpartitioned sink and is rejected, not migrated."""
    from ..plans import fsio

    if fsio.is_dir(turn_log) and any(
        f.endswith(".parquet") and not f.startswith("_")
        for f in fsio.listdir(turn_log)
    ):
        raise ValueError(
            f"turn log {turn_log} holds root-level part files (an "
            "unpartitioned older layout), this engine reads "
            "ingest_batch=<id> partitions — rebuild the warehouse by "
            "replaying the source with a fresh checkpoint"
        )


def stream_incremental_build(
    spark: SparkSession,
    source: str,
    warehouse: str,
    checkpoint: str,
    cfg=None,
    max_files_per_trigger: int | None = None,
):
    """Run one availableNow pass of the stream → incremental build.

    ``source``: parquet directory of transcript-schema turn files.
    Returns the StreamingQuery (caller awaits termination)."""
    from ..plans.build import BuildConfig
    from ..plans.merge import _rewrite_partitions

    turn_log = f"{warehouse}/turn_log"
    _check_turn_log_layout(turn_log)
    build_cfg = cfg or BuildConfig(warehouse=warehouse, resume=False)

    def process(batch_df: DataFrame, batch_id: int) -> None:
        # foreachBatch is at-least-once: a batch retried after a
        # partial/complete append must not duplicate turns. Partitioning
        # the log by ingest_batch and dynamically overwriting makes the
        # retry replace exactly its own partition — the standard
        # idempotent-sink pattern for transactional foreachBatch writes
        # (the merge layer's copy-on-write partition rewrite).
        _rewrite_partitions(
            batch_df.withColumn("ingest_batch", F.lit(batch_id)),
            turn_log,
            "ingest_batch",
            (),
        )
        snapshot = latest_conversation_snapshot(
            spark.read.parquet(turn_log)
        ).localCheckpoint()
        build_or_update(spark, snapshot, warehouse, build_cfg)

    reader = spark.readStream.schema(schemas.TRANSCRIPTS)
    if max_files_per_trigger is not None:
        reader = reader.option("maxFilesPerTrigger", max_files_per_trigger)
    stream = reader.parquet(source)
    return (
        stream.writeStream.foreachBatch(process)
        .option("checkpointLocation", checkpoint)
        .trigger(availableNow=True)
        .start()
    )


def gated_stream_build(
    spark: SparkSession,
    source: str,
    warehouse: str,
    checkpoint_root: str,
    gap: str = "30 minutes",
    watermark: str = "10 minutes",
    cfg=None,
    timeout_s: int = 300,
):
    """One availableNow pass of the SESSION-GATED build: only
    conversations whose session has closed (event-time watermark
    passed last turn + ``gap``) are delivered to the batch plans —
    the delivery contract ``stream_incremental_build`` documents,
    enforced with the sessionize operator instead of assumed.

    Per pass:
      1. ``conversation_sessions`` (pure-JVM session_window) drains
         the source and appends closed-session descriptors;
      2. the raw turns of every closed conversation are snapshotted
         from the source directory (latest delivery wins per turn);
      3. ``build_or_update``: ``build_all`` until the warehouse is
         complete, ``incremental_update`` after. A conversation that
         re-opens with more turns after closing simply re-registers as
         modified on a later pass — an extra incremental cycle, never
         wrong output.

    Returns the number of closed conversations built over so far
    (0 → no build ran yet: everything is still inside the gap).
    """
    from ..plans.build import BuildConfig
    from .sessionize import conversation_sessions

    closed_log = f"{warehouse}/closed_sessions"
    build_cfg = cfg or BuildConfig(warehouse=warehouse, resume=False)

    stream = spark.readStream.schema(schemas.TRANSCRIPTS).parquet(source)
    q = (
        conversation_sessions(stream, gap=gap, watermark=watermark)
        .writeStream.format("parquet")
        .option("path", closed_log)
        .option("checkpointLocation", f"{checkpoint_root}/sessions")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(timeout_s)

    try:
        closed = spark.read.parquet(closed_log).select("conv_id").distinct()
    except Exception:
        return 0
    n_closed = closed.count()
    if n_closed == 0:
        return 0

    # latest delivery wins per (conv_id, turn_idx), DETERMINISTICALLY:
    # the delivery ordinal is the source file's modification time
    # (newer file = later delivery), tie-broken by file path so two
    # passes over the same directory always pick the same row — a bare
    # dropDuplicates would keep an arbitrary row and could flap
    # between old and new text across passes. Known limit: two
    # DIFFERENT delivery files for the same turn inside one mtime
    # granule carry no order signal at all, so the path tie-break is
    # stable-but-arbitrary; producers that redeliver corrections
    # faster than their filesystem's mtime resolution must encode a
    # sequence in the file path (lexicographically increasing names
    # make the tie-break exact).
    from pyspark.sql import Window

    # the hidden _metadata column must be projected directly off the
    # file scan (it does not survive joins)
    turns = (
        spark.read.schema(schemas.TRANSCRIPTS)
        .parquet(source)
        .withColumn("_file_mtime", F.col("_metadata.file_modification_time"))
        .withColumn("_file_path", F.col("_metadata.file_path"))
    )
    w_latest = Window.partitionBy("conv_id", "turn_idx").orderBy(
        F.col("_file_mtime").desc(), F.col("_file_path").desc()
    )
    snapshot = (
        turns.join(F.broadcast(closed), "conv_id", "left_semi")
        .withColumn("_rn", F.row_number().over(w_latest))
        .where(F.col("_rn") == 1)
        .drop("_file_mtime", "_file_path", "_rn")
        .localCheckpoint()
    )
    build_or_update(spark, snapshot, warehouse, build_cfg)
    return n_closed
