"""Periodic warehouse maintenance: vacuum + small-file compaction.

An incremental warehouse accrues three kinds of garbage that the hot
cycle deliberately does NOT reclaim (keeping every cycle
delta-proportional):

  * superseded conversation versions in the streaming turn log —
    ``streaming/pipeline.py`` appends one ``ingest_batch=<id>``
    partition per micro-batch and a re-delivered conversation simply
    shadows its old rows, so the log grows with total deliveries, not
    live conversations;
  * orphaned chunk-embedding rows — chunk ids are content hashes
    shared across conversations, so the delta cycle leaves embeddings
    of vanished chunk texts in place rather than paying a global
    reference count per cycle (plans/incremental.py step 12 docstring
    defers exactly this to "a periodic vacuum job");
  * small files in append-mode tables (lineage rows, the per-bucket
    extraction cache, the closed-session log) — footer + listing
    overhead is the dominant cost of many-small-file tables at scale.

This module is that periodic job — the parquet stand-in for what an
Iceberg deployment runs as ``expire_snapshots`` + ``rewrite_data_files``
maintenance procedures (same economics: bounded rewrite of stale or
fragmented data files, never a full-table rewrite unless the whole
table is stale). Mirrors the reference's out-of-band cleanup role
(graph/core/graph_clean.py — orphan/dangling cleanup run apart from
the build cycle).

Run it BETWEEN cycles: like the rest of the warehouse code this
assumes a single writer (no build or stream batch in flight).

Scale notes:
  * the turn-log vacuum reads only the (conv_id, ingest_batch) key
    columns to find superseded versions (parquet column pruning) and
    rewrites ONLY the batch partitions that actually contain
    superseded rows — an all-live log is a metadata-only no-op;
  * the chunk-embedding vacuum resolves orphans with a key-column
    anti-join and deletes them through ``merge_into(...,'delete')``,
    so only the bucket partitions holding orphans are rewritten;
  * compaction rewrites only directory units whose data-file count
    exceeds the target — already-compact tables cost one listing.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from . import fsio
from .merge import _rewrite_partitions


def _data_files(d: str) -> list[str]:
    return [
        f
        for f in fsio.listdir(d)
        if f.endswith(".parquet") and not f.startswith((".", "_"))
    ]


def _partition_dirs(path: str) -> list[str]:
    return sorted(
        os.path.join(path, n) for n in fsio.list_dirs(path) if "=" in n
    )


def compact_table(
    spark: SparkSession, path: str, target_files: int = 1
) -> dict:
    """Rewrite every directory unit (partition dir, or the table root
    for unpartitioned tables) holding more than ``target_files`` data
    files down to ``target_files`` — Iceberg's ``rewrite_data_files``
    (bin-pack) over the parquet stand-in layout. Row content and the
    partition layout are preserved exactly; units already at or under
    the target are not read at all."""
    from .build import _run_parallel

    if not fsio.is_dir(path):
        return {"units_compacted": 0, "files_before": 0, "files_after": 0}
    units = _partition_dirs(path) or [path]

    def _compact_unit(unit: str) -> tuple[int, int, int]:
        files = _data_files(unit)
        if len(files) <= target_files:
            return len(files), len(files), 0
        # eager localCheckpoint materializes the rows so the unit can
        # be overwritten while "being read" (same pattern as merge.py)
        df = (
            spark.read.parquet(unit)
            .coalesce(target_files)
            .localCheckpoint(eager=True)
        )
        df.write.mode("overwrite").parquet(unit)
        return len(files), len(_data_files(unit)), 1

    # units are independent directories — run them from the shared
    # driver pool so a 1024-bucket table doesn't pay 1024 serial
    # read+write barriers
    results = _run_parallel(
        [(lambda u=u: _compact_unit(u)) for u in units]
    )
    return {
        "units_compacted": sum(c for _, _, c in results),
        "files_before": sum(b for b, _, _ in results),
        "files_after": sum(a for _, a, _ in results),
    }


def vacuum_turn_log(spark: SparkSession, warehouse: str) -> dict:
    """Drop superseded conversation versions from the streaming turn
    log, preserving ``latest_conversation_snapshot`` bit-for-bit.

    A conversation's live version is its max ingest_batch (the
    snapshot's own rule — streaming/pipeline.latest_conversation_
    snapshot); every row of an older batch is shadowed and can be
    reclaimed. Only partitions containing superseded rows are
    rewritten (the merge layer's copy-on-write partition rewrite);
    fully-superseded batch partitions are removed outright. The
    streaming checkpoint tracks SOURCE files, not the log, so
    vacuuming between passes is safe.
    """
    turn_log = os.path.join(warehouse, "turn_log")
    if not fsio.is_dir(turn_log) or not _partition_dirs(turn_log):
        return {"rows_deleted": 0, "partitions_rewritten": 0,
                "partitions_removed": 0}
    log = spark.read.parquet(turn_log)
    latest = log.groupBy("conv_id").agg(
        F.max("ingest_batch").alias("__live_batch")
    )
    # no broadcast hint: latest is conversation-count-scale, which a
    # 100 TB log cannot pin driver-side — AQE broadcasts it when small
    tagged = log.join(latest, "conv_id")
    superseded = tagged.where(F.col("ingest_batch") != F.col("__live_batch"))
    # bounded collect: ≤ one id per batch partition
    touched = sorted(
        r[0] for r in superseded.select("ingest_batch").distinct().collect()
    )
    if not touched:
        return {"rows_deleted": 0, "partitions_rewritten": 0,
                "partitions_removed": 0}
    n_deleted = superseded.count()
    kept_touched = tagged.where(
        F.col("ingest_batch").isin(touched)
        & (F.col("ingest_batch") == F.col("__live_batch"))
    ).drop("__live_batch")
    surviving, emptied = _rewrite_partitions(
        kept_touched, turn_log, "ingest_batch", touched
    )
    return {
        "rows_deleted": n_deleted,
        "partitions_rewritten": len(surviving),
        "partitions_removed": len(emptied),
    }


def vacuum_chunk_embeddings(spark: SparkSession, warehouse: str) -> dict:
    """Reclaim chunk-embedding rows whose chunk id no longer appears in
    the chunks table — the global reference count the hot incremental
    cycle defers here (plans/incremental.py _chunk_embeddings_task).

    Trade-off (documented, deliberate): a vacuumed embedding is
    recomputed if identical chunk text is ever re-ingested — the same
    trade Iceberg's expire_snapshots makes with time-travel data.
    Orphan resolution is a key-column-only anti-join; the delete is a
    bucket-pruned ``merge_into(..., 'delete')``."""
    from .build import _Warehouse
    from .merge import merge_into

    wh = _Warehouse(spark, warehouse)
    ce_path = wh.path("chunk_embeddings")
    if not fsio.is_dir(ce_path) or not fsio.is_dir(wh.path("chunks")):
        return {"rows_deleted": 0}
    live = wh.read("chunks").select("chunk_id").distinct()
    orphans = (
        wh.read("chunk_embeddings")
        .select("chunk_id")
        .distinct()
        .join(live, "chunk_id", "left_anti")
        .localCheckpoint(eager=True)
    )
    n = orphans.count()
    if n == 0:
        return {"rows_deleted": 0}
    merge_into(spark, ce_path, orphans, "chunk_id", when_matched="delete")
    return {"rows_deleted": n}


def vacuum_extraction_cache(spark: SparkSession, warehouse: str) -> dict:
    """Drop extraction-cache entries for chunk ids absent from the
    chunks table, rewriting the cache to one file (the cache is a
    plain append dir — one file per extraction bucket per build, so
    this is also its compaction). Same recompute-on-reingest trade as
    the embedding vacuum; cache hits for every LIVE chunk id are
    preserved exactly."""
    from .build import _Warehouse

    wh = _Warehouse(spark, warehouse)
    cache_path = wh.path("extraction_cache")
    if not fsio.is_dir(cache_path) or not fsio.is_dir(wh.path("chunks")):
        return {"rows_deleted": 0}
    live = wh.read("chunks").select("chunk_id").distinct()
    cache = wh.read("extraction_cache")
    # probe for orphans with ONE extra job: anti-join limit(1) — the
    # steady no-orphan state costs a short-circuiting scan, not a
    # single-task rewrite of the whole cache (coalesce(1) funnels it
    # through one core)
    if not cache.join(live, "chunk_id", "left_anti").limit(1).count():
        return {"rows_deleted": 0}
    # orphans exist: evaluate the semi-join ONCE (checkpoint), derive
    # both the rewrite and the reclaim count from the materialized rows
    n_before = cache.count()
    kept = cache.join(live, "chunk_id", "left_semi").coalesce(1).localCheckpoint(
        eager=True
    )
    kept.write.mode("overwrite").parquet(cache_path)
    return {"rows_deleted": n_before - kept.count()}


#: append-mode tables whose file count grows with cycle count; the
#: bucketed MERGE tables stay one-file-per-bucket by construction and
#: need no compaction. extraction_cache is listed too: its vacuum
#: rewrites it to one file only when rows were actually reclaimed, so
#: the steady no-deletion state (one appended file per extraction
#: bucket per build) still needs the bin-pack.
COMPACT_TABLES = ("lineage", "closed_sessions", "extraction_cache")


def maintain_warehouse(spark: SparkSession, warehouse: str) -> dict:
    """One full maintenance pass: version vacuum (turn log), orphan
    vacuums (chunk embeddings, extraction cache), then small-file
    compaction of the append-mode tables. Returns the per-step report
    and records a ``maintenance`` lineage row so warehouse history
    shows when garbage was last reclaimed. A warehouse holding tables
    of an older format raises before anything is touched."""
    import time

    from .build import _Warehouse

    t0 = time.time()
    wh = _Warehouse(spark, warehouse)
    if wh.holds_tables():
        wh.check_format()
    report = {
        "turn_log": vacuum_turn_log(spark, warehouse),
        "chunk_embeddings": vacuum_chunk_embeddings(spark, warehouse),
        "extraction_cache": vacuum_extraction_cache(spark, warehouse),
    }
    for name in COMPACT_TABLES:
        path = os.path.join(warehouse, name)
        if fsio.is_dir(path):
            report[f"compact_{name}"] = compact_table(spark, path)
    rows_deleted = sum(
        step.get("rows_deleted", 0) for step in report.values()
    )
    if fsio.is_dir(wh.path("lineage")):
        wh.append_lineage("maintenance", -1, rows_deleted, t0)
    return report
