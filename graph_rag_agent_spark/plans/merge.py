"""Iceberg-shaped MERGE INTO / DELETE WHERE over the parquet warehouse.

The reference persists its graph in Neo4j and upserts with per-batch
Cypher MERGE (graph/core/*, incremental_graph_builder.py); on a lake
engine the equivalent primitive is Iceberg's copy-on-write MERGE INTO:
only the data files containing matched keys are rewritten, so the cost
of an incremental cycle is proportional to the delta, not the table.
No Iceberg jars ship in this sandbox, so this module implements the
same shape over directory-partitioned parquet:

- tables are written partitioned by ``__bucket = pmod(xxhash64(key), n)``
  (a stable hash of the merge key — Iceberg's bucket transform); the
  bucket spec sidecar is written once, when ``write_bucketed`` creates
  the table;
- ``upsert_groups`` is the one copy-on-write rewrite: it reads ONLY
  the bucket partitions the affected keys hash into (partition pruning
  bounds the read to delta-touched files) and writes the merged slice
  back with dynamic partition overwrite, so untouched bucket
  directories are never rewritten. ``merge_into``/``delete_where`` and
  the turn-log vacuum (plans/maintenance.py) are calls into it or its
  partition-rewrite helper.

At 100 TB with a 1 % delta and 1024 buckets, a merge rewrites the
~delta-sized slice of the table instead of the full 100 TB — the exact
copy-on-write economics Iceberg provides, minus snapshot isolation
(single-writer is assumed, as with the reference's single builder).

Merge semantics follow Iceberg/ANSI MERGE INTO:
  WHEN MATCHED THEN UPDATE SET *   (or DELETE)
  WHEN NOT MATCHED THEN INSERT *
ANSI MERGE raises when a target row matches several source rows; here
the source is deduplicated on the key instead (one survivor per key).

Table state (bucket spec sidecar, partition listing, emptied-bucket
removal) is probed through plans/fsio, which resolves the
scheme-appropriate Hadoop FileSystem from the active session — the
same code drives local disk, HDFS, or any object store whose
connector is on the classpath. These are metadata ops (one O(buckets)
listing per merge, O(bytes) sidecar reads), never data reads. Real
deployments would use actual Iceberg MERGE INTO anyway (see module
intro).
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from . import fsio

BUCKET_COL = "__bucket"


def table_bucket_spec(path: str) -> dict | None:
    """{'key': ..., 'num_buckets': ...} for a bucketed table, else
    None. The spec travels with the table (Iceberg keeps the bucket
    transform in table metadata for the same reason: the modulus must
    match the layout exactly or keys map to the wrong partitions)."""
    try:
        return fsio.read_json(os.path.join(path, "_bucket_spec.json"))
    except Exception:
        return None


def _write_spec(path: str, key: str, num_buckets: int) -> None:
    fsio.write_json(
        os.path.join(path, "_bucket_spec.json"),
        {"key": key, "num_buckets": num_buckets},
    )


def _resolve_buckets(path: str, key: str, num_buckets: int | None) -> int:
    spec = table_bucket_spec(path)
    if spec is not None:
        if spec["key"] != key or (
            num_buckets is not None and num_buckets != spec["num_buckets"]
        ):
            raise ValueError(
                f"bucket spec mismatch at {path}: table is "
                f"{spec}, merge requested key={key} n={num_buckets}"
            )
        return spec["num_buckets"]
    if num_buckets is None:
        raise ValueError(f"no bucket spec at {path} and none given")
    return num_buckets


def bucket_of(key_col, num_buckets: int):
    """Iceberg-style bucket transform: stable hash of the key, mod n."""
    return F.pmod(F.xxhash64(key_col.cast("string")), F.lit(num_buckets)).cast(
        "int"
    )


def write_bucketed(
    df: DataFrame, path: str, key: str, num_buckets: int = 64
) -> None:
    """Create/replace a bucket-partitioned table (the MERGE target
    layout). One directory per key bucket, ONE file per bucket: the
    pre-write repartition on the bucket column keeps the file count at
    num_buckets instead of tasks x buckets — footer/listing overhead is
    the dominant cost of many-small-table warehouses, and Iceberg's
    write.distribution-mode=hash does exactly this."""
    with_bucket = df.withColumn(BUCKET_COL, bucket_of(F.col(key), num_buckets))
    (
        with_bucket.repartition(num_buckets, F.col(BUCKET_COL))
        .write.mode("overwrite")
        .partitionBy(BUCKET_COL)
        .parquet(path)
    )
    # the spec is written here, once: merges only rewrite partition
    # directories, which leave the table's root files alone
    _write_spec(path, key, num_buckets)
    # an EMPTY frame (a canonical map with no merges, a similarity
    # table with no pairs) writes zero partition directories — park
    # the schema-bearing 0-row marker so the table stays readable
    if not _table_buckets(path):
        _keep_readable(with_bucket, path)


def read_bucketed(spark: SparkSession, path: str) -> DataFrame:
    return spark.read.parquet(path).drop(BUCKET_COL)


def _table_buckets(path: str) -> list[int]:
    out = []
    for name in fsio.listdir(path):
        if name.startswith(f"{BUCKET_COL}="):
            out.append(int(name.split("=", 1)[1]))
    return sorted(out)


def _keep_readable(df: DataFrame, path: str) -> None:
    """A table whose every bucket is empty would leave only
    _bucket_spec.json behind — and the next ``spark.read.parquet``
    dies with 'Unable to infer schema'. Park a 0-row file (valid
    parquet footer = schema survives) inside one partition directory
    so the emptied table stays readable and the layout stays pure
    partition-dirs; a later write to bucket 0 dynamically overwrites
    the marker."""
    (
        df.drop(BUCKET_COL)
        .limit(0)
        .write.mode("overwrite")
        .parquet(os.path.join(path, f"{BUCKET_COL}=0"))
    )


def _rewrite_partitions(
    merged: DataFrame, path: str, part_col: str, rewritten
) -> tuple[set, set]:
    """Copy-on-write commit of the partitions named in ``rewritten``:
    ``merged`` is their complete new content. It is materialized first
    to break its lineage to ``path`` (Spark refuses to overwrite a path
    that is still being read from); dynamic overwrite then replaces ONLY
    the partitions present in it, and a partition left with no rows
    writes nothing — so a rewritten partition missing from ``merged``
    is removed by hand. Returns (surviving, emptied) partition values;
    the surviving collect is ≤ one value per partition, bounded
    regardless of data size."""
    merged = merged.localCheckpoint(eager=True)
    surviving = {r[0] for r in merged.select(part_col).distinct().collect()}
    if surviving:
        (
            merged.repartition(len(surviving), F.col(part_col))
            .write.mode("overwrite")
            .option("partitionOverwriteMode", "dynamic")
            .partitionBy(part_col)
            .parquet(path)
        )
    emptied = set(rewritten) - surviving
    for p in sorted(emptied):
        fsio.rmtree(os.path.join(path, f"{part_col}={p}"))
    return surviving, emptied


def merge_into(
    spark: SparkSession,
    path: str,
    source: DataFrame,
    key: str,
    num_buckets: int | None = None,
    when_matched: str = "update",
) -> dict:
    """MERGE INTO <path> USING source ON target.key = source.key
    WHEN MATCHED THEN {UPDATE SET * | DELETE}
    WHEN NOT MATCHED THEN INSERT *.

    Both forms are an ``upsert_groups`` call: UPDATE deletes the source
    keys and inserts the (key-deduplicated) source rows; DELETE removes
    the source keys and inserts nothing. Returns {"touched_buckets":
    [...], "total_buckets": n} so callers (and tests) can verify the
    pruning actually bounded the work.
    """
    if when_matched not in ("update", "delete"):
        raise ValueError(f"when_matched must be update|delete: {when_matched}")
    if when_matched == "update":
        rows = source.dropDuplicates([key])
        return upsert_groups(spark, path, rows, rows.limit(0), key, num_buckets)
    if not fsio.exists(path):
        return {"touched_buckets": [], "total_buckets": 0}
    nothing = read_bucketed(spark, path).limit(0)
    return upsert_groups(spark, path, nothing, source, key, num_buckets)


def upsert_groups(
    spark: SparkSession,
    path: str,
    new_rows: DataFrame,
    stale_keys: DataFrame,
    key: str,
    num_buckets: int | None = None,
) -> dict:
    """Group-wise MERGE, the one copy-on-write rewrite of this module:
    delete every row whose key is stale or re-ingested, then insert
    new_rows — Iceberg's ``MERGE … WHEN MATCHED THEN DELETE`` followed
    by an append, the per-conversation upsert shape an incremental KG
    cycle needs (a conversation's chunk/extraction rows are a group,
    not one row). Only partitions holding affected keys are read or
    rewritten; new_rows are aligned to the target's columns. Over an
    absent table it creates the table from new_rows. One partition
    listing per call."""
    if not fsio.exists(path):
        write_bucketed(new_rows, path, key, num_buckets or 64)
        bs = _table_buckets(path)
        return {"touched_buckets": bs, "total_buckets": len(bs)}
    num_buckets = _resolve_buckets(path, key, num_buckets)
    gone = (
        stale_keys.select(key)
        .union(new_rows.select(key))
        .distinct()
        .withColumn(BUCKET_COL, bucket_of(F.col(key), num_buckets))
    )
    # the touched-partition list is ≤ num_buckets values — a bounded
    # driver-side collect by construction, independent of data size
    touched = sorted(
        r[0] for r in gone.select(BUCKET_COL).distinct().collect()
    )
    existing = set(_table_buckets(path))
    if not touched:
        return {"touched_buckets": [], "total_buckets": len(existing)}
    read_buckets = [b for b in touched if b in existing]
    target = spark.read.parquet(path)
    cols = [c for c in target.columns if c != BUCKET_COL]
    new_b = new_rows.select(*cols).withColumn(
        BUCKET_COL, bucket_of(F.col(key), num_buckets)
    )
    survivors = target.where(F.col(BUCKET_COL).isin(read_buckets)).join(
        gone.select(key), key, "left_anti"
    )
    surviving, emptied = _rewrite_partitions(
        survivors.unionByName(new_b), path, BUCKET_COL, read_buckets
    )
    buckets = (existing - emptied) | surviving
    if not buckets:
        _keep_readable(new_b, path)
        buckets = {0}
    return {"touched_buckets": touched, "total_buckets": len(buckets)}


def read_pruned(spark: SparkSession, path: str, keys: DataFrame) -> DataFrame:
    """Read ONLY the bucket partitions of a bucketed table that can
    contain the given keys (on the table's bucket key), then left-semi
    filter to exactly those keys. This is the lookup half of
    delta-proportional incremental maintenance: at 100 TB, 'the raw
    triples of 500 changed conversations' must cost 500 conversations
    of I/O, not a corpus scan. Only the touched BUCKET ids are
    collected (≤ num_buckets — bounded regardless of key count); the
    partition filter prunes to the ones that exist, so no listing."""
    spec = table_bucket_spec(path)
    if spec is None:
        raise ValueError(f"read_pruned requires a bucketed table: {path}")
    key, n = spec["key"], spec["num_buckets"]
    keys = keys.select(key).distinct()
    touched = sorted(
        r[0]
        for r in keys.select(bucket_of(F.col(key), n).alias("b"))
        .distinct()
        .collect()
    )
    # no broadcast hint: the key set is usually delta-small (AQE will
    # broadcast it), but a 100 TB cycle's affected-chunk set can be
    # too big to pin driver-side — let the optimizer choose
    return (
        spark.read.parquet(path)
        .where(F.col(BUCKET_COL).isin(touched))
        .join(keys, key, "left_semi")
        .drop(BUCKET_COL)
    )


def delete_where(
    spark: SparkSession, path: str, predicate, key: str, num_buckets: int | None = None
) -> dict:
    """DELETE FROM <path> WHERE predicate — resolved to a keyed MERGE
    (matched rows deleted). The predicate is evaluated over the table
    itself; only partitions containing matches are rewritten."""
    matches = spark.read.parquet(path).where(predicate).select(key)
    return merge_into(
        spark, path, matches, key, num_buckets, when_matched="delete"
    )
