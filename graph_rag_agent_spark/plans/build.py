"""End-to-end KG build plan with per-partition checkpoints, lineage
and resume.

Mirrors the reference's three-stage lifecycle
(/root/reference/build/main.py:19-45 → build_graph.py,
build_index_and_community.py, build_chunk_index.py; SURVEY.md §3.1) as
one Spark job graph:

    transcripts → chunks → extractions → parse → raw tables →
    entity catalog + embeddings → SIMILAR → WCC → candidates →
    merge → canonical map → triples/mentions → communities →
    summaries → registry

Durability model (north rule: "resumable from per-partition
checkpoints with lineage + extraction metrics written per
partition"):
  - every stage materializes to ``<warehouse>/<table>`` parquet and is
    skipped on resume when its _SUCCESS marker exists (the Iceberg
    equivalent is a snapshot check — parquet layout here because the
    sandbox has no Iceberg jars; the table API is format-agnostic);
  - the expensive stage (extraction — the LLM boundary) additionally
    checkpoints per hash-bucket: chunks are split into B buckets by
    pmod(hash(chunk_id), B); each bucket's extractions are appended to
    the extraction cache as they finish, with a lineage row
    (stage='extract', partition_id=bucket, rows, timing). A killed run
    resumes by skipping completed buckets AND anti-joining the cache,
    mirroring the reference's pickle cache + file registry
    (entity_extractor.py:77-143, file_change_manager.py).
"""

from __future__ import annotations

import functools
import os
import time
from contextlib import contextmanager, nullcontext
from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .. import schemas
from ..operators.canonicalize import rewrite_mentions, rewrite_triples
from ..operators.chunking import chunk_conversations
from ..operators.extraction import extract_chunks
from ..operators.linking import entity_catalog, link_catalog
from ..operators.parsing import (
    entities_raw,
    mentions_raw,
    parse_extractions,
    triples_raw,
)
from ..sources.transcripts import conversation_registry
from . import fsio


@dataclass
class BuildConfig:
    warehouse: str
    resume: bool = True
    extraction_buckets: int = 8
    similarity_method: str = "auto"
    max_levels: int = 3
    extractor: object = None  # None → deterministic stub
    fail_after_bucket: int | None = None  # test hook: simulate a crash
    # bucket count of the warehouse's one layout: every corpus-scale
    # table (per-conversation tables by conv_id, the inverted indexes,
    # triples by triple key, mentions and chunk embeddings by chunk id)
    # is stored bucket-partitioned so an incremental cycle MERGEs only
    # the delta-touched partitions (plans/merge.py) — Iceberg's bucket
    # transform is the managed equivalent. Entity-scale tables are
    # recomputed in full every cycle and written whole. Warehouses
    # written in any other layout must be rebuilt (FORMAT_VERSION).
    bucket_convs: int = 8

    def __post_init__(self):
        if self.bucket_convs < 1:
            raise ValueError(
                f"bucket_convs must be >= 1, got {self.bucket_convs}: "
                "the bucketed warehouse is the only layout"
            )


def _run_parallel(tasks):
    """Run independent Spark actions from driver threads — the
    scheduler interleaves their jobs across the cluster. A build or
    incremental cycle is ~a hundred small driver-side barriers
    (pruned reads, bucketed MERGEs, metadata collects, one-row
    writes); submitting them sequentially serializes 0.3-1 s of fixed
    per-action latency each, which is pure dead time at ANY cluster
    size. Tasks must be mutually independent (distinct table paths,
    inputs checkpointed)."""
    from concurrent.futures import ThreadPoolExecutor

    if not tasks:
        return []
    # cap 16: the widest pool (incremental._read_out_tables) holds 19
    # table reads, the delta step 4+5 pool 7 conv-table merges + 2
    # index merges and the step-11 pool the 4 linking-table writes;
    # each task is a short chain of small jobs, so
    # driver-thread count, not executor contention, is the binding
    # resource
    with ThreadPoolExecutor(max_workers=min(16, len(tasks))) as ex:
        futures = [ex.submit(fn) for fn in tasks]
        return [f.result() for f in futures]


def entity_conv_pairs(
    e_raw: DataFrame, t_raw: DataFrame, m_raw: DataFrame
) -> DataFrame:
    """Distinct (entity_id, conv_id): every RAW entity id appearing in
    a conversation's entities/triples/mentions — the inverted index the
    incremental delta path prunes on."""
    return (
        e_raw.select("entity_id", "conv_id")
        .unionByName(
            t_raw.select(F.col("subj").alias("entity_id"), "conv_id")
        )
        .unionByName(t_raw.select(F.col("obj").alias("entity_id"), "conv_id"))
        .unionByName(m_raw.select("entity_id", "conv_id"))
        .distinct()
    )


def canonical_entity_rows(
    embedded: DataFrame, wcc: DataFrame, cmap: DataFrame
) -> DataFrame:
    """The ``entities`` table: the embedded catalog with its component
    id, collapsed onto canonical ids. ``canonical_entities`` is looked
    up at call time so wrappers installed on its module see the call."""
    from ..operators import canonicalize

    return canonicalize.canonical_entities(
        embedded.join(wcc, "entity_id", "left"), cmap
    ).select("entity_id", "entity_type", "description", "embedding", "wcc")


@dataclass
class BuildResult:
    tables: dict[str, DataFrame] = field(default_factory=dict)
    metrics: dict[str, float] = field(default_factory=dict)


LINK_PARAMS_FILE = "_link_params.json"

COMMUNITY_PARAMS_FILE = "_community_params.json"

FORMAT_FILE = "_format_version.json"
# 3: bucketed + conv-complete — every corpus-scale table is bucket-
#    partitioned (BuildConfig.bucket_convs) with the triple-key /
#    entity→conv / chunk→conv layout the incremental cycle MERGEs
#    into, and mentions_raw holds one row per CONTRIBUTING conv for a
#    shared content-hash chunk (operators/parsing.mentions_raw). The
#    entity-scale tables are read whole, bucketed or plain alike.
FORMAT_VERSION = 3

NEXT_SUFFIX = "__next"  # the sibling _Warehouse.overwrite swaps in

# the tables of a warehouse (build_all writes them all; an incremental
# cycle returns them all) — a directory holding any of them is a
# warehouse, whose format stamp must then match FORMAT_VERSION
WAREHOUSE_TABLES = (
    "transcripts",
    "registry",
    "chunks",
    "extractions",
    "parsed",
    "entities_raw",
    "triples_raw",
    "mentions_raw",
    "entity_embeddings",
    "similar",
    "wcc",
    "canonical_map",
    "triples",
    "mentions",
    "entities",
    "membership",
    "hierarchy",
    "communities",
    "chunk_embeddings",
)

# the rewrite-intent journal of an incremental cycle (plans/
# incremental.py step 3.5): the delta-proportional obligations a retry
# needs after the conv merges have destroyed the pre-merge evidence
# and the registry has committed
JOURNAL_TABLES = {
    "pending_rewrite_convs": "conv_id string",
    "pending_rewrite_tkeys": "subj string, pred string, obj string",
    "pending_rewrite_chunks": "chunk_id string",
}


def link_fingerprint(cfg) -> dict:
    """The linking-config fingerprint persisted beside canonical_map —
    the ONE place that decides which BuildConfig knobs the linking
    chain's output depends on. Every linking-table writer commits it
    through ``wh.sidecar_window(LINK_PARAMS_FILE, link_fingerprint(cfg))``.
    plans/incremental.py compares it against the stored copy to guard
    the unchanged-source shortcut and to decide whether the committed
    embeddings and similar rows may seed ``link_catalog`` as its
    ``prior``; adding a linking-relevant knob here invalidates stale
    warehouses automatically at every call site."""
    return {"similarity_method": cfg.similarity_method}


def community_fingerprint(cfg) -> dict:
    """The community-config fingerprint persisted beside the community
    tables — the ONE place that decides which BuildConfig knobs the
    detection output depends on. write_communities commits it; the
    unchanged-source shortcut in plans/incremental.py compares against
    the stored copy, so adding a detection-relevant knob here
    invalidates stale warehouses automatically.
    Implementation-semantics changes are covered by FORMAT_VERSION,
    not this fingerprint."""
    return {"max_levels": cfg.max_levels}


class _Warehouse:
    def __init__(self, spark: SparkSession, root: str):
        self.spark = spark
        self.root = root
        self._lineage_buffer: list = []

    def path(self, name: str) -> str:
        return os.path.join(self.root, name)

    def exists(self, name: str) -> bool:
        return fsio.exists(os.path.join(self.path(name), "_SUCCESS"))

    def read(self, name: str) -> DataFrame:
        from ..operators.canonicalize import TRIPLE_KEY_COL
        from .merge import BUCKET_COL

        df = self.spark.read.parquet(self.path(name))
        for internal in (BUCKET_COL, TRIPLE_KEY_COL):
            if internal in df.columns:
                df = df.drop(internal)
        return df

    def write(
        self,
        df: DataFrame,
        name: str,
        group_key: str | None = None,
        num_buckets: int | None = None,
    ) -> DataFrame:
        if group_key:
            from .merge import write_bucketed

            write_bucketed(df, self.path(name), group_key, num_buckets)
        else:
            self.overwrite(df, name)
        return self.read(name)

    def overwrite(self, df: DataFrame, name: str) -> None:
        """Crash-safe whole-table overwrite: write ``<name>__next``,
        remove ``<name>``, rename ``__next`` into place. A plain Spark
        overwrite deletes first, so a crash mid-write leaves no readable
        files; here a crash leaves the old table intact or a complete
        ``__next`` that heal() promotes."""
        path = self.path(name)
        df.write.mode("overwrite").parquet(path + NEXT_SUFFIX)
        fsio.rmtree(path)
        fsio.rename(path + NEXT_SUFFIX, path)

    def heal(self) -> set[str]:
        """Finish every overwrite a crash interrupted: one root listing,
        and each complete ``__next`` (its _SUCCESS exists) replaces its
        table. A complete sibling is always the newer generation, since
        overwrite() swaps it in right after writing it. Returns the
        root's entry names, promoted tables included."""
        names = set(fsio.listdir(self.root))
        for nxt in sorted(n for n in names if n.endswith(NEXT_SUFFIX)):
            name = nxt[: -len(NEXT_SUFFIX)]
            if fsio.exists(os.path.join(self.path(nxt), "_SUCCESS")):
                fsio.rmtree(self.path(name))
                fsio.rename(self.path(nxt), self.path(name))
                names.add(name)
        return names

    def clear_build_outputs(self) -> None:
        """Remove what build_all and incremental_update write, so a
        fresh build cannot resume into an older build's tables,
        lineage or extraction cache. The format stamp goes first: a
        crash inside this loop leaves an unstamped warehouse that every
        reader refuses. The streaming sinks' turn_log and
        closed_sessions are kept."""
        fsio.remove(self.path(FORMAT_FILE))
        for name in WAREHOUSE_TABLES + tuple(JOURNAL_TABLES) + (
            "entity_conv_index", "chunk_conv_index", "lineage",
            "extraction_cache",
        ):
            fsio.rmtree(self.path(name))
            fsio.rmtree(self.path(name) + NEXT_SUFFIX)
        for sidecar in (LINK_PARAMS_FILE, COMMUNITY_PARAMS_FILE):
            fsio.remove(self.path(sidecar))

    @contextmanager
    def sidecar_window(self, sidecar: str, params: dict):
        """Commit window of a table set that is only mutually
        consistent once ALL of it is written — the four linking tables
        (sidecar LINK_PARAMS_FILE) or the community tables
        (COMMUNITY_PARAMS_FILE). Each table write is itself crash-safe
        (overwrite); the window covers the set. The sidecar is the
        config fingerprint the unchanged-source shortcut and the
        linking ``prior`` compare against: it is removed on entry and
        written with ``params`` after the body. A body that raises
        leaves it absent, so both decline for the whole torn window
        instead of pairing fresh tables with stale ones."""
        path = os.path.join(self.root, sidecar)
        fsio.remove(path)
        yield
        fsio.write_json(path, params)

    def _stored_params(self, sidecar: str) -> dict | None:
        try:
            return fsio.read_json(os.path.join(self.root, sidecar))
        except Exception:
            return None

    def stored_community_params(self) -> dict | None:
        """Fingerprint persisted with the last completed community
        write, or None inside a torn write window / for a corrupt
        sidecar — the safe direction: the unchanged-source shortcut is
        declined and detection re-runs."""
        return self._stored_params(COMMUNITY_PARAMS_FILE)

    def stored_link_params(self) -> dict | None:
        """Fingerprint persisted with the last completed linking-table
        write, or None inside a torn linking write window. A
        corrupt/partial sidecar (crash mid-dump) also reads as None —
        the safe direction: the unchanged-source shortcut is declined
        and the chain recomputes without a ``prior`` (same fallback
        shape as merge.table_bucket_spec)."""
        return self._stored_params(LINK_PARAMS_FILE)

    def write_format_version(self) -> None:
        fsio.write_json(
            os.path.join(self.root, FORMAT_FILE), {"version": FORMAT_VERSION}
        )

    def holds_tables(self) -> bool:
        return any(self.exists(n) for n in WAREHOUSE_TABLES)

    def check_format(self) -> None:
        """Raise unless the warehouse carries the FORMAT_VERSION stamp
        (written before build_all's first table). Older layouts are
        not migrated: they are rebuilt."""
        try:
            version = fsio.read_json(os.path.join(self.root, FORMAT_FILE))[
                "version"
            ]
        except Exception:
            version = None
        if version != FORMAT_VERSION:
            found = "unstamped" if version is None else f"format v{version}"
            raise ValueError(
                f"warehouse {self.root} is {found}, this engine reads "
                f"v{FORMAT_VERSION} — rebuild with build_all(resume=False)"
            )

    def append_lineage(
        self,
        stage: str,
        partition_id: int,
        rows: int,
        t0: float,
        defer: bool = False,
    ):
        """Write (or buffer) one lineage row.

        ``defer=True`` buffers the row for a single batched write via
        flush_lineage() — a one-row parquet append costs ~0.6 s of
        fixed job latency, and an incremental cycle emits a dozen of
        them; stages whose lineage must survive a mid-run crash (the
        per-bucket extraction checkpoints that resume() reads) keep
        the immediate write."""
        row = (stage, partition_id, rows, None, t0, time.time())
        if defer:
            self._lineage_buffer.append(row)
            return
        self._write_lineage([row])

    def flush_lineage(self):
        if self._lineage_buffer:
            self._write_lineage(self._lineage_buffer)
            self._lineage_buffer = []

    def _write_lineage(self, rows: list):
        lineage = self.spark.createDataFrame(
            rows,
            "stage string, partition_id int, rows long, bytes long, "
            "started_s double, finished_s double",
        ).select(
            "stage",
            "partition_id",
            "rows",
            "bytes",
            F.timestamp_seconds("started_s").alias("started_at"),
            F.timestamp_seconds("finished_s").alias("finished_at"),
        )
        lineage.write.mode("append").parquet(self.path("lineage"))

    def completed_partitions(self, stage: str) -> set[int]:
        if not fsio.exists(self.path("lineage")):
            return set()
        try:
            rows = (
                self.read("lineage")
                .where(F.col("stage") == stage)
                .select("partition_id")
                .distinct()
                .collect()
            )
        except Exception:
            return set()
        return {r["partition_id"] for r in rows}


def community_tables(
    entities: DataFrame,
    triples: DataFrame,
    mentions: DataFrame,
    max_levels: int,
) -> tuple[DataFrame, DataFrame, DataFrame]:
    """(membership, hierarchy, communities) of a canonical graph, each
    local-checkpointed: detect_communities, then community_catalog.
    Both operators are looked up on ``operators.community`` at call
    time so wrappers installed on that module see every call."""
    from ..operators import community

    membership, hierarchy = community.detect_communities(
        entities, triples, max_levels=max_levels
    )
    membership = membership.localCheckpoint()
    hierarchy = hierarchy.localCheckpoint()
    communities = community.community_catalog(
        membership, entities, triples, mentions
    ).localCheckpoint()
    return membership, hierarchy, communities


def write_communities(
    wh: _Warehouse,
    cfg: BuildConfig,
    entities: DataFrame,
    triples: DataFrame,
    mentions: DataFrame,
) -> tuple[DataFrame, DataFrame, DataFrame]:
    """The community stage of build_all and of every incremental cycle:
    one full detection over the stored graph, its membership, hierarchy
    and communities committed inside one community sidecar window.
    Returns the three tables as read back."""
    tables = community_tables(entities, triples, mentions, cfg.max_levels)
    names = ("membership", "hierarchy", "communities")
    with wh.sidecar_window(COMMUNITY_PARAMS_FILE, community_fingerprint(cfg)):
        return tuple(
            _run_parallel(
                [(lambda n=n, t=t: wh.write(t, n)) for n, t in zip(names, tables)]
            )
        )


def _stage(
    wh: _Warehouse,
    name: str,
    cfg: BuildConfig,
    compute,
    key: str | None = None,
) -> DataFrame:
    """Materialize-or-reuse one stage; lineage row on compute. ``key``
    names the bucket key of a corpus-scale table that incremental
    cycles MERGE into. None writes the table whole through the
    crash-safe overwrite: the entity-scale tables (linking, entities,
    communities) are recomputed in full, so they are written whole.

    Stage lineage is deferred (one batched write at the end of
    build_all): resume() keys off each table's _SUCCESS marker, not
    these rows, so a crash can only lose bookkeeping for stages whose
    tables are themselves complete. The per-bucket extraction rows
    that resume DOES read stay immediate (_extraction_stage)."""
    if cfg.resume and wh.exists(name):
        return wh.read(name)
    t0 = time.time()
    df = wh.write(compute(), name, group_key=key, num_buckets=cfg.bucket_convs)
    wh.append_lineage(name, -1, df.count(), t0, defer=True)
    return df


def _extraction_stage(
    wh: _Warehouse, chunks: DataFrame, cfg: BuildConfig
) -> DataFrame:
    """Bucketed, resumable extraction (see module docstring)."""
    name = "extractions"
    if cfg.resume and wh.exists(name):
        return wh.read(name)

    cache_path = wh.path("extraction_cache")
    # a fresh build cleared the lineage and the cache (build_all)
    done = wh.completed_partitions("extract")
    cache = None
    if fsio.exists(cache_path):
        try:
            cache = wh.read("extraction_cache")
        except Exception:
            cache = None

    bucketed = chunks.withColumn(
        "bucket", F.pmod(F.hash("chunk_id"), F.lit(cfg.extraction_buckets))
    )
    kwargs = {} if cfg.extractor is None else {"extractor": cfg.extractor}
    for b in range(cfg.extraction_buckets):
        if b in done:
            continue
        t0 = time.time()
        part = extract_chunks(
            bucketed.where(F.col("bucket") == b), cache=cache, **kwargs
        )
        # materialize the bucket's delta ONCE: the lineage row records
        # the per-bucket appended count (not a full cache re-scan — at
        # B buckets a cumulative re-count is an O(B²) metadata+scan
        # tax), and the in-memory cache grows by unioning the
        # checkpointed delta instead of re-reading parquet per bucket
        delta = (
            part.select("chunk_id", "result")
            .dropDuplicates(["chunk_id"])
            .localCheckpoint()
        )
        n = delta.count()
        delta.write.mode("append").parquet(cache_path)
        wh.append_lineage("extract", b, n, t0)
        cache = delta if cache is None else cache.unionByName(delta)
        if cfg.fail_after_bucket is not None and b >= cfg.fail_after_bucket:
            raise RuntimeError(f"simulated failure after bucket {b}")

    # final assembly: every chunk joined to its cached result
    final = chunks.select("chunk_id", "conv_id").join(
        wh.read("extraction_cache").dropDuplicates(["chunk_id"]), "chunk_id"
    ).select("chunk_id", "conv_id", "result")
    return wh.write(
        final, name, group_key="conv_id", num_buckets=cfg.bucket_convs
    )


def build_all(
    spark: SparkSession, transcripts: DataFrame, cfg: BuildConfig
) -> BuildResult:
    wh = _Warehouse(spark, cfg.warehouse)
    fsio.makedirs(cfg.warehouse)
    res = BuildResult()
    t_start = time.time()

    # a resume continues only a current-format warehouse; anything else
    # loses the previous build's outputs and is stamped BEFORE its first
    # table, so a killed fresh build resumes only into its own tables
    if cfg.resume and wh.holds_tables():
        wh.check_format()
    else:
        wh.clear_build_outputs()
        wh.write_format_version()

    transcripts = _stage(wh, "transcripts", cfg, lambda: transcripts, "conv_id")
    res.tables["transcripts"] = transcripts

    # registry and chunks both derive from transcripts only — two
    # independent stage writes, one driver-thread pool (see
    # _run_parallel: sequential submission just serializes fixed
    # per-action latency)
    registry, chunks = _run_parallel(
        [
            lambda: _stage(
                wh, "registry", cfg,
                lambda: conversation_registry(transcripts), "conv_id",
            ),
            lambda: _stage(
                wh, "chunks", cfg,
                lambda: chunk_conversations(transcripts), "conv_id",
            ),
        ]
    )
    res.tables["registry"] = registry
    res.tables["chunks"] = chunks

    extractions = _extraction_stage(wh, chunks, cfg)
    res.tables["extractions"] = extractions

    parsed = _stage(
        wh, "parsed", cfg, lambda: parse_extractions(extractions), "conv_id"
    )
    e_raw, t_raw, m_raw = _run_parallel(
        [
            lambda: _stage(
                wh, "entities_raw", cfg, lambda: entities_raw(parsed), "conv_id"
            ),
            lambda: _stage(
                wh, "triples_raw", cfg, lambda: triples_raw(parsed), "conv_id"
            ),
            lambda: _stage(
                wh, "mentions_raw", cfg, lambda: mentions_raw(parsed), "conv_id"
            ),
        ]
    )
    res.tables.update(entities_raw=e_raw, triples_raw=t_raw, mentions_raw=m_raw)

    # inverted pair indexes: entity→conv and chunk→conv. These are the
    # Spark analogue of Neo4j's adjacency index — the incremental cycle
    # looks up "which conversations contain entity X / chunk Y" with a
    # bucket-pruned read instead of a corpus scan (plans/incremental.py;
    # reference re-points only merge-touched edges,
    # entity_merger.py:348-360).
    _run_parallel(
        [
            lambda: _stage(
                wh, "entity_conv_index", cfg,
                lambda: entity_conv_pairs(e_raw, t_raw, m_raw), "entity_id",
            ),
            lambda: _stage(
                wh, "chunk_conv_index", cfg,
                lambda: chunks.select("chunk_id", "conv_id").distinct(),
                "chunk_id",
            ),
        ]
    )

    # linking: one link_catalog call (driver pass for a small catalog,
    # else the distributed chain), computed only if a stage below
    # needs it. Its four tables are entity-scale and recomputed in full
    # by every cycle, so they are written whole
    @functools.cache
    def _linked():
        return link_catalog(entity_catalog(e_raw, chunks), cfg.similarity_method)

    relink = not cfg.resume or not all(
        wh.exists(n)
        for n in ("entity_embeddings", "similar", "wcc", "canonical_map")
    )
    with (
        wh.sidecar_window(LINK_PARAMS_FILE, link_fingerprint(cfg))
        if relink
        else nullcontext()
    ):
        embedded = _stage(
            wh, "entity_embeddings", cfg, lambda: _linked()["embedded"]
        )
        similar = _stage(wh, "similar", cfg, lambda: _linked()["similar"])
        wcc = _stage(wh, "wcc", cfg, lambda: _linked()["wcc"])
        cmap = _stage(
            wh, "canonical_map", cfg, lambda: _linked()["canonical_map"]
        )
    res.tables["similar"] = similar
    res.tables["canonical_map"] = cmap

    from ..operators.canonicalize import TRIPLE_KEY_COL, with_triple_key

    triples, mentions = _run_parallel(
        [
            lambda: _stage(
                wh, "triples", cfg,
                lambda: with_triple_key(rewrite_triples(t_raw, cmap)),
                TRIPLE_KEY_COL,
            ),
            lambda: _stage(
                wh, "mentions", cfg,
                lambda: rewrite_mentions(m_raw, cmap), "chunk_id",
            ),
        ]
    )
    res.tables.update(triples=triples, mentions=mentions)

    entities = _stage(
        wh, "entities", cfg, lambda: canonical_entity_rows(embedded, wcc, cmap)
    )
    res.tables["entities"] = entities

    # a resume keeps a complete community set; anything less re-detects
    # and rewrites all three tables in one sidecar window
    def _communities():
        names = ("membership", "hierarchy", "communities")
        if cfg.resume and all(wh.exists(n) for n in names):
            return tuple(wh.read(n) for n in names)
        t0 = time.time()
        out = write_communities(wh, cfg, entities, triples, mentions)
        wh.append_lineage("communities", -1, out[2].count(), t0, defer=True)
        return out

    # build stage 3 (reference build/build_chunk_index.py:101-172):
    # chunk embeddings for the chunk vector index — one pandas-UDF pass
    def _chunk_embeddings():
        from ..operators.chunk_index import with_chunk_embeddings

        return with_chunk_embeddings(chunks).select("chunk_id", "embedding")

    (membership, hierarchy, communities), chunk_embeddings = _run_parallel(
        [
            _communities,
            lambda: _stage(
                wh, "chunk_embeddings", cfg, _chunk_embeddings, "chunk_id"
            ),
        ]
    )
    res.tables.update(
        membership=membership,
        hierarchy=hierarchy,
        communities=communities,
        chunk_embeddings=chunk_embeddings,
    )

    wh.flush_lineage()
    res.metrics["build_seconds"] = time.time() - t_start
    return res
