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

import os
import time
from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .. import schemas
from ..operators.canonicalize import (
    canonical_entities,
    resolve_canonical,
    rewrite_mentions,
    rewrite_triples,
)
from ..operators.chunking import chunk_conversations
from ..operators.community import community_catalog, detect_communities
from ..operators.components import connected_components, consecutive_component_ids
from ..operators.extraction import extract_chunks
from ..operators.linking import (
    entity_catalog,
    link_entities_driver_path,
    similar_entities,
    with_embeddings,
)
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
    # bucket count of the warehouse's one layout: every per-key table
    # (per-conversation tables by conv_id, the inverted indexes,
    # entity-scale side tables, triples by triple key, mentions and
    # chunk embeddings by chunk id) is stored bucket-partitioned so an
    # incremental cycle MERGEs only the delta-touched partitions
    # (plans/merge.py) — Iceberg's bucket transform is the managed
    # equivalent. Warehouses written in any other layout must be
    # rebuilt (FORMAT_VERSION).
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
    # cap 16: the widest pool (delta step 4+5) holds 10 conv-table
    # merges + 2 index merges — one wave, not two; each task is a
    # short chain of small jobs, so driver-thread count, not executor
    # contention, is the binding resource
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


@dataclass
class BuildResult:
    tables: dict[str, DataFrame] = field(default_factory=dict)
    metrics: dict[str, float] = field(default_factory=dict)


LINK_PARAMS_FILE = "_link_params.json"

COMMUNITY_PARAMS_FILE = "_community_params.json"

FORMAT_FILE = "_format_version.json"
# 3: bucketed + conv-complete — every per-key table is bucket-
#    partitioned (BuildConfig.bucket_convs) with the triple-key /
#    entity→conv / chunk→conv layout the incremental cycle MERGEs
#    into, and mentions_raw holds one row per CONTRIBUTING conv for a
#    shared content-hash chunk (operators/parsing.mentions_raw)
FORMAT_VERSION = 3

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


def link_fingerprint(cfg) -> dict:
    """The linking-config fingerprint persisted beside canonical_map —
    the ONE place that decides which BuildConfig knobs the linking
    chain's output depends on. Every canonical_map writer sets
    ``wh.link_params = link_fingerprint(cfg)`` and the
    catalog-unchanged reuse in plans/incremental.py compares against
    the stored copy; adding a linking-relevant knob here invalidates
    stale warehouses automatically at every call site."""
    return {"similarity_method": cfg.similarity_method}


def community_fingerprint(cfg) -> dict:
    """The community-config fingerprint persisted beside the community
    tables — the ONE place that decides which BuildConfig knobs the
    detection output depends on. The no-change-cycle communities reuse
    in plans/incremental.py compares against the stored copy; adding a
    detection-relevant knob here invalidates stale warehouses
    automatically. Implementation-semantics changes are covered by
    FORMAT_VERSION, not this fingerprint."""
    return {"max_levels": cfg.max_levels}


class _Warehouse:
    def __init__(self, spark: SparkSession, root: str):
        self.spark = spark
        self.root = root
        self._lineage_buffer: list = []
        # linking-config fingerprint of the CURRENT plan run; persisted
        # alongside canonical_map so a later cycle can tell whether the
        # stored linking tables were produced under the same config
        # (the catalog-unchanged reuse in plans/incremental.py is only
        # sound for identical (catalog, config) pairs)
        self.link_params: dict | None = None

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
        num_buckets: int = 0,
    ) -> DataFrame:
        if name == "entity_embeddings":
            # entering the linking-table overwrite window: the four
            # linking tables (entity_embeddings/similar/wcc/
            # canonical_map) are only mutually consistent once ALL are
            # written, and the catalog-unchanged reuse probe
            # (plans/incremental.py) compares the catalog against
            # entity_embeddings while handing back canonical_map — so a
            # crash between the two overwrites would otherwise let the
            # probe pair a NEW catalog with an OLD map. Deleting the
            # sidecar here and re-creating it only with the
            # canonical_map write (the last of the four on every path)
            # makes the probe decline for the whole torn window.
            fsio.remove(os.path.join(self.root, LINK_PARAMS_FILE))
        if group_key and num_buckets > 0:
            from .merge import write_bucketed

            write_bucketed(df, self.path(name), group_key, num_buckets)
        else:
            df.write.mode("overwrite").parquet(self.path(name))
        if name == "canonical_map" and self.link_params is not None:
            fsio.write_json(
                os.path.join(self.root, LINK_PARAMS_FILE), self.link_params
            )
        return self.read(name)

    def invalidate_community_params(self) -> None:
        """Entering the community-table overwrite window: membership/
        hierarchy/communities are only mutually consistent once ALL are
        written (they're overwritten in parallel), so the sidecar the
        no-change-cycle reuse probes is deleted first and re-created by
        commit_community_params after the last write — a crash inside
        the window makes the probe decline instead of pairing fresh
        membership with a stale catalog."""
        fsio.remove(os.path.join(self.root, COMMUNITY_PARAMS_FILE))

    def commit_community_params(self, params: dict) -> None:
        fsio.write_json(
            os.path.join(self.root, COMMUNITY_PARAMS_FILE), params
        )

    def stored_community_params(self) -> dict | None:
        """Fingerprint persisted with the last completed community
        write, or None inside a torn write window / for a corrupt
        sidecar — the safe direction: reuse is declined and detection
        re-runs."""
        try:
            return fsio.read_json(
                os.path.join(self.root, COMMUNITY_PARAMS_FILE)
            )
        except Exception:
            return None

    def stored_link_params(self) -> dict | None:
        """Fingerprint persisted with the last canonical_map write, or
        None inside a torn linking write window. A corrupt/partial
        sidecar (crash mid-dump) also reads as None — the safe
        direction: reuse is declined and the chain recomputes (same
        fallback shape as merge.table_bucket_spec)."""
        try:
            return fsio.read_json(os.path.join(self.root, LINK_PARAMS_FILE))
        except Exception:
            return None

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


def _stage(
    wh: _Warehouse,
    name: str,
    cfg: BuildConfig,
    compute,
    key: str | None = None,
) -> DataFrame:
    """Materialize-or-reuse one stage; lineage row on compute. ``key``
    names the bucket key of a per-key table (None: plain overwrite
    table — wcc and the community tables, whose dense numbering has no
    stable per-key identity).

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
    done = wh.completed_partitions("extract") if cfg.resume else set()
    if not cfg.resume and fsio.exists(cache_path):
        # fresh rebuild must not reuse a stale cache: a changed
        # extractor/config would otherwise survive via the
        # dropDuplicates(chunk_id) pick (nondeterministic winner)
        fsio.rmtree(cache_path)
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
    wh.link_params = link_fingerprint(cfg)
    fsio.makedirs(cfg.warehouse)
    res = BuildResult()
    t_start = time.time()

    # a resume continues only a current-format warehouse; anything else
    # is stamped BEFORE its first table, so a killed fresh build
    # resumes under the stamp it started with
    if cfg.resume and wh.holds_tables():
        wh.check_format()
    else:
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

    # linking: one driver-side pass when the catalog is small (same
    # core spec as the distributed chain — see linking.py), else the
    # distributed operators stage by stage
    _linked_cache: list = []

    def _linked():
        if not _linked_cache:
            _linked_cache.append(
                link_entities_driver_path(entity_catalog(e_raw, chunks))
            )
        return _linked_cache[0]

    # entity_embeddings / similar / canonical_map are bucketed so
    # incremental cycles can MERGE their deltas instead of overwriting
    # O(catalog) bytes per cycle; wcc stays an overwrite — its dense
    # component numbering is a global renumbering, so its rows have no
    # stable per-key identity to merge on (and it is the smallest of
    # the four)
    embedded = _stage(
        wh,
        "entity_embeddings",
        cfg,
        lambda: (
            _linked()["embedded"]
            if _linked() is not None
            else with_embeddings(entity_catalog(e_raw, chunks))
        ),
        "entity_id",
    )

    similar = _stage(
        wh,
        "similar",
        cfg,
        lambda: (
            _linked()["similar"]
            if _linked() is not None
            else similar_entities(embedded, method=cfg.similarity_method)
        ),
        "src",
    )
    res.tables["similar"] = similar

    def _wcc():
        if _linked() is not None:
            return _linked()["wcc"]
        comp = connected_components(
            similar.select("src", "dst"),
            nodes=embedded.select("entity_id"),
        )
        return consecutive_component_ids(comp).select(
            F.col("node").alias("entity_id"), "wcc"
        )

    wcc = _stage(wh, "wcc", cfg, _wcc)

    cmap = _stage(
        wh,
        "canonical_map",
        cfg,
        lambda: (
            _linked()["canonical_map"]
            if _linked() is not None
            else resolve_canonical(wcc)
        ),
        "entity_id",
    )
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

    def _entities():
        catalog_wcc = embedded.join(wcc, "entity_id", "left")
        return canonical_entities(catalog_wcc, cmap).select(
            "entity_id", "entity_type", "description", "embedding", "wcc"
        )

    entities = _stage(wh, "entities", cfg, _entities, "entity_id")
    res.tables["entities"] = entities

    if cfg.resume and wh.exists("membership") and wh.exists("hierarchy"):
        membership, hierarchy = wh.read("membership"), wh.read("hierarchy")
        fresh_detection = False
    else:
        t0 = time.time()
        wh.invalidate_community_params()
        membership, hierarchy = detect_communities(
            entities, triples, max_levels=cfg.max_levels
        )
        membership, hierarchy = _run_parallel([
            lambda: wh.write(membership, "membership"),
            lambda: wh.write(hierarchy, "hierarchy"),
        ])
        wh.append_lineage("membership", -1, membership.count(), t0, defer=True)
        fresh_detection = True
    res.tables.update(membership=membership, hierarchy=hierarchy)

    # build stage 3 (reference build/build_chunk_index.py:101-172):
    # chunk embeddings for the chunk vector index — one pandas-UDF pass
    def _chunk_embeddings():
        from ..operators.chunk_index import with_chunk_embeddings

        return with_chunk_embeddings(chunks).select("chunk_id", "embedding")

    communities, chunk_embeddings = _run_parallel(
        [
            lambda: _stage(
                wh,
                "communities",
                cfg,
                lambda: community_catalog(membership, entities, triples, mentions),
            ),
            lambda: _stage(
                wh, "chunk_embeddings", cfg, _chunk_embeddings, "chunk_id"
            ),
        ]
    )
    res.tables["communities"] = communities
    res.tables["chunk_embeddings"] = chunk_embeddings
    # the sidecar describes the detection params of the STORED tables:
    # stamped only when this run actually detected with cfg (a resume
    # that reused membership/hierarchy leaves whatever stamp — if any —
    # the writing run left, which is the truthful one)
    if fresh_detection:
        wh.commit_community_params(community_fingerprint(cfg))

    wh.flush_lineage()
    res.metrics["build_seconds"] = time.time() - t_start
    return res
