"""The benchmark's workloads.

Each run is one closed-loop client with one outstanding request: the
next request starts only after the previous one returned. Both
workloads start from the same bootstrap warehouse (a bucketed
``plans.build.build_all`` of a fixed corpus, built once per checkout and
restored for every run):

  delta_refresh  request: ``plans.incremental.incremental_update`` of a
                 seeded 1.5 % conversation delta; then one no-change
                 refresh cycle.
  query_serve    requests: seeded query batches over the stored graph,
                 repeated for the run's seconds; then one no-change
                 refresh cycle.

Untraced runs time the requests; traced runs attribute them to layers
(see ``traced``).
"""

from __future__ import annotations

import hashlib
import json
import os
import random
import shutil
import statistics
import sys
import time
from dataclasses import dataclass, field

from pyspark.sql import functions as F

from graph_rag_agent_spark import schemas
from graph_rag_agent_spark.core.gen import generate_transcripts
from graph_rag_agent_spark.oracle.pipeline_oracle import oracle_build
from graph_rag_agent_spark.plans.build import BuildConfig, build_all
from graph_rag_agent_spark.plans.incremental import incremental_update

from . import inputs
from .tracing import GENERIC, UNATTRIBUTED, Tracer, last_job_id, spark_counters, tree_cpu_s

WORKLOADS = ("delta_refresh", "query_serve")

BASE_CONVS = 200  # bootstrap corpus; conversation 0 is the ~10 % mega one
DELTA_CHANGES = 3  # 1 modified + 1 added + 1 deleted conversation (1.5 %)
BUCKETS = 4  # BuildConfig.bucket_convs: bucketed warehouse, MERGE-capable
QUERY_BATCH = 8  # queries per batch
MIN_QUERY_BATCHES = 3
CHECKED_QUERIES = 1  # query_serve: batch rows compared with the per-query loop

LAYERS = (
    "chunking", "extraction", "parsing", "linking", "components", "canonicalize",
    "community", "chunk_index", "search", "incremental", "merge", "fsio",
)
LAYER_SPECIFIC = (
    "extraction.model_calls", "extraction.cache_hit_ratio",
    "parsing.records_out", "parsing.parse_failures",
    "linking.catalog_rows", "linking.similar_pairs",
    "canonicalize.merge_ratio", "components.components",
    "community.levels", "community.communities",
    "incremental.changed_convs", "incremental.rows_reprocessed",
    "search.embed_s", "search.seeds_s", "search.chunks_s", "search.communities_s",
    "search.inside_rels_s", "search.outside_rels_s", "search.global_s",
    "chunk_index.vector_chunks_s",
)
UNATTRIBUTED_COUNTERS = ("jobs", "tasks", "cpu_s", "spill_mb", "failed_tasks")
PER_LAYER = (
    tuple(f"{layer}.{m}" for layer in LAYERS for m in GENERIC)
    + tuple(f"{UNATTRIBUTED}.{m}" for m in UNATTRIBUTED_COUNTERS)
    + ("trace.overhead_s", "trace.overhead_ratio")
    + LAYER_SPECIFIC
)
END_TO_END = {
    "setup_s": "s",
    "request_cpu_s": "s",
    "noop_refresh_cpu_s": "s",
    "peak_rss_mb": "MB",
}


@dataclass
class Run:
    spark: object
    root: str  # checkout root
    work: str  # this run's scratch directory (deleted at exit)
    cache: str  # cross-run cache directory
    workload: str
    seed: int
    seconds: float
    slots: int
    t_start: float  # perf_counter at process start
    planned: object = None  # Inputs
    notes: dict = field(default_factory=dict)


# ---------------------------------------------------------------- helpers


def source_hash(root: str, paths) -> str:
    """Hash of the .py files under ``paths`` (files or directories,
    relative to ``root``)."""
    h = hashlib.sha1()
    for rel in paths:
        base = os.path.join(root, rel)
        files = [base] if os.path.isfile(base) else []
        for dirpath, dirnames, filenames in os.walk(base):
            dirnames[:] = sorted(d for d in dirnames if d != "__pycache__")
            files += [os.path.join(dirpath, fn) for fn in sorted(filenames) if fn.endswith(".py")]
        for path in files:
            h.update(os.path.relpath(path, root).encode())
            with open(path, "rb") as f:
                h.update(f.read())
    return h.hexdigest()[:16]


# what a cached oracle reference depends on besides its tag
REFERENCE_SOURCES = (
    "graph_rag_agent_spark/oracle", "graph_rag_agent_spark/core", "perfbench/inputs.py",
)


def reference_triples(root: str, cache: str, tag: str, rows: list[dict]) -> set[tuple]:
    """Oracle triple set of ``rows``, cached by tag (corpus, delta size,
    seed) and a hash of the oracle/ + core/ sources and the input
    generator."""
    key = f"{tag}-{source_hash(root, REFERENCE_SOURCES)}"
    path = os.path.join(cache, f"ref-{key}.json")
    if os.path.exists(path):
        with open(path) as f:
            return {tuple(t) for t in json.load(f)}
    triples = oracle_build(rows).triple_set()
    tmp = f"{path}.{os.getpid()}"
    with open(tmp, "w") as f:
        json.dump(sorted(triples), f)
    os.replace(tmp, path)
    return triples


def transcripts_df(spark, rows):
    return spark.createDataFrame(rows, schema=schemas.TRANSCRIPTS)


def warm_up(spark, slots: int) -> None:
    """Start the Python workers (one per task slot) and import the
    package's UDF dependencies in them."""

    def touch(batches):
        from graph_rag_agent_spark.core.stub_extract import stub_extract

        for pdf in batches:
            pdf["id"] = pdf["id"] + len(stub_extract("Sony works with Alice Zhang."))
            yield pdf

    spark.range(0, slots * 4, numPartitions=slots).mapInPandas(touch, "id long").collect()


def bytes_written_since(path: str, t0_ns: int) -> int:
    total = 0
    for dirpath, _dirs, files in os.walk(path):
        for fn in files:
            st = os.stat(os.path.join(dirpath, fn))
            if st.st_mtime_ns >= t0_ns:
                total += st.st_size
    return total


def triple_set(df) -> set[tuple]:
    return {(r["subj"], r["pred"], r["obj"]) for r in df.select("subj", "pred", "obj").collect()}


def loadavg() -> float:
    return os.getloadavg()[0]


def log(run: Run, msg: str) -> None:
    print(f"[{time.perf_counter() - run.t_start:7.2f}s] {msg}", file=sys.stderr, flush=True)


# ------------------------------------------------------------------ query


def serve_batch(spark, tables: dict, texts: list[str], tracer: Tracer | None = None) -> dict:
    """One query batch as a caller runs it: embed, batched local search
    with every facet, vector chunk retrieval, and the global-search map
    of the batch's first query, all results collected to the driver."""
    from graph_rag_agent_spark.operators.chunk_index import chunk_topk
    from graph_rag_agent_spark.operators.search import (
        embed_query_batch,
        global_search_map,
        local_search_batch,
    )

    def timed(name, layer, fn):
        if tracer is None:
            return fn()
        with tracer.span(name, layer):
            return fn()

    qdf = timed(
        "search.embed",
        "search",
        lambda: embed_query_batch(
            spark.createDataFrame(list(enumerate(texts)), "query_id int, query_text string")
        ).localCheckpoint(),
    )
    facets = local_search_batch(
        qdf,
        tables["entities"],
        mentions=tables["mentions"],
        chunks=tables["chunks"],
        triples=tables["triples"],
        membership=tables["membership"],
        communities=tables["communities"],
    )
    out = {f: timed(f"search.{f}", "search", df.collect) for f, df in facets.items()}
    out["vector_chunks"] = timed(
        "chunk_index.vector_chunks",
        "chunk_index",
        lambda: chunk_topk(tables["chunk_embeddings"], qdf.select("query_id", "qvec"), k=3).collect(),
    )
    out["global"] = timed(
        "search.global", "search", global_search_map(tables["communities"], texts[0]).collect
    )
    return out


def check_batch(tables: dict, texts: list[str], got: dict, query_ids: list[int]) -> list[str]:
    """Compare the batch's rows for ``query_ids`` with the single-query
    ``local_search`` loop (vector chunks included)."""
    from graph_rag_agent_spark.operators.search import local_search

    chunks_emb = tables["chunks"].join(tables["chunk_embeddings"], "chunk_id")
    errors = []
    for qid in query_ids:
        single = local_search(
            tables["entities"], tables["mentions"], tables["triples"],
            tables["membership"], tables["communities"], chunks_emb, query=texts[qid],
        )

        def rows(facet):
            return sorted((r for r in got[facet] if r["query_id"] == qid), key=lambda r: r["rank"])

        pairs = {
            "seeds": ([r["entity_id"] for r in rows("seeds")],
                      [r["entity_id"] for r in single["seeds"].collect()]),
            "chunks": ([(r["chunk_id"], r["freq"]) for r in rows("chunks")],
                       [(r["chunk_id"], r["freq"]) for r in single["chunks"].collect()]),
            "communities": ({r["community_id"] for r in rows("communities")},
                            {r["community_id"] for r in single["communities"].collect()}),
            "vector_chunks": ([r["chunk_id"] for r in rows("vector_chunks")],
                              [r["chunk_id"] for r in
                               sorted(single["vector_chunks"].collect(), key=lambda r: r["rank"])]),
        }
        for facet in ("inside_rels", "outside_rels"):
            pairs[facet] = (
                {(r["subj"], r["pred"], r["obj"]) for r in rows(facet)},
                {(r["subj"], r["pred"], r["obj"]) for r in single[facet].collect()},
            )
        errors += [f"query {qid} facet {f}: batch != loop" for f, (b, s) in pairs.items() if b != s]
        if not rows("seeds"):
            errors.append(f"query {qid}: no seeds")
    return errors


# ----------------------------------------------------------------- set-up


@dataclass
class Inputs:
    """The run's seeded inputs and the oracle reference — pure Python,
    so they are made while the Spark session starts."""

    rows: list  # transcripts the refresh cycles ingest
    texts: list  # one query batch
    changes: dict | None = None  # delta_refresh: planned conv sets
    reference: set | None = None  # delta_refresh: oracle triples of ``rows``


def plan_inputs(workload: str, seed: int, root: str, cache: str) -> Inputs:
    base = generate_transcripts(BASE_CONVS)
    texts = inputs.seeded_queries(seed, QUERY_BATCH, BASE_CONVS)
    if workload == "query_serve":
        return Inputs(base, texts)
    rows, changes = inputs.seeded_delta(base, BASE_CONVS, seed, DELTA_CHANGES)
    tag = f"delta-{BASE_CONVS}-{DELTA_CHANGES}-{seed}"
    reference = reference_triples(root, cache, tag, rows)
    return Inputs(rows, texts, changes, reference)


def base_warehouse_path(root: str, cache: str) -> str:
    """Where the bootstrap warehouse of the current package sources is
    cached; every run restores a copy."""
    key = source_hash(root, ("graph_rag_agent_spark",))
    return os.path.join(cache, f"base-{BASE_CONVS}-{BUCKETS}-{key}")


def build_base_warehouse(spark, root: str, cache: str) -> None:
    """Build the bootstrap warehouse (``bootstrap.py`` runs this once per
    checkout and package version) and check it against the oracle."""
    path = base_warehouse_path(root, cache)
    rows = generate_transcripts(BASE_CONVS)
    tmp = f"{path}.{os.getpid()}"
    res = build_all(
        spark,
        transcripts_df(spark, rows),
        BuildConfig(warehouse=tmp, resume=False, bucket_convs=BUCKETS),
    )
    want = reference_triples(root, cache, f"base-{BASE_CONVS}", rows)
    if triple_set(res.tables["triples"]) != want:
        raise RuntimeError("bootstrap build differs from the oracle")
    os.replace(tmp, path)


QUERY_TABLES = ("entities", "mentions", "chunks", "triples", "membership", "communities",
                "chunk_embeddings")


def prepare(run: Run, extractor=None):
    """Restore the bootstrap warehouse (and, for delta_refresh, start the
    Python workers). → (cfg, refresh request: () -> tables)."""
    log(run, "session up")
    wh = os.path.join(run.work, "warehouse")
    shutil.copytree(base_warehouse_path(run.root, run.cache), wh)
    cfg = BuildConfig(warehouse=wh, resume=False, bucket_convs=BUCKETS, extractor=extractor)
    df = transcripts_df(run.spark, run.planned.rows)
    log(run, "restored")
    if run.workload == "delta_refresh":
        # query_serve's untimed first batch starts the workers instead
        warm_up(run.spark, run.slots)
        log(run, "workers warm")
    return cfg, lambda: incremental_update(run.spark, df, wh, cfg=cfg)


def stored_graph(run: Run, wh: str) -> dict:
    """The graph tables a query caller reads from the warehouse."""
    from graph_rag_agent_spark.plans.merge import read_bucketed

    return {name: read_bucketed(run.spark, os.path.join(wh, name)) for name in QUERY_TABLES}


def check_refresh(run: Run, tables: dict | None, noop_tables: dict) -> list[str]:
    errors = []
    for kind in ("added", "modified", "deleted"):
        if noop_tables[f"changes_{kind}"].limit(1).count():
            errors.append(f"no-change cycle reported {kind} conversations")
    if tables is None:
        return errors
    planned = run.planned
    if triple_set(noop_tables["triples"]) != planned.reference:
        errors.append("refreshed triples differ from a fresh build of the post-delta transcripts")
    for kind, want in planned.changes.items():
        seen = sorted(r["conv_id"] for r in tables[f"changes_{kind}"].collect())
        if seen != sorted(want):
            errors.append(f"changes_{kind}: {seen} != planned {sorted(want)}")
    return errors


def _timed(fn):
    t0 = time.perf_counter()
    out = fn()
    return out, time.perf_counter() - t0


def _costed(fn):
    """→ (result, wall seconds, CPU seconds of the process tree)."""
    cpu0 = tree_cpu_s()
    out, wall = _timed(fn)
    return out, wall, tree_cpu_s() - cpu0


# ---------------------------------------------------------------- untraced


def measured(run: Run, rss) -> dict:
    cfg, refresh = prepare(run)
    wh = cfg.warehouse
    texts = run.planned.texts
    graph = reference_batch = None
    if run.workload == "query_serve":
        # a serving process is warm: the first (cold) batch is set-up
        graph = stored_graph(run, wh)
        reference_batch = serve_batch(run.spark, graph, texts)
    setup_s = time.perf_counter() - run.t_start
    log(run, "set up")

    t0_ns = time.time_ns()
    requests: list[tuple[float, float]] = []  # (wall s, CPU s)
    tables = None
    errors: list[str] = []
    if run.workload == "delta_refresh":
        tables, *cost = _costed(refresh)
        requests.append(cost)
    else:
        t_loop = time.perf_counter()
        while len(requests) < MIN_QUERY_BATCHES or time.perf_counter() - t_loop < run.seconds:
            result, *cost = _costed(lambda: serve_batch(run.spark, graph, texts))
            requests.append(cost)
            if _canonical(result) != _canonical(reference_batch):
                errors.append(f"query batch {len(requests)} differs from the first batch")
    log(run, f"requests (wall s, CPU s) {[(round(w, 2), round(c, 1)) for w, c in requests]}")

    noop_tables, noop_s, noop_cpu_s = _costed(refresh)
    written = bytes_written_since(wh, t0_ns)
    log(run, f"no-change refresh {noop_s:.2f} s, {noop_cpu_s:.1f} CPU s")

    errors += check_refresh(run, tables, noop_tables)
    if reference_batch is not None:
        sample = random.Random(f"check-{run.seed}").sample(range(len(texts)), CHECKED_QUERIES)
        errors += check_batch(graph, texts, reference_batch, sample)

    request_s = statistics.median(w for w, _ in requests)
    metrics = {
        "setup_s": setup_s,
        "request_cpu_s": statistics.median(c for _, c in requests),
        "noop_refresh_cpu_s": noop_cpu_s,
        "peak_rss_mb": rss.peak_bytes / 1e6,
    }
    report = {
        "samples": {"request_cpu_s": len(requests), "noop_refresh_cpu_s": 1},
        # wall-clock latencies: printed, not gated (see README.md)
        "request_s": request_s,
        "noop_refresh_s": noop_s,
        "requests_wall_cpu_s": requests,
        "write_mb": written / 1e6,
    }
    if run.workload == "query_serve":
        report["queries_per_s"] = len(texts) / request_s
    else:
        changed = set(run.planned.changes["modified"]) | set(run.planned.changes["added"])
        report["changed_turns"] = sum(r["conv_id"] in changed for r in run.planned.rows)
        report["turns_per_s"] = report["changed_turns"] / request_s
    return {"metrics": metrics, "errors": errors, "attempted": len(requests) + 1, "report": report}


def _canonical(res: dict) -> dict:
    return {k: sorted(repr(r) for r in v) for k, v in res.items()}


# ------------------------------------------------------------------ traced


def traced(run: Run, rss) -> dict:
    """Per-layer attribution: the run's requests with every public
    function of tracing.WRAPPED recording a span and tagging its Spark
    jobs with its layer, and the query facets forced one at a time.
    Work a layer only plans (lazy DataFrames) runs inside whichever
    later call forces it — mostly the merge layer's writes.

    Counters cover only the jobs of the traced calls. The tracing
    overhead compares a traced call with the mean of the same call
    untraced just before and after it, in this run: a query batch
    (query_serve) or a no-change cycle (delta_refresh, which affords one
    delta per run)."""
    spark, sc = run.spark, run.spark.sparkContext
    tracer = Tracer(sc)
    calls = sc.accumulator(0)
    from .extractor import CountingExtractor

    cfg, refresh = prepare(run, extractor=CountingExtractor(calls))
    errors: list[str] = []
    windows: list[tuple[int, int]] = []  # job ids (after, up to] of traced calls
    tables = None
    t_cycle = time.time()

    def window(fn):
        """→ (fn(), its wall seconds), its jobs counted."""
        first = last_job_id(sc)
        out = _timed(fn)
        windows.append((first, last_job_id(sc)))
        return out

    def wrapped(name):
        tracer.wrap_layers()
        try:
            with tracer.span(name, "incremental"):
                return refresh()
        finally:
            tracer.unwrap()

    if run.workload == "query_serve":
        graph, texts = stored_graph(run, cfg.warehouse), run.planned.texts

        def plain():
            return _timed(lambda: serve_batch(spark, graph, texts))[1]

        plain()  # warm-up: batches still speed up run over run as the JVM compiles
        before = plain()
        result, traced_s = window(lambda: serve_batch(spark, graph, texts, tracer))
        untraced_s = (before + plain()) / 2
        errors += check_batch(graph, texts, result, [0])
        noop_tables, _ = window(lambda: wrapped("incremental.noop"))
    else:
        tables, _ = window(lambda: wrapped("incremental.delta"))
        before = _timed(refresh)[1]
        noop_tables, traced_s = window(lambda: wrapped("incremental.noop"))
        untraced_s = (before + _timed(refresh)[1]) / 2

    errors += check_refresh(run, tables, noop_tables)
    values = _graph_counts(spark, cfg.warehouse, tables, noop_tables, calls.value, t_cycle)
    t0 = time.perf_counter()
    counters = spark_counters(sc, windows)
    values.update(_layer_values(tracer, counters, run.slots))
    values["trace.overhead_s"] = tracer.own_s + (time.perf_counter() - t0)
    values["trace.overhead_ratio"] = traced_s / untraced_s - 1
    for s in tracer.spans:
        key = f"{s['name']}_s"
        if key in LAYER_SPECIFIC:
            values[key] = s["end"] - s["start"]
    report = {
        "spans": tracer.spans,
        "counters": counters,
        "job_windows": windows,
        "overhead_call": "query batch" if run.workload == "query_serve" else "no-change cycle",
        "traced_s": traced_s,
        "untraced_s": untraced_s,
    }
    metrics = {name: values.get(name, 0.0) for name in PER_LAYER}
    return {"metrics": metrics, "errors": errors, "attempted": 2, "report": report}


def _graph_counts(spark, wh, tables, noop_tables, model_calls, t_cycle) -> dict:
    """Layer-specific counts of one traced cycle: lineage rows (stage
    incr_*) the cycle appended, and the refreshed tables."""
    tables = tables or noop_tables
    lineage = (
        spark.read.parquet(os.path.join(wh, "lineage"))
        .where(F.col("started_at") >= F.lit(t_cycle).cast("timestamp"))
        .groupBy("stage")
        .agg(F.sum("rows").alias("rows"))
        .collect()
    )
    rows = {r["stage"]: r["rows"] for r in lineage}
    new_chunks = rows.get("incr_chunks", 0)
    catalog_rows = noop_tables["entity_embeddings"].count()
    similar_pairs = noop_tables["similar"].count()
    return {
        "extraction.model_calls": model_calls,
        "extraction.cache_hit_ratio": 1 - model_calls / new_chunks if new_chunks else 0.0,
        "parsing.records_out": rows.get("incr_parse", 0),
        "linking.catalog_rows": catalog_rows,
        "linking.similar_pairs": similar_pairs,
        "canonicalize.merge_ratio": (
            (catalog_rows - noop_tables["entities"].count()) / similar_pairs
            if similar_pairs else 0.0
        ),
        "components.components": noop_tables["wcc"].select("wcc").distinct().count(),
        "community.levels": noop_tables["membership"].select("level").distinct().count(),
        "community.communities": noop_tables["communities"].count(),
        "incremental.changed_convs": sum(
            tables[f"changes_{k}"].count() for k in ("added", "modified", "deleted")
        ),
        "incremental.rows_reprocessed": sum(
            rows.get(s, 0) for s in ("incr_chunks", "incr_extract", "incr_parse")
        ),
        "parsing.parse_failures": _parse_failures(noop_tables),
    }


def _parse_failures(tables) -> int:
    """Extraction results with content that parsed to no record."""
    parsed_chunks = tables["parsed"].select("chunk_id").distinct()
    return (
        tables["extractions"]
        .where(F.length(F.trim("result")) > 0)
        .join(parsed_chunks, "chunk_id", "left_anti")
        .count()
    )


def _layer_values(tracer: Tracer, counters: dict, slots: int) -> dict:
    times = tracer.layer_times()
    out: dict[str, float] = {}
    for layer in LAYERS:
        c = counters.get(layer, {})
        t = times.get(layer, {})
        out[f"{layer}.self_s"] = t.get("self_s", 0.0)
        for m in ("jobs", "tasks", "cpu_s", "shuffle_mb", "spill_mb", "failed_tasks"):
            out[f"{layer}.{m}"] = c.get(m, 0)
        wall = t.get("wall_s", 0.0)
        out[f"{layer}.core_busy_ratio"] = c.get("run_s", 0.0) / (wall * slots) if wall else 0.0
    un = counters.get(UNATTRIBUTED, {})
    for m in UNATTRIBUTED_COUNTERS:
        out[f"{UNATTRIBUTED}.{m}"] = un.get(m, 0)
    return out


def unit_of(name: str) -> str:
    if name in END_TO_END:
        return END_TO_END[name]
    for suffix, unit in (("_s", "s"), ("_mb", "MB"), ("_ratio", "ratio")):
        if name.endswith(suffix):
            return unit
    return "count"
