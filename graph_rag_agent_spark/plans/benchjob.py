"""The ONE benchmark job every scaling probe runs.

bench_scaling.py (thread mode), scripts/multijvm_probe.py
(local-cluster, in-process session) and scripts/submit_job.py
(literal `spark-submit --py-files`) must measure the SAME task graph —
BENCH/BASELINE.md compares their numbers across launchers, which is
only meaningful if the job cannot drift between copies. This module is
that single copy: chunk → dedup/quality signatures → extract → parse
(the data-proportional corpus phase), entity-link → canonicalize (the
catalog-proportional link phase), then the canonical triple rewrite.
"""

from __future__ import annotations

import time

from pyspark.sql import SparkSession


def run_kg_job(spark: SparkSession, n_convs: int, warm: bool = True) -> dict:
    """Run the KG-construction pipeline over a deterministic synthetic
    transcript corpus (incl. the ~10% mega-conversation skew fixture)
    and return phase timings + throughput.

    ``warm`` runs the full pipeline once over a tiny sample first so
    per-worker module imports (pandas/numpy/this package — a one-time
    cluster cost) stay out of the measured window.
    """
    from ..operators.canonicalize import rewrite_triples
    from ..operators.chunking import chunk_conversations
    from ..operators.dedup import chunk_signature_columns
    from ..operators.extraction import extract_chunks
    from ..operators.linking import entity_catalog, link_catalog
    from ..operators.parsing import entities_raw, parse_extractions, triples_raw
    from ..sources.transcripts import synthesize_transcripts
    from .inmem import build_kg_tables

    transcripts = synthesize_transcripts(spark, n_convs).localCheckpoint()
    n_turns = transcripts.count()
    if warm:
        warm_t = synthesize_transcripts(spark, 200).localCheckpoint()
        build_kg_tables(warm_t, similarity_method="auto", with_signatures=True)[
            "triples"
        ].count()

    phases: dict[str, float] = {}
    t0 = time.time()
    chunks = chunk_signature_columns(
        chunk_conversations(transcripts)
    ).localCheckpoint()
    parsed = parse_extractions(extract_chunks(chunks)).localCheckpoint()
    e_raw, t_raw = entities_raw(parsed), triples_raw(parsed)
    parsed.count()
    phases["corpus"] = round(time.time() - t0, 2)  # data-proportional

    t1 = time.time()
    linked = link_catalog(entity_catalog(e_raw, chunks), "auto")
    embedded, cmap = linked["embedded"], linked["canonical_map"]
    n_entities = embedded.count()
    phases["link"] = round(time.time() - t1, 2)  # catalog-proportional

    t2 = time.time()
    n_triples = rewrite_triples(t_raw, cmap).count()
    phases["rewrite"] = round(time.time() - t2, 2)
    elapsed = time.time() - t0
    return {
        "n_turns": n_turns,
        "n_triples": n_triples,
        "n_entities": n_entities,
        "seconds": round(elapsed, 2),
        "phases": phases,
        "turns_per_sec": round(n_turns / elapsed, 1),
    }
