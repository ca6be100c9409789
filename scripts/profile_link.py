"""Fine-grained profile of the linking chain (LSH → CC) sub-steps.
Usage: python scripts/profile_link.py [n_convs]
"""

from __future__ import annotations

import sys
import time

sys.path.insert(0, ".")

from pyspark.sql import functions as F

from graph_rag_agent_spark.operators.chunking import chunk_conversations
from graph_rag_agent_spark.operators.extraction import extract_chunks
from graph_rag_agent_spark.operators.linking import (
    LSH_BANDS,
    LSH_ROWS,
    _score_candidates_broadcast,
    _signature_udf,
    _topk_filter,
    entity_catalog,
    with_embeddings,
)
from graph_rag_agent_spark.operators.parsing import entities_raw, parse_extractions
from graph_rag_agent_spark.core.stub_embed import DIM
from graph_rag_agent_spark.session import get_spark, materialize
from graph_rag_agent_spark.sources.transcripts import synthesize_transcripts


def main():
    n_convs = int(sys.argv[1]) if len(sys.argv) > 1 else 50_000
    spark = get_spark(app_name="profile-link", master=f"local[{int(sys.argv[2]) if len(sys.argv) > 2 else 32}]", shuffle_partitions=32)
    t = synthesize_transcripts(spark, n_convs).localCheckpoint()
    chunks = chunk_conversations(t).localCheckpoint()
    parsed = parse_extractions(extract_chunks(chunks)).localCheckpoint()
    catalog = entity_catalog(entities_raw(parsed), chunks)

    times = {}

    def timed(name, fn):
        t0 = time.time()
        out = fn()
        times[name] = round(time.time() - t0, 2)
        print(f"{name}: {times[name]}s", flush=True)
        return out

    embedded = timed("embed", lambda: with_embeddings(catalog).localCheckpoint())
    n = timed("count", embedded.count)
    print("catalog:", n)

    sig = _signature_udf(DIM, LSH_BANDS, LSH_ROWS)
    signed = timed(
        "signatures",
        lambda: embedded.select(
            "entity_id", F.explode(sig("embedding")).alias("band_hash")
        ).localCheckpoint(),
    )
    cand = timed(
        "band_join",
        lambda: signed.alias("l")
        .join(signed.alias("r"), "band_hash")
        .where(F.col("l.entity_id") < F.col("r.entity_id"))
        .select(F.col("l.entity_id").alias("src"), F.col("r.entity_id").alias("dst"))
        .dropDuplicates(["src", "dst"])
        .localCheckpoint(),
    )
    print("candidates:", cand.count())
    scored = timed(
        "score_broadcast",
        lambda: _score_candidates_broadcast(cand, embedded).localCheckpoint(),
    )
    both = scored.unionByName(
        scored.select(F.col("dst").alias("src"), F.col("src").alias("dst"), "score")
    )
    similar = timed("topk", lambda: _topk_filter(both, 10, 0.9).localCheckpoint())
    print("similar edges:", similar.count())

    # CC sub-steps
    from graph_rag_agent_spark.operators.components import connected_components

    comp = timed(
        "cc_total",
        lambda: connected_components(
            similar.select("src", "dst"),
            nodes=embedded.select("entity_id"),
        ).localCheckpoint(),
    )
    print("components rows:", comp.count())
    spark.stop()
    print("TOTAL:", round(sum(times.values()), 2))


if __name__ == "__main__":
    main()
