"""Vectorized extraction-record parser.

One mapInPandas pass applies the transcribed grammar
(core/records.parse_extraction — exact semantics of
/root/reference/graph/extraction/graph_writer.py:36-131, including the
未知 endpoint rule, first-description-wins, and empty-on-error) and
emits a single long-format DataFrame — the ``parsed`` table, the
warehouse's one stored copy of the parse. JVM-side filters project it
into the three views every reader applies to it (none is stored):

    entities_raw(chunk_id, conv_id, entity_id, entity_type, description)
    triples_raw (chunk_id, conv_id, subj, pred, obj, description, weight)
    mentions_raw(chunk_id, conv_id, entity_id)

This is the deterministic core of the P/R gate; most test weight lives
against it (SURVEY.md §7 step 3).
"""

from __future__ import annotations

from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..core.records import parse_extraction

_PARSED_SCHEMA = (
    "chunk_id string, conv_id string, kind string, "
    "a string, b string, c string, d string, weight double"
)


def parse_extractions(extractions: DataFrame) -> DataFrame:
    """extractions → long-format parsed rows.

    kind='node': a=entity_id, b=entity_type, c=description.
    kind='rel' : a=subj, b=obj, c=pred, d=description, weight.

    Repartitions first: AQE sizes upstream shuffles by bytes, but this
    stage is CPU-bound Python — spread it across all cores.
    """
    partitions = int(
        extractions.sparkSession.conf.get("spark.sql.shuffle.partitions")
    )
    extractions = extractions.repartition(partitions)

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            out: list[tuple] = []
            for chunk_id, conv_id, result in zip(
                pdf["chunk_id"], pdf["conv_id"], pdf["result"]
            ):
                nodes, rels = parse_extraction(result)
                for eid, etype, desc in nodes:
                    out.append((chunk_id, conv_id, "node", eid, etype, desc, None, None))
                for src, tgt, rtype, desc, weight in rels:
                    out.append(
                        (chunk_id, conv_id, "rel", src, tgt, rtype, desc, weight)
                    )
            yield pd.DataFrame(
                out,
                columns=["chunk_id", "conv_id", "kind", "a", "b", "c", "d", "weight"],
            )

    return extractions.mapInPandas(run, schema=_PARSED_SCHEMA)


def entities_raw(parsed: DataFrame) -> DataFrame:
    return parsed.where(F.col("kind") == "node").select(
        "chunk_id",
        "conv_id",
        F.col("a").alias("entity_id"),
        F.col("b").alias("entity_type"),
        F.col("c").alias("description"),
    )


def triples_raw(parsed: DataFrame) -> DataFrame:
    return parsed.where(F.col("kind") == "rel").select(
        "chunk_id",
        "conv_id",
        F.col("a").alias("subj"),
        F.col("c").alias("pred"),
        F.col("b").alias("obj"),
        F.col("d").alias("description"),
        "weight",
    )


def mentions_raw(parsed: DataFrame) -> DataFrame:
    # every parsed node (incl. 未知 endpoints) is a chunk-level mention,
    # matching add_graph_documents(include_source=True) → MENTIONS
    # (graph_writer.py:226-231, 272-281)
    # dedup INCLUDES conv_id: chunk ids are content hashes, so the
    # same (chunk, entity) pair can be contributed by several
    # conversations. Keeping one row PER CONTRIBUTING CONV keeps this
    # projection conv-complete: applied to a conv-pruned slice of
    # parsed (plans/incremental.py) it yields exactly those convs'
    # pairs, and a dedup across convs would keep each pair under one
    # arbitrary conv (picked nondeterministically). The canonical
    # mentions table dedups to one row per (chunk, entity) downstream
    # with a deterministic min-conv pin (rewrite_mentions).
    return (
        parsed.where(F.col("kind") == "node")
        .select("chunk_id", "conv_id", F.col("a").alias("entity_id"))
        .dropDuplicates(["conv_id", "chunk_id", "entity_id"])
    )
