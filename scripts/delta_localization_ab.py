"""A/B evidence for the round-5 delta localizations at engaged scale.

Builds ONE bucketed warehouse big enough that the entity catalog
crosses the driver-path crossovers (>100k entities, so the full
CC/resolve and community detection would take their iterative
DISTRIBUTED loops), snapshots it, then runs the SAME 1%-conversation-
drop delta cycle twice:

  A: round-5 defaults — CC+resolve delta + localized communities engage
  B: localizations disabled (every node and edge gate raised) — the
     pre-round-5 full recompute path; the run fails if either
     localization's lineage marker appears anyway

and prints both cycles' wall-clock, GRARS_DEBUG section decompositions
going to stderr, and the lineage markers. Table-level equality between
the two runs is asserted on (triples, canonical_map, membership) so
the speedup is provably not an approximation.

Usage: python scripts/delta_localization_ab.py [n_convs=45000]
"""

from __future__ import annotations

import json
import os
import shutil
import sys
import tempfile
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def main() -> None:
    n_convs = int(sys.argv[1]) if len(sys.argv) > 1 else 45_000

    from pyspark.sql import functions as F

    import graph_rag_agent_spark.plans.incremental as incr_mod
    from graph_rag_agent_spark.operators import community as community_mod
    from graph_rag_agent_spark.plans.build import BuildConfig, build_all
    from graph_rag_agent_spark.plans.incremental import incremental_update
    from graph_rag_agent_spark.session import get_spark
    from graph_rag_agent_spark.sources.transcripts import (
        synthesize_transcripts,
    )

    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    spark = get_spark(
        app_name="delta-ab",
        master=f"local[{cpus}]",
        shuffle_partitions=cpus,
    )

    t = synthesize_transcripts(spark, n_convs).localCheckpoint()
    n_turns = t.count()
    base_wh = tempfile.mkdtemp(prefix="ab_base_")
    cfg = BuildConfig(warehouse=base_wh, resume=False, bucket_convs=16)
    t0 = time.time()
    build_all(spark, t, cfg)
    bootstrap_s = round(time.time() - t0, 1)
    n_entities = spark.read.parquet(f"{base_wh}/entities").count()

    # the delta: drop 1% of conversations WHOLE, so entities unique to
    # them leave the catalog and the linking chain cannot short-circuit
    sel = F.pmod(F.xxhash64("conv_id"), F.lit(100)) == 0
    v2 = t.join(
        t.where(sel).select("conv_id").distinct(), "conv_id", "left_anti"
    ).localCheckpoint()
    n_dropped = (
        t.select("conv_id").distinct().count()
        - v2.select("conv_id").distinct().count()
    )

    def run(tag: str, disable: bool) -> dict:
        wh = tempfile.mkdtemp(prefix=f"ab_{tag}_")
        os.rmdir(wh)
        shutil.copytree(base_wh, wh)
        # every gate of both localizations — node AND edge conditions —
        # so the OFF run cannot engage either path through the edge count
        gates = [
            (incr_mod, "CC_DELTA_MIN_ENTITIES"),
            (incr_mod, "CC_DELTA_MIN_EDGES"),
            (community_mod, "LOCALIZE_MIN_ENTITIES"),
            (community_mod, "EDGE_DRIVER_THRESHOLD"),
        ]
        saved = [getattr(mod, name) for mod, name in gates]
        if disable:
            for mod, name in gates:
                setattr(mod, name, 10**12)
        try:
            t0 = time.time()
            incremental_update(spark, v2, wh, cfg=BuildConfig(
                warehouse=wh, resume=False, bucket_convs=16
            ))
            wall = round(time.time() - t0, 1)
        finally:
            for (mod, name), value in zip(gates, saved):
                setattr(mod, name, value)
        lin = spark.read.parquet(f"{wh}/lineage")
        markers = {
            s: [r["rows"] for r in lin.where(F.col("stage") == s).collect()]
            for s in (
                "incr_cc_delta",
                "incr_communities_localized",
                "incr_similar_delta",
                "incr_link_reused",
                "incr_detection_reused",
            )
        }
        if disable:
            leaked = {
                s: markers[s]
                for s in ("incr_cc_delta", "incr_communities_localized")
                if markers[s]
            }
            assert not leaked, f"localization engaged in the OFF run: {leaked}"
        return {"tag": tag, "wall_s": wall, "markers": markers, "wh": wh}

    a = run("localized", disable=False)
    b = run("full", disable=True)

    # equality: the localization is provably-equal reuse, not an
    # approximation (summary_created_at differs by design)
    eq = {}
    for name, cols in (
        ("triples", None),
        ("canonical_map", None),
        ("membership", None),
    ):
        da = spark.read.parquet(f"{a['wh']}/{name}")
        db = spark.read.parquet(f"{b['wh']}/{name}")
        use = [c for c in da.columns if c != "__bucket"]
        ra = {tuple(r) for r in da.select(*use).collect()}
        rb = {tuple(r) for r in db.select(*use).collect()}
        eq[name] = ra == rb
    out = {
        "metric": "delta_localization_ab",
        "n_convs": n_convs,
        "n_turns": n_turns,
        "n_entities": n_entities,
        "dropped_convs": n_dropped,
        "bootstrap_s": bootstrap_s,
        "localized_cycle_s": a["wall_s"],
        "full_cycle_s": b["wall_s"],
        "speedup": round(b["wall_s"] / a["wall_s"], 3)
        if a["wall_s"]
        else None,
        "markers_localized": a["markers"],
        "markers_full": b["markers"],
        "tables_equal": eq,
        "loadavg": round(os.getloadavg()[0], 2),
    }
    print(json.dumps(out))
    for d in (a["wh"], b["wh"], base_wh):
        shutil.rmtree(d, ignore_errors=True)
    # the speedup artifact is only evidence if the equality HELD —
    # fail loudly (nonzero exit) on any divergence
    assert all(eq.values()), f"localized != full recompute: {eq}"


if __name__ == "__main__":
    main()
