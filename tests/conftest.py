from __future__ import annotations

import pytest

from graph_rag_agent_spark.core.gen import generate_transcripts
from graph_rag_agent_spark.session import get_spark


@pytest.fixture(scope="session")
def spark():
    spark = get_spark(
        app_name="grars-tests",
        master="local[4]",
        shuffle_partitions=8,
        extra_conf={"spark.default.parallelism": "4"},
    )
    yield spark
    spark.stop()


@pytest.fixture(scope="session")
def small_corpus():
    """Deterministic 12-conversation corpus shared across tests."""
    return generate_transcripts(12)


@pytest.fixture(scope="session")
def oracle_small(small_corpus):
    from graph_rag_agent_spark.oracle import oracle_build

    return oracle_build(small_corpus)


@pytest.fixture(scope="session")
def transcripts_df(spark, small_corpus):
    from graph_rag_agent_spark import schemas

    return spark.createDataFrame(small_corpus, schema=schemas.TRANSCRIPTS).cache()


def _v2_corpus():
    """The fixture corpus with conv-000003 dropped and conv-000001
    truncated to its first five turns."""
    return [
        r
        for r in generate_transcripts(12)
        if r["conv_id"] != "conv-000003"
        and not (r["conv_id"] == "conv-000001" and r["turn_idx"] >= 5)
    ]


@pytest.fixture(scope="session")
def exact_build(spark, transcripts_df, tmp_path_factory):
    """``exact_build(corpus)`` → (warehouse path, BuildResult) of a
    ``build_all`` of corpus "v1" (the 12-conversation fixture corpus)
    or "v2" (``_v2_corpus``) under BuildConfig(similarity_method=
    "exact", extraction_buckets=2, bucket_convs=8). Each corpus is
    built once per session and shared: callers only read it (tests
    that write take a ``v1_warehouse`` copy)."""
    from graph_rag_agent_spark import schemas
    from graph_rag_agent_spark.plans.build import BuildConfig, build_all

    built = {}

    def get(corpus: str):
        if corpus not in built:
            df = (
                transcripts_df
                if corpus == "v1"
                else spark.createDataFrame(_v2_corpus(), schema=schemas.TRANSCRIPTS)
            )
            wh = str(tmp_path_factory.mktemp(f"shared_wh_{corpus}"))
            cfg = BuildConfig(
                warehouse=wh,
                similarity_method="exact",
                extraction_buckets=2,
                bucket_convs=8,
            )
            built[corpus] = (wh, build_all(spark, df, cfg))
        return built[corpus]

    return get


@pytest.fixture
def v1_warehouse(exact_build, tmp_path_factory):
    """A private copy of the shared "v1" warehouse, for a test that
    runs incremental cycles (or breaks files) in it."""
    import shutil

    src, _ = exact_build("v1")
    dst = str(tmp_path_factory.mktemp("wh_v1"))
    shutil.copytree(src, dst, dirs_exist_ok=True)
    return dst
