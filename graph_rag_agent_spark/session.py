"""SparkSession factory tuned for the KG-construction workload.

Defaults chosen for the 100 TB design point, scaled down for local[N]:
  - AQE on (runtime partition coalescing + skew-join splitting) — the
    reference hand-tunes batch sizes instead (graph/extraction/
    graph_writer.py:216, graph/structure/struct_builder.py:339); AQE
    replaces all of that.
  - Arrow on — every Python boundary in this engine is a batched
    pandas UDF / mapInPandas, never row-at-a-time.
  - shuffle partitions sized to cores locally; on a real cluster this
    is set per-job (≈ 2-3× total cores) and AQE coalesces down.
"""

from __future__ import annotations

import os
import tempfile
import zipfile

from pyspark.sql import SparkSession


_MAX_DRIVER_MEM_MB = 32 * 1024


def _read_meminfo() -> str:
    try:
        with open("/proc/meminfo") as fh:
            return fh.read()
    except OSError:
        return ""


def _default_driver_memory(meminfo: str) -> str:
    """Driver heap default: min(32g, half of MemTotal) from a
    /proc/meminfo text; 32g when MemTotal is unknown."""
    for line in meminfo.splitlines():
        if line.startswith("MemTotal:"):
            total_mb = int(line.split()[1]) // 1024
            return f"{min(_MAX_DRIVER_MEM_MB, total_mb // 2)}m"
    return f"{_MAX_DRIVER_MEM_MB}m"


def get_spark(
    app_name: str = "graph-rag-agent-spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict | None = None,
) -> SparkSession:
    # master="" means "inherit the deploy master": under
    # `spark-submit --master ...` the launcher owns spark.master (and
    # ships --py-files itself), so the session must not override it.
    if master is None:
        master = os.environ.get("SPARK_GRAFT_MASTER", "local[*]")
    if shuffle_partitions is None:
        cpus = os.environ.get("SPARK_GRAFT_CPUS")
        shuffle_partitions = int(cpus) if cpus else 32

    # Plain local[N] runs with task maxFailures=1 — a single Python
    # worker crash (OOM blip, co-tenant memory pressure) fails the whole
    # job, which no real deployment does (cluster default is 4 retries).
    # Grant local masters the same self-healing: local[N] → local[N,2].
    # An explicit local[N,F] or any non-local master is left untouched.
    if master.startswith("local[") and "," not in master:
        master = master[:-1] + ",2]"

    builder = SparkSession.builder.appName(app_name)
    if master:
        builder = builder.master(master)
    builder = (
        builder.config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "10000")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        .config("spark.sql.files.maxPartitionBytes", str(128 * 1024 * 1024))
        # local mode hosts every executor thread + all localCheckpoint
        # blocks in the driver JVM; an undersized heap turns the
        # pipeline's checkpoint barriers into a GC storm (observed:
        # 30× CPU burn at 8g). Size like an executor on a real
        # cluster (~2 GB/core + headroom for cached stage outputs), but
        # never past half the host's RAM — a heap larger than the
        # machine gets the JVM OOM-killed instead
        .config(
            "spark.driver.memory",
            os.environ.get("SPARK_GRAFT_DRIVER_MEM")
            or _default_driver_memory(_read_meminfo()),
        )
        # ParallelGC beats G1 ~15% on this string-heavy batch workload
        .config("spark.driver.extraJavaOptions", "-XX:+UseParallelGC")
        .config("spark.ui.enabled", "false")
        .config("spark.sql.session.timeZone", "UTC")
        # iterative pipelines issue many small shuffle jobs; waiting
        # for data locality just stalls the scheduler (halves fixed
        # job latency in local mode, standard for shuffle-heavy jobs
        # with dynamic executors on clusters too)
        .config("spark.locality.wait", "0")
        # runtime bloom-filter injection (InjectRuntimeFilter) walks
        # plan size statistics per candidate join; on this pipeline's
        # nested join/union plans the sizeInBytes BigInt products grow
        # to millions of digits and the OPTIMIZER itself spins for
        # minutes in BigInteger.multiply (observed via jstack at the
        # canonicalization stage, 124k-entity catalog). Our joins are
        # small-key equi joins where a bloom filter buys nothing, so
        # turn the rule off.
        .config("spark.sql.optimizer.runtime.bloomFilter.enabled", "false")
        .config(
            "spark.sql.optimizer.runtimeFilter.semiJoinReduction.enabled",
            "false",
        )
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    if "local-cluster" in master or "://" in master:
        # real executor JVMs don't share the driver's sys.path — ship
        # the package like spark-submit --py-files would
        spark.sparkContext.addPyFile(make_pyfiles_zip())
    return spark


_SCRATCH_DIRS: dict[str, str] = {}


def _scratch_dir(spark: SparkSession) -> str:
    key = spark.sparkContext.applicationId
    if key not in _SCRATCH_DIRS:
        _SCRATCH_DIRS[key] = tempfile.mkdtemp(prefix="grars-materialize-")
    return _SCRATCH_DIRS[key]


def materialize(df, tag: str = "state"):
    """Parquet-roundtrip materialization for ITERATIVE loop state —
    truncates lineage AND resets plan statistics.

    Why not localCheckpoint: Spark 4's Dataset.checkpoint carries the
    origin plan's Statistics into the produced LogicalRDD
    (LogicalRDD.fromDataset → rewriteStatsAndConstraints). A self-join
    loop therefore compounds sizeInBytes MULTIPLICATIVELY across
    rounds (×~4/round for the CC round shape), and after a handful of
    rounds the optimizer's join-size products are BigIntegers with
    millions of digits — the driver burns minutes inside
    BigInteger.multiply during planning (observed via jstack at a
    124k-entity catalog; round wall-times grew 1.7s → 6s → 24s →
    115s). Reading back from parquet yields file-size-based (real)
    statistics and a flat plan — the same reason GraphFrames tells
    users to checkpoint to HDFS in iterative algorithms. On a real
    cluster this scratch dir sits on the cluster FS; the round cost is
    one small write+read of the loop state, not a full-lineage replay.
    """
    import uuid

    spark = df.sparkSession
    path = os.path.join(_scratch_dir(spark), f"{tag}-{uuid.uuid4().hex[:12]}")
    df.write.mode("overwrite").parquet(path)
    return spark.read.parquet(path)


LOOP_MATERIALIZE_PERIOD = 4


def loop_checkpoint(df, tag: str, round_idx: int, period: int = LOOP_MATERIALIZE_PERIOD):
    """Per-round loop-state barrier: localCheckpoint most rounds (fast,
    in-memory), full materialize() every ``period``-th round.

    localCheckpoint inherits plan statistics, which grow ×~4 per loop
    round (see materialize); resetting every 4th round bounds the
    inherited stats at ~4³ × the real size — still trivially small
    BigInts — while paying the parquet roundtrip only once per period.
    The loop INPUT state must be materialize()d so the bound starts
    from real file statistics.
    """
    if round_idx % period == period - 1:
        return materialize(df, tag)
    return df.localCheckpoint()


def make_pyfiles_zip(out_path: str | None = None) -> str:
    """Zip this package for spark-submit --py-files / addPyFile.

    The north rule's deployment shape: `spark-submit --py-files
    graph_rag_agent_spark.zip job.py` on a multi-executor cluster.
    """
    pkg_dir = os.path.dirname(os.path.abspath(__file__))
    out_path = out_path or os.path.join(
        tempfile.gettempdir(), "graph_rag_agent_spark.zip"
    )
    with zipfile.ZipFile(out_path, "w", zipfile.ZIP_DEFLATED) as zf:
        for root, _dirs, files in os.walk(pkg_dir):
            if "__pycache__" in root:
                continue
            for fn in files:
                if not fn.endswith(".py"):
                    continue
                full = os.path.join(root, fn)
                rel = os.path.join(
                    "graph_rag_agent_spark", os.path.relpath(full, pkg_dir)
                )
                zf.write(full, rel)
    return out_path
