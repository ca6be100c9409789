"""Benchmark entry point.

    python3 perfbench/run.py --workload delta_refresh --seed 1 --seconds 8 --trace 0

Run from the repository root. Prints one line per metric (name, value,
unit) and, as the last line of standard output, one JSON object with
the keys correct, attempted, failed and metrics: every end-to-end
metric with ``--trace 0``, every per-layer metric with ``--trace 1``.
Run records go to ``.perfbench_out/``; scratch data to ``.perfbench_work/``.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import subprocess
import sys
import time
import traceback
from concurrent.futures import ThreadPoolExecutor

T_START = time.perf_counter()
ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
DRIVER_MEM = "4g"  # the package default (32g) exceeds this class of machine


def _environment(work: str) -> None:
    """Everything the run writes stays under the checkout: Spark local
    dirs, Python and JVM temp dirs. Workers import the package from it."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    os.environ["JAVA_TOOL_OPTIONS"] = f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
    )
    os.environ.setdefault("SPARK_GRAFT_DRIVER_MEM", DRIVER_MEM)
    import tempfile

    tempfile.tempdir = None  # re-read TMPDIR


def _cpu_times() -> list[int]:
    with open("/proc/stat") as f:
        return [int(x) for x in f.readline().split()[1:]]


def start_spark(slots: int, extra_conf: dict | None = None):
    """The session, sized to this machine only through ``get_spark``'s
    own arguments (and SPARK_GRAFT_DRIVER_MEM, see ``_environment``)."""
    from graph_rag_agent_spark.session import get_spark

    spark = get_spark(
        app_name="perfbench", master=f"local[{slots}]", shuffle_partitions=slots,
        extra_conf=extra_conf,
    )
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_spark(spark) -> None:
    """Stop Spark, then the driver JVM (it exits when its stdin closes)
    and with it the Python workers; wait until every child has ended."""
    from pyspark import SparkContext

    from perfbench.tracing import descendants

    gateway = SparkContext._gateway
    spark.stop()
    proc = getattr(gateway, "proc", None)
    if proc is not None:
        gateway.shutdown()
        proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except Exception:
            proc.kill()
            proc.wait()
    deadline = time.time() + 30
    while descendants(os.getpid()) and time.time() < deadline:
        time.sleep(0.2)
    for pid in descendants(os.getpid()):
        try:
            os.kill(pid, 9)
        except ProcessLookupError:
            pass


def _bootstrap(cache: str) -> float:
    """Build the bootstrap warehouse in a process of its own if this
    checkout has none yet, so the build's JVM heap, jobs and time stay
    out of the measured process. → seconds it took (0 if cached)."""
    from perfbench import workloads

    if os.path.exists(workloads.base_warehouse_path(ROOT, cache)):
        return 0.0
    t0 = time.perf_counter()
    subprocess.run(
        [sys.executable, os.path.join(ROOT, "perfbench", "bootstrap.py"), cache],
        cwd=ROOT, stdout=sys.stderr, check=True,
    )
    return time.perf_counter() - t0


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    if not os.path.isdir(os.path.join(ROOT, "graph_rag_agent_spark")):
        print(f"perfbench: no graph_rag_agent_spark package under {ROOT}", file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)
    work_root = os.path.join(ROOT, ".perfbench_work")
    work = os.path.join(work_root, f"run-{os.getpid()}")
    cache = os.path.join(work_root, "cache")
    out_dir = os.path.join(ROOT, ".perfbench_out")
    for d in (work, cache, out_dir):
        os.makedirs(d, exist_ok=True)
    _environment(work)

    from perfbench import workloads
    from perfbench.tracing import RssSampler

    if args.workload not in workloads.WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}; one of {workloads.WORKLOADS}",
              file=sys.stderr)
        return 2
    try:
        bootstrap_s = _bootstrap(cache)
    except subprocess.CalledProcessError as e:
        print(f"perfbench: bootstrap build failed: {e}", file=sys.stderr)
        shutil.rmtree(work, ignore_errors=True)
        return 1

    slots = len(os.sched_getaffinity(0))
    load_start = workloads.loadavg()
    cpu_start = _cpu_times()
    # the status store keeps 1000 jobs by default; a traced run needs all
    extra = {"spark.ui.retainedJobs": "100000", "spark.ui.retainedStages": "100000"} if args.trace else None
    with ThreadPoolExecutor(1) as pool:
        planning = pool.submit(workloads.plan_inputs, args.workload, args.seed, ROOT, cache)
        spark = start_spark(slots, extra)
        try:
            planned = planning.result()
        except Exception:
            traceback.print_exc()
            stop_spark(spark)
            shutil.rmtree(work, ignore_errors=True)
            return 1
    run = workloads.Run(
        spark, ROOT, work, cache, args.workload, args.seed, args.seconds, slots,
        T_START + bootstrap_s, planned,
    )
    run.notes["bootstrap_build_s"] = bootstrap_s
    try:
        with RssSampler() as rss:
            body = (workloads.traced if args.trace else workloads.measured)(run, rss)
        conf = spark.sparkContext.getConf()
        settings = {
            "nproc": slots,
            "spark.master": conf.get("spark.master"),
            "spark.sql.shuffle.partitions": spark.conf.get("spark.sql.shuffle.partitions"),
            "spark.driver.memory": conf.get("spark.driver.memory"),
            "loadavg_start": load_start,
            "loadavg_end": workloads.loadavg(),
        }
        # share of the machine's CPU time taken by the hypervisor (steal)
        delta = [b - a for a, b in zip(cpu_start, _cpu_times())]
        settings["cpu_steal_share"] = delta[7] / sum(delta) if sum(delta) else 0.0
    except Exception:
        traceback.print_exc()
        return 1
    finally:
        stop_spark(spark)
        shutil.rmtree(work, ignore_errors=True)

    failed = min(len(body["errors"]), body["attempted"])
    for e in body["errors"]:
        print(f"perfbench: CHECK FAILED: {e}", file=sys.stderr)
    metrics = {
        name: {"value": float(v), "unit": workloads.unit_of(name)}
        for name, v in body["metrics"].items()
    }
    record = {
        "workload": args.workload, "seed": args.seed, "seconds": args.seconds,
        "trace": args.trace, "settings": settings, "notes": run.notes,
        "errors": body["errors"], "metrics": body["metrics"], "report": body["report"],
    }
    name = f"{args.workload}-seed{args.seed}-trace{args.trace}.json"
    with open(os.path.join(out_dir, name), "w") as f:
        json.dump(record, f, indent=1, default=str)

    for k, v in {**settings, **run.notes}.items():
        print(f"setting {k} = {v}")
    report = body["report"]
    if not args.trace:
        samples = report["samples"]
        for k, unit in (("request_s", "s"), ("noop_refresh_s", "s"), ("turns_per_s", "1/s"),
                        ("queries_per_s", "1/s"), ("write_mb", "MB")):
            if k in report:
                print(f"{args.workload} {k} {report[k]:.6g} {unit}")
        print(f"{args.workload} error_rate {failed / body['attempted']:.4f} ratio")
    else:
        samples = {}
        print(f"{args.workload} trace written to .perfbench_out/{name}")
    for k, m in metrics.items():
        n = f" (n={samples[k]})" if k in samples else ""
        print(f"{args.workload} {k} {m['value']:.6g} {m['unit']}{n}")
    print(json.dumps({
        "correct": failed == 0,
        "attempted": body["attempted"],
        "failed": failed,
        "metrics": metrics,
    }))
    return 0 if failed == 0 else 1


if __name__ == "__main__":
    sys.exit(main())
