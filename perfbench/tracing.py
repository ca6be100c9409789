"""Outside-in attribution: spans around calls into the package's layers,
Spark job groups per layer, counters read back from Spark's status store,
and process-tree memory sampling.

Nothing here touches the package's code paths: spans wrap calls the
benchmark makes (or module attributes the package looks up at call
time), and the counters come from ``SparkContext``'s status store,
which is populated with ``spark.ui.enabled=false`` too.
"""

from __future__ import annotations

import functools
import itertools
import os
import threading
import time
from contextlib import contextmanager

UNATTRIBUTED = "unattributed"

# generic counters reported for every layer (see README.md)
GENERIC = (
    "self_s", "jobs", "tasks", "cpu_s", "shuffle_mb", "spill_mb", "failed_tasks",
    "core_busy_ratio",
)
RSS_PERIOD_S = 0.25  # RssSampler's sampling period

# layer name -> (module, public functions the package calls at run time
# through the module attribute, so wrapping the attribute sees the call)
WRAPPED = {
    "chunking": ("graph_rag_agent_spark.operators.chunking", ("chunk_conversations",)),
    "extraction": ("graph_rag_agent_spark.operators.extraction", ("extract_chunks",)),
    "parsing": (
        "graph_rag_agent_spark.operators.parsing",
        ("parse_extractions", "entities_raw", "triples_raw", "mentions_raw"),
    ),
    "linking": (
        "graph_rag_agent_spark.operators.linking",
        (
            "entity_catalog",
            "with_embeddings",
            "link_entities_driver_path",
            "similar_entities",
            "similar_entities_lsh_delta",
        ),
    ),
    "components": (
        "graph_rag_agent_spark.operators.components",
        ("connected_components", "consecutive_component_ids", "connected_components_delta"),
    ),
    "canonicalize": (
        "graph_rag_agent_spark.operators.canonicalize",
        ("resolve_canonical", "rewrite_triples", "rewrite_mentions", "canonical_entities"),
    ),
    "community": (
        "graph_rag_agent_spark.operators.community",
        (
            "detect_communities",
            "community_catalog",
            "localized_community_catalog",
            "projection_components",
        ),
    ),
    "chunk_index": ("graph_rag_agent_spark.operators.chunk_index", ("with_chunk_embeddings",)),
    "merge": (
        "graph_rag_agent_spark.plans.merge",
        ("merge_into", "upsert_groups", "read_pruned", "delete_where", "write_bucketed", "read_bucketed"),
    ),
    "fsio": (
        "graph_rag_agent_spark.plans.fsio",
        ("exists", "is_dir", "listdir", "list_dirs", "makedirs", "rmtree", "rename",
         "remove", "read_text", "write_text", "read_json", "write_json"),
    ),
}


class Tracer:
    """Spans (name, layer, start, end, parent, thread) kept in memory,
    with the Spark job group of each span's thread set to its layer
    for the span's duration."""

    def __init__(self, sc):
        self.sc = sc
        self.spans: list[dict] = []
        self._ids = itertools.count(1)
        self._local = threading.local()
        self._lock = threading.Lock()
        self._patched: list[tuple[object, str, object]] = []
        self._main_stack: list = []
        self.own_s = 0.0  # time spent in the tracer's own bookkeeping

    def _stack(self) -> list:
        if not hasattr(self._local, "stack"):
            self._local.stack = []
            if threading.current_thread() is threading.main_thread():
                self._main_stack = self._local.stack
        return self._local.stack

    @contextmanager
    def span(self, name: str, layer: str):
        b0 = time.perf_counter()
        stack = self._stack()
        # a span opened by a pool thread (build_all's _run_parallel)
        # belongs to the main thread's innermost open span
        outer = stack or self._main_stack
        parent = outer[-1][0] if outer else None
        span_id = next(self._ids)
        prev_group = self.sc.getLocalProperty("spark.jobGroup.id")
        self.sc.setJobGroup(layer, name)
        stack.append((span_id, layer))
        start = time.perf_counter()
        self.own_s += start - b0
        try:
            yield
        finally:
            end = time.perf_counter()
            stack.pop()
            self.sc.setLocalProperty("spark.jobGroup.id", prev_group)
            with self._lock:
                self.spans.append(
                    {
                        "id": span_id,
                        "name": name,
                        "layer": layer,
                        "start": start,
                        "end": end,
                        "parent": parent,
                        "thread": threading.get_ident(),
                    }
                )
            self.own_s += time.perf_counter() - end

    def wrap_layers(self) -> None:
        """Replace the public functions of every layer in WRAPPED with
        span-recording wrappers until ``unwrap``."""
        import importlib

        for layer, (mod_name, funcs) in WRAPPED.items():
            mod = importlib.import_module(mod_name)
            for fn_name in funcs:
                orig = getattr(mod, fn_name)
                setattr(mod, fn_name, self._wrapped(orig, f"{layer}.{fn_name}", layer))
                self._patched.append((mod, fn_name, orig))

    def _wrapped(self, fn, name: str, layer: str):
        @functools.wraps(fn)
        def wrapper(*args, **kwargs):
            with self.span(name, layer):
                return fn(*args, **kwargs)

        return wrapper

    def unwrap(self) -> None:
        for mod, fn_name, orig in reversed(self._patched):
            setattr(mod, fn_name, orig)
        self._patched.clear()

    def layer_times(self) -> dict[str, dict[str, float]]:
        """Per layer: wall (union of its spans) and self time (span time
        not covered by a child span, summed)."""
        children: dict[int, list[tuple[float, float]]] = {}
        for s in self.spans:
            if s["parent"] is not None:
                children.setdefault(s["parent"], []).append((s["start"], s["end"]))
        out: dict[str, dict[str, float]] = {}
        by_layer: dict[str, list[tuple[float, float]]] = {}
        for s in self.spans:
            covered = _union_length(children.get(s["id"], []), s["start"], s["end"])
            rec = out.setdefault(s["layer"], {"self_s": 0.0, "wall_s": 0.0})
            rec["self_s"] += (s["end"] - s["start"]) - covered
            by_layer.setdefault(s["layer"], []).append((s["start"], s["end"]))
        for layer, ivs in by_layer.items():
            out[layer]["wall_s"] = _union_length(ivs, float("-inf"), float("inf"))
        return out


def _union_length(intervals, lo: float, hi: float) -> float:
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted((max(s, lo), min(e, hi)) for s, e in intervals):
        if e <= s:
            continue
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def last_job_id(sc) -> int:
    """Highest job id in the status store so far (-1 before any job)."""
    jobs = sc._jsc.sc().statusStore().jobsList(None)
    return max((jobs.apply(i).jobId() for i in range(jobs.size())), default=-1)


def spark_counters(sc, windows) -> dict[str, dict[str, float]]:
    """Per job group, over the jobs whose id lies in one of ``windows``
    (``(after, up_to]`` pairs of ``last_job_id`` values): jobs, tasks,
    executor run/CPU time, shuffle and spill bytes, failed tasks — from
    the status store. Stages are walked as jobsList → stageIds →
    stageData (a stage shared by jobs of one group counts once); jobs
    without a group land in ``unattributed``."""
    store = sc._jsc.sc().statusStore()
    no_status = sc._jvm.java.util.ArrayList()
    no_quantiles = sc._gateway.new_array(sc._jvm.double, 0)
    jobs = store.jobsList(None)
    out: dict[str, dict[str, float]] = {}
    seen: set[tuple[str, int]] = set()
    for i in range(jobs.size()):
        job = jobs.apply(i)
        if not any(lo < job.jobId() <= hi for lo, hi in windows):
            continue
        group = job.jobGroup()
        layer = group.get() if group.isDefined() else UNATTRIBUTED
        rec = out.setdefault(
            layer,
            {"jobs": 0, "tasks": 0, "run_s": 0.0, "cpu_s": 0.0, "shuffle_mb": 0.0,
             "spill_mb": 0.0, "failed_tasks": 0},
        )
        rec["jobs"] += 1
        stage_ids = job.stageIds()
        for k in range(stage_ids.size()):
            sid = stage_ids.apply(k)
            if (layer, sid) in seen:
                continue
            seen.add((layer, sid))
            attempts = store.stageData(sid, False, no_status, False, no_quantiles)
            for a in range(attempts.size()):
                st = attempts.apply(a)
                if st.status().toString() == "SKIPPED":
                    continue
                rec["tasks"] += st.numCompleteTasks() + st.numFailedTasks()
                rec["failed_tasks"] += st.numFailedTasks()
                rec["run_s"] += st.executorRunTime() / 1e3
                rec["cpu_s"] += st.executorCpuTime() / 1e9
                rec["shuffle_mb"] += (st.shuffleWriteBytes() + st.shuffleReadBytes()) / 1e6
                rec["spill_mb"] += (st.memoryBytesSpilled() + st.diskBytesSpilled()) / 1e6
    return out


def _children_of() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat") as f:
                ppid = int(f.read().rsplit(")", 1)[1].split()[1])
        except (OSError, IndexError, ValueError):
            continue
        kids.setdefault(ppid, []).append(int(entry))
    return kids


def _pss_bytes(pid: int) -> int:
    """Proportional set size: pages shared between forked Python
    workers count once in total, not once per process."""
    try:
        with open(f"/proc/{pid}/smaps_rollup") as f:
            for line in f:
                if line.startswith("Pss:"):
                    return int(line.split()[1]) * 1024
    except (OSError, IndexError, ValueError):
        pass
    return 0


def descendants(pid: int) -> list[int]:
    kids = _children_of()
    out, todo = [], list(kids.get(pid, []))
    while todo:
        p = todo.pop()
        out.append(p)
        todo.extend(kids.get(p, []))
    return out


def tree_cpu_s() -> float:
    """CPU seconds (user + system) used so far by this process and its
    descendants, the ones already reaped included: each process counts
    its own time and that of its waited-for children (cutime, cstime),
    so a Python worker that exits moves its time to its parent's count
    and the total never decreases."""
    tick = os.sysconf("SC_CLK_TCK")
    own = os.times()
    total = own.user + own.system + own.children_user + own.children_system
    for pid in descendants(os.getpid()):
        try:
            with open(f"/proc/{pid}/stat") as f:
                fields = f.read().rsplit(")", 1)[1].split()
            # utime, stime, cutime, cstime
            total += sum(int(x) for x in fields[11:15]) / tick
        except (OSError, IndexError, ValueError):
            continue
    return total


class RssSampler:
    """Peak resident memory of this process' descendants (the driver JVM
    and its Python workers) as summed PSS, sampled from a background
    thread every RSS_PERIOD_S."""

    def __init__(self):
        self.peak_bytes = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def _run(self) -> None:
        me = os.getpid()
        while not self._stop.is_set():
            total = sum(_pss_bytes(p) for p in descendants(me))
            self.peak_bytes = max(self.peak_bytes, total)
            self._stop.wait(RSS_PERIOD_S)

    def __enter__(self):
        self._thread.start()
        return self

    def __exit__(self, *exc):
        self._stop.set()
        self._thread.join()
