"""Spans at the program's layer boundaries, recorded from outside the program.

``instrument`` rebinds every public function of the layer modules (session,
operators, functions, streaming, sources, pipeline) to a wrapper that records
a span while a ``Tracer`` is enabled.  Rebinding happens in every loaded
module of the package, so ``from x import f`` call sites are covered too.
Spans live in memory; ``Tracer.dump`` writes them out at the end of a run.

``Engine`` reads Spark's JVM status store: the stage ids a span created come
from the DAG scheduler's id counters sampled at the span's edges, and each
such stage's metrics from ``AppStatusStore.lastStageAttempt``.
"""

from __future__ import annotations

import functools
import importlib
import inspect
import json
import pkgutil
import re
import sys
import time
from contextlib import contextmanager

from py4j.protocol import Py4JJavaError

PKG = "firmable_company_data_pipeline_spark"

# Operator modules reported by name; the rest pool into operators.other.
OPERATOR_MODULES = (
    "dedup", "curation", "similarity_search", "retrieval",
    "quality", "graph", "matching", "sketches",
)
# Layers whose spans also count the Spark jobs submitted inside them.
JOB_COUNTED = ("session", "operators.")


def layer_of(module_name: str) -> str | None:
    """Layer name for a package module, or None for modules not traced
    (the queries layer is timed around each query call instead)."""
    parts = module_name.split(".")
    if parts[0] != PKG or len(parts) < 2:
        return None
    top = parts[1]
    if top == "session":
        return "session"
    if top == "operators" and len(parts) > 2:
        return "operators." + (parts[2] if parts[2] in OPERATOR_MODULES else "other")
    if top in ("functions", "streaming", "sources", "pipeline"):
        return top
    return None


class Tracer:
    """In-memory span recorder.  Disabled until ``enabled`` is set, so the
    instrumented program runs the untraced path at one attribute test per
    call."""

    def __init__(self, next_job_id=None):
        self.enabled = False
        self.spans: list[dict] = []
        self._stack: list[int] = []
        self._next_job_id = next_job_id
        self.op = None
        # span names whose positional arguments are kept on the span (in
        # memory only) for measurements taken after the operation
        self.capture: set[str] = set()

    def __reduce__(self):
        # a wrapper shipped inside a UDF closure arrives on a worker with a
        # fresh, disabled tracer
        return (Tracer, ())

    @contextmanager
    def span(self, name: str, layer: str):
        if not self.enabled:
            yield None
            return
        rec = {
            "name": name, "layer": layer, "op": self.op,
            "parent": self._stack[-1] if self._stack else None,
            "start": time.perf_counter(), "end": None, "child_s": 0.0,
        }
        counts_jobs = self._next_job_id is not None and layer.startswith(JOB_COUNTED)
        if counts_jobs:
            rec["job0"] = self._next_job_id()
        self.spans.append(rec)
        self._stack.append(len(self.spans) - 1)
        try:
            yield rec
        finally:
            self._stack.pop()
            if counts_jobs:
                rec["jobs"] = self._next_job_id() - rec.pop("job0")
            rec["end"] = time.perf_counter()
            if rec["parent"] is not None:
                self.spans[rec["parent"]]["child_s"] += rec["end"] - rec["start"]

    def op_spans(self, op) -> list[dict]:
        return [s for s in self.spans if s["op"] == op]

    @staticmethod
    def self_s(span: dict) -> float:
        """Duration minus the part the span's direct children cover."""
        return span["end"] - span["start"] - span["child_s"]

    def dump(self, path: str) -> None:
        with open(path, "x") as fh:
            json.dump([{k: v for k, v in s.items() if k != "args"} for s in self.spans], fh)


def instrument(tracer: Tracer) -> int:
    """Wrap every public function of the layer modules; return how many."""
    pkg = importlib.import_module(PKG)
    for info in pkgutil.walk_packages(pkg.__path__, PKG + "."):
        importlib.import_module(info.name)
    modules = [m for n, m in list(sys.modules.items())
               if m is not None and (n == PKG or n.startswith(PKG + "."))]

    wrappers: dict[int, object] = {}
    for mod in modules:
        layer = layer_of(mod.__name__)
        if layer is None:
            continue
        for name, fn in vars(mod).items():
            if (name.startswith("_") or not inspect.isfunction(fn)
                    or fn.__module__ != mod.__name__):
                continue
            wrappers[id(fn)] = _wrap(tracer, fn, layer)
    for mod in modules:
        for name, value in list(vars(mod).items()):
            wrapper = wrappers.get(id(value))
            if wrapper is not None:
                setattr(mod, name, wrapper)
    return len(wrappers)


def _wrap(tracer: Tracer, fn, layer: str):
    name = f"{layer}:{fn.__module__.rsplit('.', 1)[-1]}.{fn.__name__}"

    @functools.wraps(fn)
    def traced(*args, **kwargs):
        if not tracer.enabled:
            return fn(*args, **kwargs)
        with tracer.span(name, layer) as rec:
            if name in tracer.capture:
                rec["args"] = args
            return fn(*args, **kwargs)

    return traced


class Engine:
    """Job/stage counters from the driver JVM."""

    STAGE_FIELDS = (
        ("executor_run_ms", "executorRunTime"),
        ("executor_cpu_ms", "executorCpuTime"),  # ns in the store
        ("gc_ms", "jvmGcTime"),
        ("deserialize_ms", "executorDeserializeTime"),
        ("shuffle_write_bytes", "shuffleWriteBytes"),
        ("shuffle_read_records", "shuffleReadRecords"),
        ("input_bytes", "inputBytes"),
        ("memory_spill_bytes", "memoryBytesSpilled"),
        ("disk_spill_bytes", "diskBytesSpilled"),
    )

    def __init__(self, spark):
        self._sc = spark.sparkContext._jsc.sc()
        self._dag = self._sc.dagScheduler()
        self._store = self._sc.statusStore()
        self._bus = self._sc.listenerBus()

    def next_job_id(self) -> int:
        return self._dag.nextJobId()

    def mark(self) -> tuple[int, int]:
        return self._dag.nextJobId(), self._dag.nextStageId()

    def counters(self, start: tuple[int, int], end: tuple[int, int]) -> dict:
        """Sums over the stages created between two marks.  Waits for the
        listener bus first: stage metrics reach the store asynchronously."""
        self._bus.waitUntilEmpty()
        out = {"jobs": end[0] - start[0], "stages": 0, "tasks": 0, "failed_tasks": 0}
        for key, _ in self.STAGE_FIELDS:
            out[key] = 0
        for sid in range(start[1], end[1]):
            try:
                st = self._store.lastStageAttempt(sid)
            except Py4JJavaError:  # evicted or never submitted: nothing to add
                continue
            if st.status().toString() == "SKIPPED":  # reused shuffle output
                continue
            out["stages"] += 1
            out["tasks"] += st.numCompleteTasks() + st.numFailedTasks()
            out["failed_tasks"] += st.numFailedTasks()
            for key, getter in self.STAGE_FIELDS:
                out[key] += getattr(st, getter)()
        out["executor_cpu_ms"] /= 1e6
        return out

    def materialized(self) -> dict:
        """Persisted RDDs holding blocks right now."""
        infos = list(self._sc.getRDDStorageInfo())
        return {
            "rdds": len(infos),
            "mem_bytes": sum(i.memSize() for i in infos),
            "disk_bytes": sum(i.diskSize() for i in infos),
        }


_NODE = re.compile(r"^[\s:|+-]*(?:\*\(\d+\)\s+)?(\w+)")
_PYTHON_NODE = re.compile(r"InPandas|InArrow|EvalPython|PythonUDTF")


def plan_stats(df) -> dict:
    """Node counts of the frame's physical plan: the final adaptive plan
    once an action has run on this frame, else the initial plan."""
    plan = df._jdf.queryExecution().executedPlan()
    if plan.getClass().getSimpleName() == "AdaptiveSparkPlanExec":
        plan = plan.executedPlan()
    lines = plan.toString().splitlines()
    names = [m.group(1) for m in map(_NODE.match, lines) if m]
    return {
        "scan_parquet": sum(1 for line in lines if "FileScan parquet" in line),
        "exchanges": sum(1 for n in names if n in ("Exchange", "BroadcastExchange")),
        "broadcasts": sum(1 for n in names if n == "BroadcastExchange"),
        "python_nodes": sum(1 for n in names if _PYTHON_NODE.search(n)),
    }
