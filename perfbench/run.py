#!/usr/bin/env python3
"""Closed-loop benchmark: one caller, one operation at a time, on
``local[$(nproc)]`` from a single process.

    python3 perfbench/run.py --workload corpus_curation --seed 0 --seconds 15 --trace 0

Run from the repository root.  Inputs are generated from ``--seed`` under
``.perfbench_work/``; every operation's output is checked; per-operation
raw results go to a new file under ``.perfbench_out/``.  The last line of
stdout is one JSON object: ``correct``, ``attempted``, ``failed`` and
``metrics`` - the end-to-end metrics with ``--trace 0``, the per-layer
metrics with ``--trace 1``.  See perfbench/README.md.
"""

from __future__ import annotations

import argparse
import hashlib
import json
import os
import resource
import shutil
import signal
import statistics
import subprocess
import sys
import threading
import time
import traceback
from contextlib import nullcontext

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
WORKLOADS = ("corpus_curation", "company_pipeline")
GENERATE_REPEATS = 3
# Driver heap, also the initial heap: a growing heap made run-to-run times
# and RSS spread far more than a fixed one.
HEAP = "2g"
OPERATOR_LAYERS = ("dedup", "curation", "similarity_search", "retrieval",
                   "quality", "graph", "matching", "sketches")
# Ratios reported from summed counts: name -> (numerator, denominator).
RATIOS = {
    "pipeline.match_rate": ("pipeline.matched_rows", "pipeline.observed_cc_rows"),
    "operators.matching.pairs_per_match": ("operators.matching.candidate_pairs",
                                           "operators.matching.fuzzy_matches"),
}


def parse_args(argv):
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return ap.parse_args(argv)


def tail(values: list[float], op_medians: dict) -> tuple[float | None, float]:
    """(percentile, value) of the tail: the highest percentile with at least
    ten samples above it once there are 100 samples or more (the 90th or
    above).  Below that such a percentile sits inside the body of the
    operations' times, so the tail is the slowest operation's median
    (percentile None)."""
    xs = sorted(values)
    n = len(xs)
    if n < 100:
        return None, max(op_medians.values())
    k = n - 10  # xs[k-1] has exactly ten samples above it
    return 100.0 * k / n, xs[k - 1]


def _tree_kb(root_pid: int, field: str) -> dict[int, int]:
    """``field`` (e.g. ``VmHWM``, in kB) of ``root_pid`` and each live
    descendant, by pid."""
    children: dict[int, list[int]] = {}
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat") as fh:
                ppid = int(fh.read().rsplit(")", 1)[1].split()[1])
        except (OSError, IndexError, ValueError):
            continue
        children.setdefault(ppid, []).append(int(entry))
    out, todo = {}, [root_pid]
    while todo:
        pid = todo.pop()
        todo.extend(children.get(pid, ()))
        try:
            with open(f"/proc/{pid}/status") as fh:
                for line in fh:
                    if line.startswith(field + ":"):
                        out[pid] = int(line.split()[1])
        except OSError:
            continue
    return out


def _is_python(pid: int) -> bool:
    try:
        with open(f"/proc/{pid}/comm") as fh:
            return fh.read().startswith("python")
    except OSError:
        return False


class TreePeak:
    """Peak RSS of the driver JVM and its Python descendants (the worker
    daemon and workers).  The JVM's own peak is its VmHWM; the Python
    descendants' summed RSS is sampled every ``interval`` seconds in a
    thread and its maximum kept, so workers that exit before the end still
    count.  Other descendants are left out: a child the JVM is spawning
    shares the JVM's memory until it execs, and would count it twice."""

    def __init__(self, jvm_pid: int, interval: float = 0.5):
        self.jvm_pid = jvm_pid
        self.children_kb = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, args=(interval,), daemon=True)
        self._thread.start()

    def _sample(self) -> None:
        kb = _tree_kb(self.jvm_pid, "VmRSS")
        total = sum(v for pid, v in kb.items() if pid != self.jvm_pid and _is_python(pid))
        self.children_kb = max(self.children_kb, total)

    def _loop(self, interval: float) -> None:
        while not self._stop.wait(interval):
            self._sample()

    def stop(self) -> None:
        self._stop.set()
        self._thread.join()

    def stop_mb(self) -> float:
        self.stop()
        self._sample()
        jvm_kb = _tree_kb(self.jvm_pid, "VmHWM").get(self.jvm_pid, 0)
        return (jvm_kb + self.children_kb) / 1024.0


def source_stamp() -> dict:
    """git sha when the tree is a git checkout, and a hash of the program
    and benchmark sources either way."""
    sha = None
    try:
        sha = subprocess.run(["git", "rev-parse", "HEAD"], cwd=ROOT, capture_output=True,
                             text=True, timeout=10).stdout.strip() or None
    except (OSError, subprocess.SubprocessError):
        pass
    h = hashlib.sha256()
    for top in ("firmable_company_data_pipeline_spark", "perfbench"):
        for d, dirs, files in sorted(os.walk(os.path.join(ROOT, top))):
            dirs.sort()
            for f in sorted(files):
                if f.endswith(".py"):
                    p = os.path.join(d, f)
                    h.update(os.path.relpath(p, ROOT).encode())
                    with open(p, "rb") as fh:
                        h.update(fh.read())
    return {"git_sha": sha, "source_sha256": h.hexdigest()}


class Runner:
    def __init__(self, spark, workload, tracer=None, engine=None):
        self.spark = spark
        self.wl = workload
        self.tracer = tracer
        self.engine = engine
        self.attempted = 0
        self.failures: list[dict] = []
        self.executions: list[dict] = []
        self.traced: list[dict] = []

    def execute(self, op: str, phase: str, traced: bool = False) -> dict:
        """Run one operation (build + action), check its output, clean up."""
        spark, wl, tracer = self.spark, self.wl, self.tracer
        rec = {"op": op, "phase": phase, "traced": traced}
        self.attempted += 1
        frame = result = None
        if traced:
            tracer.op = (op, len(self.traced))
            tracer.enabled = True
            m0 = self.engine.mark()
        try:
            with (tracer.span("op:" + op, "op") if traced else nullcontext()):
                t0 = time.perf_counter()
                with (tracer.span("queries:build", "queries") if traced else nullcontext()):
                    frame = wl.build(spark, op)
                t1 = time.perf_counter()
                if traced:
                    m1 = self.engine.mark()
                with (tracer.span("engine:action", "engine") if traced else nullcontext()):
                    result = wl.act(spark, op, frame)
                t2 = time.perf_counter()
                if traced:
                    m2 = self.engine.mark()
            rec.update(build_s=t1 - t0, action_s=t2 - t1, total_s=t2 - t0)
        except Exception as exc:  # a failing operation is counted, not fatal
            rec["error"] = f"{type(exc).__name__}: {str(exc)[:300]}"
            traceback.print_exc(file=sys.stderr)
        finally:
            if traced:
                tracer.enabled = False
        if "error" not in rec:
            try:
                verdict = wl.check(op, result)
            except Exception as exc:  # a check that cannot run is a failed check
                verdict = f"CHECK ERROR {type(exc).__name__}: {str(exc)[:300]}"
            if verdict:
                rec["error"] = verdict
        if traced and "error" not in rec:
            rec["layers"] = self.layer_metrics(op, frame, result, (m0, m1, m2))
        if "error" in rec:
            self.failures.append({"op": op, "phase": phase, "error": rec["error"]})
        wl.cleanup(spark)
        (self.traced if traced else self.executions).append(rec)
        return rec

    def layer_metrics(self, op, frame, result, marks) -> dict:
        """Per-layer numbers of one traced execution (outside its timing).
        ``marks``: scheduler id counters at build start, build end and
        action end."""
        from perfbench.tracing import plan_stats

        engine, tracer = self.engine, self.tracer
        spans = tracer.op_spans(tracer.op)
        m0, m1, m2 = marks
        build = engine.counters(m0, m1)
        total = engine.counters(m0, m2)
        out = {
            "queries.build_s": _sum(s["end"] - s["start"] for s in spans if s["name"] == "queries:build"),
            "queries.build_jobs": build["jobs"],
            "queries.build_stages": build["stages"],
            "queries.build_tasks": build["tasks"],
            "engine.action_s": _sum(s["end"] - s["start"] for s in spans if s["name"] == "engine:action"),
            "engine.jobs": total["jobs"],
            "engine.stages": total["stages"],
            "engine.tasks": total["tasks"],
            "engine.failed_tasks": total["failed_tasks"],
            "engine.executor_run_ms": total["executor_run_ms"],
            "engine.executor_cpu_ms": total["executor_cpu_ms"],
            "engine.gc_ms": total["gc_ms"],
            "engine.deserialize_ms": total["deserialize_ms"],
            "engine.shuffle_write_bytes": total["shuffle_write_bytes"],
            "engine.shuffle_read_records": total["shuffle_read_records"],
            "engine.input_bytes": total["input_bytes"],
            "engine.spill_bytes": total["memory_spill_bytes"] + total["disk_spill_bytes"],
        }
        df = frame[0] if isinstance(frame, tuple) else frame
        out.update({f"plan.{k}": v for k, v in plan_stats(df).items()})
        out.update({f"materialize.{k}": v for k, v in engine.materialized().items()})

        def named(prefix):
            return [s for s in spans if s["name"].startswith(prefix)]

        def self_sum(prefix):
            return _sum(tracer.self_s(s) for s in named(prefix))

        def outermost(layer):
            ids = {id(s) for s in spans}
            return [s for s in spans if s["layer"] == layer and not (
                s["parent"] is not None and id(tracer.spans[s["parent"]]) in ids
                and tracer.spans[s["parent"]]["layer"] == layer)]

        loads = named("session:session.load_tables")
        out["session.load_tables.calls"] = len(loads)
        out["session.load_tables.s"] = _sum(s["end"] - s["start"] for s in loads)
        out["session.load_tables.jobs"] = sum(s["jobs"] for s in loads)
        for m in OPERATOR_LAYERS:
            layer = "operators." + m
            out[f"{layer}.calls"] = len(named(layer + ":"))
            out[f"{layer}.self_s"] = self_sum(layer + ":")
            out[f"{layer}.jobs"] = sum(s["jobs"] for s in outermost(layer))
        for layer in ("functions", "streaming"):
            out[f"{layer}.calls"] = len(named(layer + ":"))
            out[f"{layer}.self_s"] = self_sum(layer + ":")
        out["sources.abr_read_s"] = self_sum("sources:xml_abr.")
        out["sources.cc_extract_s"] = self_sum("sources:commoncrawl.") + self_sum("sources:datasource.")
        out["sources.write_s"] = self_sum("sources:io.")
        out["pipeline.clean_s"] = self_sum("pipeline:cleaning.")
        out["operators.matching.match_s"] = _sum(
            s["end"] - s["start"] for s in outermost("operators.matching"))
        out["trace.gap_s"] = self_sum("op:")
        out["trace.wall_s"] = _sum(s["end"] - s["start"] for s in named("op:"))
        by_layer: dict[str, float] = {}
        for s in spans:
            by_layer[s["layer"]] = by_layer.get(s["layer"], 0.0) + tracer.self_s(s)
        out["self_s_by_layer"] = by_layer
        out.update(self.wl.traced_extras(self.spark, op, frame, result, spans))
        add_ratios(out)
        return out


def _sum(xs) -> float:
    return float(sum(xs))


def add_ratios(values: dict) -> None:
    for name, (num, den) in RATIOS.items():
        values[name] = values[num] / values[den] if values[den] else 0.0


def per_op_median(records: list[dict], ops: list[str]) -> dict:
    out = {}
    for op in ops:
        xs = [r["total_s"] for r in records if r["op"] == op and "error" not in r]
        if xs:
            out[op] = statistics.median(xs)
    return out


def end_to_end(runner: Runner, ops, setup_s, peak_rss_mb) -> tuple[dict, dict]:
    timed = [r for r in runner.executions if r["phase"] == "timed" and "error" not in r]
    samples = [r["total_s"] for r in timed]
    medians = per_op_median(timed, ops)
    pct, tail_s = tail(samples, medians) if samples else (None, 0.0)
    metrics = {
        "setup_s": {"value": setup_s, "unit": "s"},
        "wall_s": {"value": sum(medians.values()), "unit": "s"},
        "op_p50_s": {"value": statistics.median(medians.values()) if medians else 0.0,
                     "unit": "s"},
        "op_tail_s": {"value": tail_s, "unit": "s"},
        "peak_rss_mb": {"value": peak_rss_mb, "unit": "MB"},
    }
    detail = {"op_tail_percentile": pct, "timed_samples": len(samples),
              "ops_timed": len(medians), "ops": len(ops), "per_op_median_s": medians}
    return metrics, detail


PER_LAYER_UNITS = {"_s": "s", "_ms": "ms", "_bytes": "bytes"}


def per_layer(runner: Runner, ops) -> tuple[dict, dict]:
    """Each layer metric summed over operations, taking each operation's
    median over its traced executions; plus per-operation values."""
    ok = [r for r in runner.traced if "layers" in r]
    keys = [k for k in ok[0]["layers"] if k != "self_s_by_layer"] if ok else []
    per_op = {}
    for op in ops:
        recs = [r["layers"] for r in ok if r["op"] == op]
        if recs:
            per_op[op] = {k: statistics.median(x[k] for x in recs) for k in keys}
            per_op[op]["self_s_by_layer"] = recs[-1]["self_s_by_layer"]
    traced_wall = sum(v["trace.wall_s"] for v in per_op.values())
    untraced = per_op_median([r for r in runner.executions if r["phase"] == "timed"], ops)
    metrics = {}
    for k in keys:
        if k == "trace.wall_s":
            continue
        metrics[k] = {"value": sum(v[k] for v in per_op.values()), "unit": _unit(k)}
    sums = {k: m["value"] for k, m in metrics.items()}
    add_ratios(sums)
    for name in RATIOS:
        metrics[name]["value"] = sums[name]
    metrics["trace.overhead_s"] = {"value": traced_wall - sum(untraced.values()), "unit": "s"}
    return metrics, per_op


def _unit(key: str) -> str:
    if key in RATIOS:
        return "ratio"
    if key.endswith(".s"):
        return "s"
    for suffix, unit in PER_LAYER_UNITS.items():
        if key.endswith(suffix):
            return unit
    return "count"


def main(argv=None) -> int:
    args = parse_args(argv)
    # The program must exist beside the benchmark; without it, fail before
    # producing anything.
    if not os.path.isdir(os.path.join(ROOT, "firmable_company_data_pipeline_spark")):
        print("perfbench: program sources not found next to perfbench/", file=sys.stderr)
        return 2
    run_id = f"{args.workload}-seed{args.seed}-trace{args.trace}-{time.strftime('%Y%m%dT%H%M%S', time.gmtime())}-{os.getpid()}"
    work = os.path.join(ROOT, ".perfbench_work", run_id)
    out_dir = os.path.join(ROOT, ".perfbench_out")
    os.makedirs(os.path.join(work, "tmp"), exist_ok=True)
    os.makedirs(out_dir, exist_ok=True)
    cpus = len(os.sched_getaffinity(0))
    os.environ.update({
        "SPARK_GRAFT_CPUS": str(cpus),
        "SPARK_LOCAL_DIRS": os.path.join(work, "spark-local"),
        "SPARK_DRIVER_MEMORY": HEAP,
        "TMPDIR": os.path.join(work, "tmp"),
        # no hsperfdata files in the system temp dir from the launcher JVM
        "SPARK_LAUNCHER_OPTS": "-XX:-UsePerfData",
    })
    # a terminated run still stops its JVM and removes its work dir
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    for p in (ROOT, os.path.join(ROOT, "scripts")):
        if p not in sys.path:
            sys.path.insert(0, p)
    try:
        return _run(args, work, out_dir, run_id, cpus)
    finally:
        shutil.rmtree(work, ignore_errors=True)


def _run(args, work, out_dir, run_id, cpus) -> int:
    t0 = time.perf_counter()
    from firmable_company_data_pipeline_spark import get_spark
    from pyspark import SparkContext

    from perfbench import workloads

    spark = get_spark("perfbench", extra_conf={
        "spark.ui.showConsoleProgress": "false",
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        "spark.driver.extraJavaOptions":
            f"-Djava.io.tmpdir={os.path.join(work, 'tmp')} -XX:-UsePerfData "
            f"-Xms{HEAP}",
    })
    spark.sparkContext.setLogLevel("ERROR")
    session_s = time.perf_counter() - t0
    rss = TreePeak(spark._jvm.java.lang.ProcessHandle.current().pid())
    try:
        wl = workloads.make(args.workload, work)
        tracer = engine = None
        if args.trace:
            from perfbench.tracing import Engine, Tracer, instrument

            engine = Engine(spark)
            tracer = Tracer(engine.next_job_id)
            tracer.capture = set(wl.capture)
            instrument(tracer)

        gen_s = []
        for i in range(GENERATE_REPEATS):
            g0 = time.perf_counter()
            wl.generate(args.seed, os.path.join(work, f"inputs{i}"))
            gen_s.append(time.perf_counter() - g0)
        c0 = time.perf_counter()
        wl.prepare_checks()  # the oracle side: not part of set-up
        oracle_s = time.perf_counter() - c0

        runner = Runner(spark, wl, tracer, engine)
        w0 = time.perf_counter()
        for op in wl.warmup_ops:
            runner.execute(op, "warmup")
        warmup_s = time.perf_counter() - w0
        setup_s = session_s + statistics.median(gen_s) + warmup_s

        loop_start = time.perf_counter()
        deadline = loop_start + args.seconds
        # Operations in a fixed round-robin order until the deadline, at
        # least one full pass: sample counts differ by at most one between
        # operations, and the run ends one operation after the deadline.
        executed = 0
        while executed < len(wl.ops) or time.perf_counter() < deadline:
            i, passes = executed % len(wl.ops), executed // len(wl.ops)
            op = wl.ops[i]
            executed += 1
            if not args.trace:
                runner.execute(op, "timed")
                continue
            # untraced and traced back to back, the first of the pair
            # alternating, so neither side gets the warmer caches
            for traced in ((False, True) if (i + passes) % 2 == 0 else (True, False)):
                runner.execute(op, "timed", traced=traced)

        loop_s = time.perf_counter() - loop_start
        peak_rss_mb = (rss.stop_mb()
                       + resource.getrusage(resource.RUSAGE_SELF).ru_maxrss / 1024.0)

        if args.trace:
            metrics, per_op = per_layer(runner, wl.ops)
            detail = {}
        else:
            metrics, detail = end_to_end(runner, wl.ops, setup_s, peak_rss_mb)
            per_op = None
        failed = len(runner.failures)
        raw = {
            "run_id": run_id, "workload": args.workload, "seed": args.seed,
            "seconds": args.seconds, "trace": args.trace, "cpus": cpus, "heap": HEAP,
            **source_stamp(),
            "setup": {"session_s": session_s, "generate_s": gen_s, "warmup_s": warmup_s,
                      "oracle_s": oracle_s, "loop_s": loop_s, "executed": executed},
            "attempted": runner.attempted, "failed": failed,
            "failed_frac": failed / runner.attempted,
            "failures": runner.failures,
            "metrics": metrics, "detail": detail,
            "executions": runner.executions + runner.traced,
            "per_op_layers": per_op,
        }
        raw_path = os.path.join(out_dir, run_id + ".json")
        with open(raw_path, "x") as fh:
            json.dump(raw, fh, indent=1, default=str)
        if tracer is not None:
            tracer.dump(os.path.join(out_dir, run_id + ".spans.json"))
        print(f"perfbench: raw results in {os.path.relpath(raw_path, ROOT)}", file=sys.stderr)
        for f in runner.failures:
            print(f"perfbench: FAILED {f['op']} ({f['phase']}): {f['error']}", file=sys.stderr)
        print(json.dumps({
            "correct": failed == 0, "attempted": runner.attempted, "failed": failed,
            "metrics": metrics,
        }))
        return 0
    finally:
        try:
            rss.stop()
            spark.stop()
        finally:
            _stop_jvm(SparkContext)


def _stop_jvm(SparkContext) -> None:
    """End the JVM the session launched and wait for it: closing its stdin
    is the gateway's signal to exit."""
    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    if gateway is not None:
        gateway.shutdown()
    if proc is not None:
        if proc.stdin:
            proc.stdin.close()
        try:
            proc.wait(timeout=30)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()


if __name__ == "__main__":
    sys.exit(main())
