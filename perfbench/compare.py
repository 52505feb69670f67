#!/usr/bin/env python3
"""Compare two raw result files written by perfbench/run.py.

    python3 perfbench/compare.py .perfbench_out/A.json .perfbench_out/B.json

Flags, per operation:
  * any change of a counter (jobs, stages, tasks, plan nodes, rows, bytes
    from a traced run) - counters must repeat exactly between runs of the
    same seed; byte and pair counts follow the generated data, so across
    seeds they move;
  * a time that moved by more than the bound: the metric's own bound from
    BENCHMARK.json for end-to-end metrics, the ``wall_s`` bound for
    per-operation seconds.
Exits 1 when anything is flagged.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
TIME_SUFFIXES = ("_s", "_ms")
# Counters that measure time or depend on scheduling, compared as times.
TIMED_COUNTERS = ("engine.gc_ms", "engine.executor_run_ms", "engine.executor_cpu_ms",
                  "engine.deserialize_ms", "trace.overhead_s")


def bounds() -> dict[str, float]:
    try:
        with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
            return {m["name"]: m["bound"] for m in json.load(fh)["end_to_end"]}
    except (OSError, ValueError, KeyError):
        return {}


def is_time(key: str) -> bool:
    return key.endswith(TIME_SUFFIXES) or key.endswith(".s") or key in TIMED_COUNTERS


def moved(a: float, b: float, bound: float) -> bool:
    if a == 0:
        return b != 0
    return abs(b / a - 1.0) > bound


def op_medians(raw: dict) -> dict[str, float]:
    """Per-operation median over untraced timed executions."""
    by_op: dict[str, list[float]] = {}
    for e in raw["executions"]:
        if e["phase"] == "timed" and not e["traced"] and "error" not in e:
            by_op.setdefault(e["op"], []).append(e["total_s"])
    return {op: statistics.median(xs) for op, xs in by_op.items()}


def compare(a: dict, b: dict) -> list[str]:
    flags = []
    if a["workload"] != b["workload"]:
        flags.append(f"workload differs: {a['workload']} vs {b['workload']}")
    limits = bounds()
    op_bound = limits.get("wall_s", 0.1)

    for name, ma in a["metrics"].items():
        mb = b["metrics"].get(name)
        if mb is None:
            flags.append(f"metric {name}: missing in B")
            continue
        lim = limits.get(name, op_bound)
        va, vb = ma["value"], mb["value"]
        if (moved(va, vb, lim) if is_time(name) or name in limits else va != vb):
            flags.append(f"metric {name}: {va:.6g} -> {vb:.6g} {ma['unit']}")

    ta, tb = op_medians(a), op_medians(b)
    for op in sorted(set(ta) | set(tb)):
        if op not in ta or op not in tb:
            flags.append(f"{op}: timed in only one run")
        elif moved(ta[op], tb[op], op_bound):
            flags.append(f"{op}: median {ta[op]:.4f} s -> {tb[op]:.4f} s")

    la, lb = a.get("per_op_layers") or {}, b.get("per_op_layers") or {}
    for op in sorted(set(la) | set(lb)):
        if op not in la or op not in lb:
            flags.append(f"{op}: traced in only one run")
            continue
        for key in sorted(set(la[op]) | set(lb[op])):
            va, vb = la[op].get(key), lb[op].get(key)
            if key == "self_s_by_layer" or va == vb:
                continue
            if va is None or vb is None:
                flags.append(f"{op} {key}: {va} -> {vb}")
            elif is_time(key):
                if moved(va, vb, op_bound):
                    unit = "ms" if key.endswith("_ms") else "s"
                    flags.append(f"{op} {key}: {va:.4f} -> {vb:.4f} {unit}")
            else:
                flags.append(f"{op} {key}: {va} -> {vb} (counter changed)")
    return flags


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("a")
    ap.add_argument("b")
    args = ap.parse_args(argv)
    with open(args.a) as fh:
        a = json.load(fh)
    with open(args.b) as fh:
        b = json.load(fh)
    for tag, r in (("A", a), ("B", b)):
        print(f"{tag}: {r['workload']} seed={r['seed']} trace={r['trace']} cpus={r['cpus']} "
              f"git={r['git_sha']} src={r['source_sha256'][:12]}")
    flags = compare(a, b)
    for f in flags:
        print("FLAG", f)
    print(f"{len(flags)} flagged")
    return 1 if flags else 0


if __name__ == "__main__":
    sys.exit(main())
