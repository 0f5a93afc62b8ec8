"""Per-layer report of traced runs.

    python3 perfbench/report.py .perfbench_out/trace-*.jsonl

prints, one row per workload, each layer's self time per traced
operation (a span's duration minus the part its child spans cover),
then the per-layer counts and ratios, including
``trace.unattributed_share``: the share of operation time that no
layer span covers.  ``run.py --trace 1`` computes its ``per_layer``
metrics with ``layer_metrics`` below, so both read the same numbers.
"""

from __future__ import annotations

import json
import sys
from collections import defaultdict


def _union(intervals: list[tuple[float, float]], lo: float, hi: float) -> float:
    """Length of the union of ``intervals`` clipped to [lo, hi]."""
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


def self_times(spans: list[dict]) -> dict[str, float]:
    """Total self time per layer over ``spans`` (``op`` is the part of
    the operations that no layer span covers)."""
    children = defaultdict(list)
    for s in spans:
        if s["parent"] is not None:
            children[s["parent"]].append((s["start"], s["end"]))
    out = defaultdict(float)
    for s in spans:
        covered = _union(children.get(s["id"], []), s["start"], s["end"])
        out[s["layer"]] += max(s["end"] - s["start"] - covered, 0.0)
    return dict(out)


# Per-layer metrics: name -> (unit, how it is computed).  Times and
# counts are per traced operation.
PER_LAYER = {
    "manifest.read_s": "s/op",
    "fs.list_calls": "count/op",
    "fs.list_s": "s/op",
    "fs.dirs_listed": "count/op",
    "fs.useful_ratio": "ratio",
    "schema.footer_reads": "count/op",
    "schema.infer_s": "s/op",
    "indexer.discover_s": "s/op",
    "indexer.commit_s": "s/op",
    "indexer.batches": "count/op",
    "deltalog.commits": "count/op",
    "deltalog.commit_s": "s/op",
    "deltalog.log_bytes_per_file": "B/file",
    "log_checkpoint.writes": "count/op",
    "log_checkpoint.write_s": "s/op",
    "checkpoints.load_s": "s/op",
    "checkpoints.save_s": "s/op",
    "snapshot.loads_per_op": "count/op",
    "snapshot.load_s": "s/op",
    "snapshot.json_tail": "count/load",
    "writer.calls": "count/op",
    "writer.s": "s/op",
    "build_s": "s/op",
    "build_jobs": "count/op",
    "catalyst.analysis_ms": "ms/op",
    "catalyst.optimization_ms": "ms/op",
    "catalyst.planning_ms": "ms/op",
    "exec_s": "s/op",
    "exec.jobs": "count/op",
    "exec.stages": "count/op",
    "exec.tasks": "count/op",
    "exec.failed_tasks": "count/op",
    "exec.files_per_task": "ratio",
    "python.nodes": "count/op",
    "python.rows": "count/op",
    "python.bytes": "B/op",
    "artifact_cache.hits": "count/op",
    "artifact_cache.misses": "count/op",
    "artifact_cache.train_s": "s/op",
    "materialise_vs_count": "ratio",
    "trace.overhead_share": "ratio",
    "trace.unattributed_share": "ratio",
}

# span layer -> (calls metric, time metric)
_SPAN_METRICS = {
    "manifest": (None, "manifest.read_s"),
    "fs": ("fs.list_calls", "fs.list_s"),
    "schema.footer": ("schema.footer_reads", None),
    "schema": (None, "schema.infer_s"),
    "indexer.discover": (None, "indexer.discover_s"),
    "indexer.commit": (None, "indexer.commit_s"),
    "deltalog": ("deltalog.commits", "deltalog.commit_s"),
    "log_checkpoint": ("log_checkpoint.writes", "log_checkpoint.write_s"),
    "checkpoints.load": (None, "checkpoints.load_s"),
    "checkpoints.save": (None, "checkpoints.save_s"),
    "snapshot": ("snapshot.loads_per_op", "snapshot.load_s"),
    "writer": ("writer.calls", "writer.s"),
    "operators.build": (None, "build_s"),
    "artifact_cache.train": (None, "artifact_cache.train_s"),
}
_COUNTERS = [
    "fs.dirs_listed", "indexer.batches", "build_jobs", "catalyst.analysis_ms",
    "catalyst.optimization_ms", "catalyst.planning_ms", "exec.jobs", "exec.stages",
    "exec.tasks", "exec.failed_tasks", "python.nodes", "python.rows", "python.bytes",
    "artifact_cache.hits", "artifact_cache.misses",
]


def layer_metrics(ops: list[dict], spans: list[dict]) -> dict[str, float]:
    """Every ``PER_LAYER`` metric except the two the run itself supplies
    (``trace.overhead_share``, ``materialise_vs_count``)."""
    n = max(len(ops), 1)
    calls, secs = defaultdict(float), defaultdict(float)
    by_trace = defaultdict(list)
    for s in spans:
        calls[s["layer"]] += 1
        secs[s["layer"]] += s["end"] - s["start"]
        by_trace[s["trace"]].append(s)
    counters = defaultdict(float)
    for op in ops:
        for key, value in op["counters"].items():
            counters[key] += value
    out = {}
    for layer, (calls_name, secs_name) in _SPAN_METRICS.items():
        if calls_name:
            out[calls_name] = calls[layer] / n
        if secs_name:
            out[secs_name] = secs[layer] / n
    for key in _COUNTERS:
        out[key] = counters[key] / n
    out["fs.useful_ratio"] = (
        counters["indexer.batches"] / counters["fs.dirs_listed"]
        if counters["fs.dirs_listed"] else 0.0
    )
    out["deltalog.log_bytes_per_file"] = (
        counters["deltalog.log_bytes"] / counters["deltalog.log_files"]
        if counters["deltalog.log_files"] else 0.0
    )
    out["snapshot.json_tail"] = (
        calls["snapshot.json"] / calls["snapshot"] if calls["snapshot"] else 0.0
    )
    out["exec.files_per_task"] = (
        counters["scan.files"] / counters["exec.tasks"] if counters["exec.tasks"] else 0.0
    )
    exec_s = uncovered = total = 0.0
    for op in ops:
        own = by_trace[op["trace"]]
        jobs = [(s["start"], s["end"]) for s in own if s["layer"] == "spark.exec"]
        exec_s += _union(jobs, op["start"], op["end"])
        layer_spans = [(s["start"], s["end"]) for s in own if s["layer"] != "op"]
        uncovered += op["end"] - op["start"] - _union(layer_spans, op["start"], op["end"])
        total += op["end"] - op["start"]
    out["exec_s"] = exec_s / n
    out["trace.unattributed_share"] = uncovered / total if total else 0.0
    return out


def load(path: str) -> tuple[dict, list[dict], list[dict]]:
    header, ops, spans = {}, [], []
    with open(path, encoding="utf-8") as f:
        for line in f:
            rec = json.loads(line)
            kind = rec.pop("type")
            if kind == "run":
                header = rec
            elif kind == "op":
                ops.append(rec)
            else:
                spans.append(rec)
    return header, ops, spans


def main(paths: list[str]) -> int:
    if not paths:
        print(__doc__.strip(), file=sys.stderr)
        return 2
    rows = []
    for path in paths:
        header, ops, spans = load(path)
        n = max(len(ops), 1)
        self_s = {k: v / n for k, v in self_times(spans).items()}
        rows.append((header.get("workload", path), self_s, header.get("per_layer", {})))
    layers = sorted({k for _, s, _ in rows for k in s})
    width = max(len(w) for w, _, _ in rows) + 2
    print("self time per traced operation, s (op = covered by no layer span)")
    print("workload".ljust(width) + "".join(f"{lay[:16]:>17}" for lay in layers))
    for workload, s, _ in rows:
        print(workload.ljust(width) + "".join(f"{s.get(lay, 0.0):17.4f}" for lay in layers))
    print("\ncounts and ratios")
    names = list(PER_LAYER)
    for i in range(0, len(names), 6):
        chunk = names[i : i + 6]
        print("workload".ljust(width) + "".join(f"{c[-24:]:>26}" for c in chunk))
        for workload, _, metrics in rows:
            print(workload.ljust(width)
                  + "".join(f"{metrics.get(c, 0.0):26.4f}" for c in chunk))
        print()
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
