"""Span tracing for the benchmark's traced run.

Spans are recorded from the benchmark's own code only: ``install``
replaces public functions of the connector's modules with timing
wrappers *at every name a caller looks them up by* (a module that did
``from guidewire_spark.sources.fs import list_parquet_files`` holds its
own reference, so that reference is replaced too).  Nothing under
``guidewire_spark/`` is edited.

Spark-side layers are read after each operation through public Spark
APIs: the operation's job group (``statusTracker`` plus the status
store's job records), the DataFrame's ``QueryExecution.tracker`` phase
times, and the SQL status store's per-node metrics.

Every span has a name, a layer, start/end (epoch seconds), a parent
span id and the trace id of the operation it belongs to.  Spans stay
in memory until ``write_jsonl`` at the end of the run.
"""

from __future__ import annotations

import contextlib
import functools
import itertools
import json
import os
import re
import sys
import threading
import time
from collections import defaultdict
from dataclasses import asdict, dataclass


@dataclass
class Span:
    trace: int
    id: int
    parent: int | None
    name: str
    layer: str
    start: float
    end: float = 0.0
    thread: int = 0


class Tracer:
    """Collects spans and counters.  One operation at a time (the
    workloads are single-client closed loops); spans opened on other
    threads with no open parent attach to the operation's root span."""

    def __init__(self) -> None:
        self.enabled = False
        self.spans: list[Span] = []
        self.ops: list[dict] = []
        self._ids = itertools.count(1)
        self._local = threading.local()
        self._lock = threading.Lock()
        self._root: Span | None = None
        self._kind = ""
        self._current: list[Span] = []  # closed spans of the open operation
        self.counters: dict[str, float] = defaultdict(float)

    # -- operations -------------------------------------------------------
    def begin_op(self, name: str, kind: str) -> Span:
        trace_id = next(self._ids)
        self._root = Span(trace_id, trace_id, None, name, "op", time.time(),
                          thread=threading.get_ident())
        self._kind = kind
        self.counters = defaultdict(float)
        return self._root

    def end_op(self, extra: dict | None = None) -> dict:
        root = self._root
        root.end = time.time()
        self._root = None
        with self._lock:
            self.spans.extend(self._current)
            self.spans.append(root)
            self._current = []
        record = {"trace": root.trace, "name": root.name, "kind": self._kind,
                  "start": root.start, "end": root.end, "counters": dict(self.counters)}
        if extra:
            record.update(extra)
        self.ops.append(record)
        return record

    def count(self, key: str, n: float = 1) -> None:
        with self._lock:
            self.counters[key] += n

    # -- spans ------------------------------------------------------------
    def _stack(self) -> list[Span]:
        stack = getattr(self._local, "stack", None)
        if stack is None:
            stack = self._local.stack = []
        return stack

    def inside(self, layer: str) -> bool:
        return any(s.layer == layer for s in self._stack())

    def open(self, name: str, layer: str) -> Span | None:
        if not self.enabled or self._root is None:
            return None
        stack = self._stack()
        parent = stack[-1].id if stack else self._root.id
        span = Span(self._root.trace, next(self._ids), parent, name, layer,
                    time.time(), thread=threading.get_ident())
        stack.append(span)
        return span

    def close(self, span: Span | None) -> None:
        if span is None:
            return
        span.end = time.time()
        self._stack().pop()
        with self._lock:
            self._current.append(span)

    @contextlib.contextmanager
    def span(self, name: str, layer: str):
        """Span around a block; nothing when tracing is off."""
        span = self.open(name, layer)
        try:
            yield span
        finally:
            self.close(span)

    def add_span(self, name: str, layer: str, start: float, end: float) -> None:
        """Record a span measured elsewhere (a Spark job) under the
        deepest open-or-closed span of this operation that contains it."""
        root = self._root
        parent = root.id
        best = None
        for s in self._current:
            if s.thread == root.thread and s.start <= start and end <= s.end + 1e-3:
                if best is None or s.end - s.start < best.end - best.start:
                    best = s
        if best is not None:
            parent = best.id
        with self._lock:
            self._current.append(Span(root.trace, next(self._ids), parent, name, layer,
                                      start, end))

    def wrap(self, fn, layer: str, after=None, outermost: bool = False):
        """Timing wrapper for ``fn``.  ``after(tracer, args, kwargs,
        result)`` records counters once the call returned;
        ``outermost`` skips nested calls within the same layer."""

        @functools.wraps(fn)
        def wrapper(*args, **kwargs):
            if not self.enabled or self._root is None or (
                outermost and self.inside(layer)
            ):
                return fn(*args, **kwargs)
            span = self.open(fn.__name__, layer)
            try:
                result = fn(*args, **kwargs)
            finally:
                self.close(span)
            if after is not None:
                after(self, args, kwargs, result)
            return result

        wrapper.__wrapped_by_perfbench__ = fn
        return wrapper

    def write_jsonl(self, path: str, header: dict) -> None:
        os.makedirs(os.path.dirname(path) or ".", exist_ok=True)
        with open(path, "w", encoding="utf-8") as f:
            f.write(json.dumps({"type": "run", **header}) + "\n")
            for op in self.ops:
                f.write(json.dumps({"type": "op", **op}) + "\n")
            for s in self.spans:
                f.write(json.dumps({"type": "span", **asdict(s)}) + "\n")


# ---------------------------------------------------------------------------
# Connector-layer wrappers


def _replace_everywhere(original, wrapper) -> int:
    """Point every module-level name bound to ``original`` inside the
    ``guidewire_spark`` package at ``wrapper``."""
    n = 0
    for mod_name, mod in list(sys.modules.items()):
        if mod is None or not mod_name.startswith("guidewire_spark"):
            continue
        for attr, value in list(vars(mod).items()):
            if value is original:
                setattr(mod, attr, wrapper)
                n += 1
    return n


def _count_dirs(tr, args, kwargs, result):
    tr.count("fs.dirs_listed", len(result))


def _count_batches(tr, args, kwargs, result):
    tr.count("indexer.batches", len(result))


def _count_commit(tr, args, kwargs, result):
    actions = args[2] if len(args) > 2 else kwargs.get("actions", [])
    tr.count("deltalog.log_bytes", os.path.getsize(result))
    tr.count("deltalog.log_files", sum(1 for a in actions if "add" in a))


# Public functions of ``sources.writer`` that only read table state; the
# writer layer is the operations that commit.
_WRITER_READS = {
    "table_configuration", "table_constraints", "table_generated_columns",
    "last_txn_version", "clustering_columns", "table_detail", "table_history",
}


def install(tracer: Tracer) -> int:
    """Wrap the connector's public entry points; returns how many
    names were replaced.  Must run after the registry imported every
    operator module."""
    from guidewire_spark.plans import artifact_cache
    from guidewire_spark.sources import (
        checkpoints, deltalog, fs, indexer, log_checkpoint, manifest, schema,
        snapshot, writer,
    )

    targets = [
        (manifest.read_manifest, "manifest", None, False),
        (fs.list_timestamp_dirs, "fs", _count_dirs, False),
        (fs.list_parquet_files, "fs", None, False),
        (schema.infer_schema_from_files, "schema", None, False),
        (schema._footer, "schema.footer", None, False),
        (indexer.discover_batches, "indexer.discover", _count_batches, False),
        (indexer.commit_batches, "indexer.commit", None, False),
        (deltalog.write_commit, "deltalog", _count_commit, False),
        (log_checkpoint.write_log_checkpoint, "log_checkpoint", None, False),
        (checkpoints.load_checkpoints, "checkpoints.load", None, False),
        (checkpoints.save_checkpoints, "checkpoints.save", None, False),
        (snapshot.load_snapshot, "snapshot", None, True),
        (snapshot._read_commit, "snapshot.json", None, False),
    ]
    targets += [
        (fn, "writer", None, True)
        for name, fn in vars(writer).items()
        if callable(fn) and not name.startswith("_") and name not in _WRITER_READS
        and getattr(fn, "__module__", "") == writer.__name__
    ]
    replaced = 0
    for fn, layer, after, outermost in targets:
        replaced += _replace_everywhere(fn, tracer.wrap(fn, layer, after, outermost))

    real_get_or_train = artifact_cache.get_or_train

    def get_or_train(name, key, train):
        if tracer.enabled and tracer._root is not None and key is not None:
            tracer.count(
                "artifact_cache.hits" if artifact_cache.has(name, key)
                else "artifact_cache.misses"
            )
        return real_get_or_train(name, key, tracer.wrap(train, "artifact_cache.train"))

    replaced += _replace_everywhere(real_get_or_train, get_or_train)
    return replaced


# ---------------------------------------------------------------------------
# Spark-side layers

_PY_NODE = re.compile(r"Python|Pandas|InArrow")
_UNITS = {"B": 1, "KiB": 1 << 10, "MiB": 1 << 20, "GiB": 1 << 30, "TiB": 1 << 40,
          "ms": 1e-3, "s": 1.0, "min": 60.0, "h": 3600.0, "ns": 1e-9}


def metric_number(text: str) -> float:
    """First total in a formatted SQL metric ("3.8 KiB", "50",
    "total (min, med, max ...)\\n1.2 MiB (...)")."""
    line = text.split("\n", 1)[1] if "\n" in text else text
    m = re.match(r"\s*(-?[\d.,]+)\s*([A-Za-z]+)?", line)
    if m is None:
        return 0.0
    value = float(m.group(1).replace(",", ""))
    return value * _UNITS.get(m.group(2) or "", 1.0)


class SparkLayers:
    """Reads jobs, stages, tasks, Catalyst phases and plan metrics for
    one operation's job group."""

    def __init__(self, spark) -> None:
        self.spark = spark
        self.sc = spark.sparkContext
        self.store = self.sc._jsc.sc().statusStore()
        self.sql_store = spark._jsparkSession.sharedState().statusStore()
        self._seen_exec = -1

    def job_ids(self, group: str) -> list[int]:
        return sorted(self.sc.statusTracker().getJobIdsForGroup(group))

    def jobs(self, ids: list[int]) -> list[dict]:
        out = []
        for jid in ids:
            jd = self.store.job(jid)
            sub, comp = jd.submissionTime(), jd.completionTime()
            out.append({
                "id": jid,
                "start": sub.get().getTime() / 1000.0 if sub.isDefined() else 0.0,
                "end": comp.get().getTime() / 1000.0 if comp.isDefined() else 0.0,
                "stages": jd.stageIds().size(),
                "tasks": jd.numTasks() - jd.numSkippedTasks(),
                "failed_tasks": jd.numFailedTasks(),
            })
        return out

    def catalyst_ms(self, df) -> dict[str, float]:
        out = {"analysis": 0.0, "optimization": 0.0, "planning": 0.0}
        phases = df._jdf.queryExecution().tracker().phases()
        it = phases.iterator()
        while it.hasNext():
            kv = it.next()
            if kv._1() in out:
                out[kv._1()] = float(kv._2().durationMs())
        return out

    def plan_metrics(self, job_ids: set[int]) -> dict[str, float]:
        """Python-node and scan metrics of every SQL execution that ran
        one of ``job_ids``."""
        out = defaultdict(float)
        executions = self.sql_store.executionsList()  # ascending execution id
        newest = self._seen_exec
        for i in range(executions.size() - 1, -1, -1):
            ex = executions.apply(i)
            eid = ex.executionId()
            if eid <= self._seen_exec:
                break
            newest = max(newest, eid)
            keys = ex.jobs().keys().iterator()
            ran = False
            while keys.hasNext():
                ran = int(keys.next()) in job_ids or ran
            if not ran:
                continue
            values = self.sql_store.executionMetrics(eid)
            nodes = self.sql_store.planGraph(eid).allNodes()
            for k in range(nodes.size()):
                node = nodes.apply(k)
                name = node.name()
                metrics = {}
                ms = node.metrics()
                for m in range(ms.size()):
                    metric = ms.apply(m)
                    v = values.get(metric.accumulatorId())
                    if v.isDefined():
                        metrics[metric.name()] = metric_number(v.get())
                if _PY_NODE.search(name):
                    out["python.nodes"] += 1
                    out["python.rows"] += metrics.get("number of output rows", 0.0)
                    out["python.bytes"] += sum(
                        v for key, v in metrics.items() if "Python" in key and "data" in key
                    )
                if name.startswith("Scan"):
                    out["scan.files"] += metrics.get("number of files read", 0.0)
        self._seen_exec = newest
        return dict(out)


_TICK = os.sysconf("SC_CLK_TCK")


def tree_cpu_seconds(root: int) -> float:
    """User + system CPU seconds of process ``root`` and all its
    descendants, including reaped children.  The guest kernel accounts
    time the hypervisor steals as steal, not to the process, so this
    stays steady when other guests load the host."""
    stats = {}
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat", encoding="ascii", errors="replace") as f:
                fields = f.read().rsplit(")", 1)[1].split()
        except OSError:
            continue
        # after "pid (comm)": state ppid ... utime(12) stime(13) cutime(14) cstime(15)
        stats[int(entry)] = (int(fields[1]), sum(int(x) for x in fields[11:15]))
    children = defaultdict(list)
    for pid, (ppid, _) in stats.items():
        children[ppid].append(pid)
    todo, total = [root], 0
    while todo:
        pid = todo.pop()
        total += stats.get(pid, (0, 0))[1]
        todo.extend(children[pid])
    return total / _TICK


def peak_rss_mb(pids: list[int]) -> float:
    """Sum of VmHWM (peak resident set) over ``pids``."""
    total_kb = 0
    for pid in pids:
        try:
            with open(f"/proc/{pid}/status", encoding="ascii") as f:
                for line in f:
                    if line.startswith("VmHWM:"):
                        total_kb += int(line.split()[1])
        except OSError:
            continue
    return total_kb / 1024.0
