"""The workloads.  Each is a closed loop with one client: the next
operation starts when the previous one has returned and its output
has been checked.

* ``cda_sync`` — the connector's own job: a full shallow-clone index
  of a CDA tree, then incremental sync rounds, each followed by a
  read-back of the tables it changed.  Metadata-bound: manifest,
  listing, schema sniffing, Delta log commits and checkpoints; Spark
  runs only the read-back.
* ``query_mix`` — the query surface over the connector's tables: the
  lakehouse reads and Delta writes, plus the LLM data-preparation
  operators (Python workers, eager DataFrame construction, the
  artifact cache), in a seeded order per pass.

A workload times only the program's work; generating inputs,
publishing the manifest and checking outputs happen between timed
intervals.
"""

from __future__ import annotations

import contextlib
import os
import shutil
import statistics
import sys
import time
import traceback
from dataclasses import dataclass

import numpy as np

import fixtures
from checks import OracleChecker, check_cda_table
from spans import tree_cpu_seconds

LAKEHOUSE_READS = [
    "agg_pricing_summary",
    "join_inner_fact_dim",
    "join_left_semi",
    "agg_count_distinct",
    "agg_rollup",
    "window_topk_per_group",
    "window_running_sum",
    "sql_q3_shipping_priority",
    "stream_tumbling_window",
]
# delta_log_checkpoint_replay is left out: it is the slowest write
# query, and the log-checkpoint layer it exercises already runs in every
# cda_sync round.
LAKEHOUSE_WRITES = [
    "delta_merge_upsert",
    "delta_optimize_roundtrip",
    "delta_dv_delete",
    "delta_stats_skipping_scan",
    "delta_partitioned_scan",
    "cda_time_travel",
]
# The LLM operators whose layers no other query in the mix covers: the
# projection Catalyst may prune under count(), the eager-build and
# persisted-diamond operators, and the artifact cache.  Four more would
# repeat shapes already here (dedup_exact_groups: aggregate;
# text_tfidf_topk: windowed top-k; similarity_topk_bruteforce and
# similarity_ann_ivf_fullprobe: cross join and a second artifact-cache
# user) and would not fit the time a benchmark run may take.
LLM_OPERATORS = [
    "text_fingerprint",
    "dedup_substring_trim",
    "mix_source_overlap_matrix",
    "vocab_bpe_encode_corpus",
]


@dataclass
class Op:
    """One timed operation."""

    name: str
    kind: str
    seconds: float
    pass_no: int
    freshness_s: float = 0.0
    cpu_s: float = 0.0  # CPU seconds of the whole process tree
    traced: bool = False


class OpScope:
    """One operation.  When traced, it tags the operation's Spark jobs
    with a job group, opens its root span, and on exit records the jobs
    as spans plus the Spark-side layer counters; untraced, it does
    nothing.  The body sets ``df`` (for Catalyst phases) and
    ``build_end`` when it has them."""

    def __init__(self, ctx: "Context", name: str, kind: str, traced: bool) -> None:
        self.ctx, self.name, self.kind, self.traced = ctx, name, kind, traced
        self.df = None
        self.build_end: float | None = None

    def __enter__(self) -> "OpScope":
        if not self.traced:
            return self
        tr = self.ctx.tracer
        self.group = f"perfbench-{len(tr.ops)}"
        self.ctx.spark.sparkContext.setJobGroup(self.group, self.name)
        tr.begin_op(self.name, self.kind)
        tr.enabled = True
        return self

    def __exit__(self, exc_type, exc, tb) -> None:
        if not self.traced:
            return
        ctx, tr = self.ctx, self.ctx.tracer
        tr.enabled = False
        ctx.spark.sparkContext.setLocalProperty("spark.jobGroup.id", None)
        jobs = ctx.layers.jobs(ctx.layers.job_ids(self.group))
        for job in jobs:
            if job["end"] > job["start"] > 0:
                tr.add_span(f"job {job['id']}", "spark.exec", job["start"], job["end"])
        counters = {
            "exec.jobs": len(jobs),
            "exec.stages": sum(j["stages"] for j in jobs),
            "exec.tasks": sum(j["tasks"] for j in jobs),
            "exec.failed_tasks": sum(j["failed_tasks"] for j in jobs),
            "build_jobs": sum(
                1 for j in jobs if self.build_end is not None and j["start"] <= self.build_end
            ),
        }
        counters.update(ctx.layers.plan_metrics({j["id"] for j in jobs}))
        if self.df is not None and exc is None:
            counters.update(
                {f"catalyst.{k}_ms": v for k, v in ctx.layers.catalyst_ms(self.df).items()}
            )
        for key, value in counters.items():
            tr.count(key, value)
        tr.end_op({"failed": exc is not None})


class Context:
    """What every workload shares: the session, the registry, where
    its files go, the tracer and the failure tally."""

    def __init__(self, spark, run_dir: str, seed: int, tracer=None, layers=None) -> None:
        from guidewire_spark.registry import all_queries

        self.spark = spark
        self.specs = all_queries()
        self.run_dir = run_dir
        self.seed = seed
        self.tracer = tracer  # None in untraced runs
        self.layers = layers
        self.rng = np.random.default_rng(seed)
        self.ops: list[Op] = []
        self.passes: list[float] = []
        self.first_pass_s = 0.0
        self.attempted = 0
        self.failed = 0

    def fail(self, message: str) -> None:
        """Count one failed operation (it raised or its output is wrong)."""
        self.failed += 1
        print(f"# FAILED {message}", file=sys.stderr, flush=True)

    @staticmethod
    def cpu() -> float:
        return tree_cpu_seconds(os.getpid())

    def operation(self, name: str, kind: str, traced: bool) -> OpScope:
        return OpScope(self, name, kind, traced)

    def span(self, name: str, layer: str):
        """A layer span when this operation is traced, else nothing."""
        return self.tracer.span(name, layer) if self.tracer else contextlib.nullcontext()


def measure(workload, seconds: float, traced_run: bool) -> None:
    """The closed loop: the workload's first pass on fresh data, then at
    least ``workload.min_passes`` warm passes, more until ``seconds``
    have gone by since the first pass started, and never more than
    ``workload.max_passes``.  In a traced run, warm passes alternate
    untraced/traced, so the tracing overhead can be read off the same
    run."""
    ctx = workload.ctx
    t0 = time.perf_counter()
    ctx.first_pass_s = workload.first_pass(traced=traced_run)
    need = max(workload.min_passes, 2 if traced_run else 1)
    while len(ctx.passes) < need or (
        time.perf_counter() - t0 < seconds and len(ctx.passes) < workload.max_passes
    ):
        trace_this = traced_run and len(ctx.passes) % 2 == 1
        ctx.passes.append(workload.warm_pass(traced=trace_this))


# ---------------------------------------------------------------------------
# Registry-query workloads


class QueryMix:
    """Runs registry queries as ``fn(spark, sf_dir)`` (the build) plus
    ``toPandas()`` with Arrow (the materialisation, which evaluates every
    output column), and checks that same frame against the DuckDB
    oracle.

    Set-up ends with one untimed pass over the whole mix, the process's
    cold pass (JIT and whole-stage-codegen compilation, the first
    Python workers, artifact training).  It counts in ``setup_s``.  A second warm-up pass made the timed passes
    10-15% faster, as the JIT went on compiling, but not steadier from
    run to run, and cost 12 s per run.  The timed first pass then
    clears the artifact cache and runs the LLM operators alone: their
    first pass over a corpus whose artifacts are not trained yet, on a
    warm JVM.  Warm passes run the whole mix."""

    name = "query_mix"
    queries = LAKEHOUSE_READS + LAKEHOUSE_WRITES + LLM_OPERATORS
    scale = 0.01
    min_passes = 1
    max_passes = 100

    def __init__(self, ctx: Context) -> None:
        self.ctx = ctx
        self.sf_dir = os.path.join(ctx.run_dir, "data", "bench")
        self.checker: OracleChecker | None = None
        self.unchecked: list[tuple[str, object]] = []  # warm-up outputs
        self.pass_no = -1  # the warm-up pass; the first timed pass is 0

    @staticmethod
    def kind(query: str) -> str:
        if query in LAKEHOUSE_WRITES:
            return "write"
        return "llm" if query in LLM_OPERATORS else "read"

    def write_inputs(self) -> None:
        fixtures.write_tables(self.sf_dir, self.scale, self.ctx.seed)

    def warm_up(self) -> None:
        """The cold pass over the whole mix; its outputs are checked by
        ``prepare_checks``, after set-up."""
        self.warm_pass()

    def prepare_checks(self) -> None:
        self.checker = OracleChecker(self.sf_dir)
        for q in self.queries:
            self.checker.expected(q, self.ctx.specs[q].oracle)
        for q, frame in self.unchecked:
            self._check(q, frame)
        self.unchecked.clear()

    def _check(self, q: str, frame) -> None:
        problem = self.checker.check(q, self.ctx.specs[q].oracle, frame)
        if problem is not None:
            self.ctx.fail(problem)

    def corrupt(self, name: str) -> None:
        self.checker.corrupt(name)

    def run_query(self, q: str, traced: bool) -> float:
        """Build + materialise ``q`` once and check the frame; returns
        the timed interval."""
        from guidewire_spark.operators.twophase import clear_two_phase_pins

        ctx = self.ctx
        ctx.attempted += 1
        clear_two_phase_pins()  # release the previous query's pins
        try:
            cpu0 = ctx.cpu()
            with ctx.operation(q, self.kind(q), traced) as scope:
                t0 = time.perf_counter()
                with ctx.span(q, "operators.build"):
                    df = ctx.specs[q].fn(ctx.spark, self.sf_dir)
                t1 = time.perf_counter()
                scope.build_end = time.time()
                with ctx.span("toPandas", "spark.collect"):
                    frame = df.toPandas()
                t2 = time.perf_counter()
                scope.df = df
            cpu1 = ctx.cpu()
        except Exception:
            ctx.fail(f"{q}: raised\n{traceback.format_exc(limit=6)}")
            return 0.0
        ctx.ops.append(Op(q, self.kind(q), t2 - t0, self.pass_no, cpu_s=cpu1 - cpu0,
                          traced=traced))
        print(f"# pass {self.pass_no} {q}: build {t1 - t0:.3f} s, total {t2 - t0:.3f} s",
              file=sys.stderr, flush=True)
        if self.checker is None:
            self.unchecked.append((q, frame))
        else:
            self._check(q, frame)
        return t2 - t0

    def _pass(self, queries: list[str], traced: bool) -> float:
        """One pass over ``queries`` in a seeded order; returns its time
        (the sum of its operations' timed intervals)."""
        order = [queries[i] for i in self.ctx.rng.permutation(len(queries))]
        total = sum(self.run_query(q, traced) for q in order)
        self.pass_no += 1
        return total

    def warm_pass(self, traced: bool = False) -> float:
        return self._pass(self.queries, traced)

    def first_pass(self, traced: bool = False) -> float:
        """The LLM operators with an empty artifact cache."""
        from guidewire_spark.plans import artifact_cache

        artifact_cache.clear()
        return self._pass(LLM_OPERATORS, traced)

    def count_vs_materialise(self) -> dict[str, dict[str, float]]:
        """Per query: the median warm build + ``toPandas()`` of this run
        against one build + ``count()``, the shape the older ``bench.py``
        series timed (Catalyst may prune what ``count()`` never reads)."""
        from guidewire_spark.operators.twophase import clear_two_phase_pins

        record = {}
        for q in self.queries:
            mat = statistics.median(
                op.seconds for op in self.ctx.ops if op.name == q and op.pass_no > 0)
            clear_two_phase_pins()
            t0 = time.perf_counter()
            self.ctx.specs[q].fn(self.ctx.spark, self.sf_dir).count()
            count = time.perf_counter() - t0
            record[q] = {"materialise_s": mat, "count_s": count, "ratio": mat / count}
        return record


# ---------------------------------------------------------------------------
# CDA sync


class CdaSync:
    """Full index, then sync rounds.  A round writes and publishes new
    folders for some tables (untimed), runs ``index(append)`` (the
    sync) and reads every changed table back through ``read_delta``,
    materialising its row count and key sum in one Spark action; sync
    plus read-back is the freshness time.

    The shape of the work is the same for every seed, so runs with
    different seeds are comparable: 16 tables of 4 to 16 initial
    folders, and 10 rounds of 2 new folders in each of 4 tables.  Half
    the tables change schema within their initial folders, the other
    half after them, so some schema upgrades happen during the rounds.
    Tables are picked with Zipf weights, so some get many folders and
    others few, and the busiest tables are the longest.  Which ranks
    each round holds, and the order of the rounds, are fixed: with the
    seed choosing them, the median round differed from seed to seed by
    a third.  The seed decides which table plays which rank, the row
    data and how each folder is split into files."""

    name = "cda_sync"
    scale = 0.01
    # A fixed number of rounds: every round leaves the tree larger, so a
    # time-bounded loop would give a faster commit bigger (slower) rounds.
    min_passes = max_passes = 10
    initial_repeats = 9
    n_tables = 16
    tables_per_round = 4
    folders_per_round_table = 2
    rows_per_folder = 200

    def __init__(self, ctx: Context) -> None:
        self.ctx = ctx
        self.db = os.path.join(ctx.run_dir, "delta")
        self.tree: fixtures.CdaTree | None = None
        self.round_no = 0
        self.last_round: list[str] = []
        # rank r = the table with the r-th largest share of the rounds
        n = self.n_tables
        rank_of = ctx.rng.permutation(n)  # table i plays rank rank_of[i]
        sizes = [16 - round(12 * r / (n - 1)) for r in range(n)]
        self.layout = [
            (sizes[r], sizes[r] * 3 // 5 if r % 2 else sizes[r] + 1 + r % 4)
            for r in rank_of
        ]
        self.schedule = self._schedule(rank_of)

    def _schedule(self, rank_of: np.ndarray) -> list[list[str]]:
        """Table names per round: rank r appears in ``picks[r]`` rounds
        (Zipf shares of all picks, at most once per round), spread so
        every round has ``tables_per_round`` tables."""
        rounds, k = self.max_passes, self.tables_per_round
        shape = np.random.default_rng(0)  # the same rounds for every seed
        weights = 1.0 / np.arange(1, self.n_tables + 1)
        picks = np.minimum(np.floor(rounds * k * weights / weights.sum()), rounds).astype(int)
        for r in [r for r in range(self.n_tables) if picks[r] < rounds][: rounds * k - picks.sum()]:
            picks[r] += 1
        table_of_rank = {int(r): f"cda_t{i:02d}" for i, r in enumerate(rank_of)}
        members: list[list[str]] = [[] for _ in range(rounds)]
        for r in range(self.n_tables):
            order = sorted(range(rounds), key=lambda j: (len(members[j]), shape.random()))
            for j in order[: picks[r]]:
                members[j].append(table_of_rank[r])
        return [sorted(members[j]) for j in shape.permutation(rounds)]

    def write_inputs(self) -> None:
        orders = fixtures.build_tables(self.scale, self.ctx.seed)["orders"]
        self.tree = fixtures.CdaTree(
            os.path.join(self.ctx.run_dir, "data", "cda"), orders, self.layout,
            self.rows_per_folder, self.ctx.seed,
        )

    def warm_up(self) -> None:
        """Index the tree into a throw-away Delta root and read every
        table back, so that the JVM has compiled the read-back's plans
        before the timed rounds; the cost counts in ``setup_s``."""
        from guidewire_spark.sources import index

        db = os.path.join(self.ctx.run_dir, "delta-warm-up")
        index(self.tree.manifest_path, db, save_mode="overwrite")
        self.read_back(list(self.tree.tables), db)
        shutil.rmtree(db)

    def prepare_checks(self) -> None:
        pass

    def corrupt(self, name: str) -> None:
        tbl = self.tree.tables[name]
        ts = tbl.folders[-1]
        n, keys = tbl.rows[ts]
        tbl.rows[ts] = (n, keys + 1)

    def _union(self, names: list[str], per_table, db: str | None = None):
        from pyspark.sql import functions as F

        from guidewire_spark.sources import read_delta

        frames = [
            per_table(read_delta(self.ctx.spark, os.path.join(db or self.db, n)))
            .withColumn("t", F.lit(n))
            for n in names
        ]
        df = frames[0]
        for f in frames[1:]:
            df = df.unionByName(f)
        return df

    def read_back(self, names: list[str], db: str | None = None) -> dict[str, tuple[int, int]]:
        """Row count and key sum of each table's latest snapshot, as one
        Spark action over the union of per-table aggregates."""
        from pyspark.sql import functions as F

        df = self._union(names, lambda d: d.agg(
            F.count(F.lit(1)).alias("n"), F.sum("o_orderkey").alias("keys")), db)
        return {r["t"]: (int(r["n"]), int(r["keys"] or 0)) for r in df.collect()}

    def _check(self, names: list[str], got: dict[str, tuple[int, int]]) -> None:
        from guidewire_spark.sources.checkpoints import load_checkpoints

        high = load_checkpoints(self.db)
        problems = [
            problem
            for n in names
            for problem in check_cda_table(
                self.tree.tables[n], os.path.join(self.db, n), high.get(n),
                got.get(n, (-1, -1)),
            )
        ]
        if problems:
            self.ctx.fail("\n  ".join(problems))

    def first_pass(self, traced: bool = False) -> float:
        """The initial shallow clone, ``index(save_mode="overwrite")``,
        run ``initial_repeats`` times (each rebuilds every log from
        scratch); returns the median.  The index runs one Python thread
        per table, and a stall of the thread holding the interpreter lock
        stalls them all, so single runs vary with the host's load far
        more than the work does.  Every table is then read back and
        checked (untimed)."""
        from guidewire_spark.sources import index

        ctx = self.ctx
        times = []
        for _ in range(self.initial_repeats):
            ctx.attempted += 1
            try:
                with ctx.operation("initial_index", "index", traced):
                    t0 = time.perf_counter()
                    index(self.tree.manifest_path, self.db, save_mode="overwrite")
                    times.append(time.perf_counter() - t0)
            except Exception:
                ctx.fail(f"initial index raised\n{traceback.format_exc(limit=6)}")
                return 0.0
            ctx.ops.append(Op("initial_index", "index", times[-1], -1, traced=traced))
        print(f"# initial index: {', '.join(f'{t:.3f}' for t in times)} s",
              file=sys.stderr, flush=True)
        names = list(self.tree.tables)
        self._check(names, self.read_back(names))
        return statistics.median(times)

    def warm_pass(self, traced: bool = False) -> float:
        """One sync round; returns its freshness time."""
        from guidewire_spark.sources import index

        ctx = self.ctx
        names = self.schedule[self.round_no]
        for n in names:
            self.tree.add_folders(n, self.folders_per_round_table)
        self.tree.write_manifest()
        ctx.attempted += 1
        try:
            cpu0 = ctx.cpu()
            with ctx.operation(f"round {self.round_no}", "sync", traced):
                t0 = time.perf_counter()
                index(self.tree.manifest_path, self.db, save_mode="append")
                t1 = time.perf_counter()
                with ctx.span("read_back", "spark.collect"):
                    got = self.read_back(names)
                t2 = time.perf_counter()
            cpu1 = ctx.cpu()
        except Exception:
            ctx.fail(f"sync round {self.round_no} raised\n{traceback.format_exc(limit=6)}")
            return 0.0
        ctx.ops.append(Op(f"round {self.round_no}", "sync", t1 - t0, self.round_no,
                          freshness_s=t2 - t0, cpu_s=cpu1 - cpu0, traced=traced))
        print(f"# round {self.round_no}: sync {t1 - t0:.3f} s, freshness {t2 - t0:.3f} s",
              file=sys.stderr, flush=True)
        self.round_no += 1
        self.last_round = names
        self._check(names, got)
        return t2 - t0

    def count_vs_materialise(self) -> dict[str, dict[str, float]]:
        """The median read-back of this run against the last round's
        read-back as one ``count()`` over the union."""
        mat = statistics.median(
            op.freshness_s - op.seconds for op in self.ctx.ops if op.kind == "sync")
        t0 = time.perf_counter()
        self._union(self.last_round, lambda d: d.select("o_orderkey")).count()
        count = time.perf_counter() - t0
        return {"read_back": {"materialise_s": mat, "count_s": count, "ratio": mat / count}}


WORKLOADS = {"cda_sync": CdaSync, "query_mix": QueryMix}
