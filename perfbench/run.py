"""Benchmark entry point.

    python3 perfbench/run.py --workload cda_sync --seed 1 --seconds 15 --trace 0

Run from the root of a checkout of the repository.  One process runs
one workload: it generates the workload's inputs from ``--seed`` under
``.perfbench_run/`` (deleted when the run ends), starts Spark on
``local[<cores>]``, warms up, then measures closed-loop passes for
``--seconds`` (a first pass on fresh data, then warm passes) and checks
every output.  The last line of standard output is one JSON object:

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

With ``--trace 0`` the metrics are the end-to-end ones; with
``--trace 1`` they are the per-layer ones, and the run's spans are
written to ``.perfbench_out/trace-<workload>-<seed>.jsonl`` for
``perfbench/report.py``.  Any wrong output makes ``correct`` false and
the exit code 1.
"""

from __future__ import annotations

import time

_T_START = time.perf_counter()

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shlex  # noqa: E402
import shutil  # noqa: E402
import signal  # noqa: E402
import statistics  # noqa: E402
import subprocess  # noqa: E402
import sys  # noqa: E402
from pathlib import Path  # noqa: E402

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
WORKLOAD_NAMES = ["cda_sync", "query_mix"]


def tail(values: list[float]) -> tuple[float, float]:
    """(value, percentile) of the highest percentile with at least ten
    samples above it; the maximum when there are fewer than eleven."""
    xs = sorted(values)
    if len(xs) < 11:
        return xs[-1], 100.0
    k = len(xs) - 11
    return xs[k], 100.0 * (k + 1) / len(xs)


def cpu_steal() -> tuple[int, int]:
    """(steal, total) jiffies of all CPUs from /proc/stat: the share of
    time the hypervisor gave to other guests during a run explains
    slow outliers."""
    with open("/proc/stat", encoding="ascii") as f:
        fields = [int(x) for x in f.readline().split()[1:]]
    return (fields[7] if len(fields) > 7 else 0), sum(fields)


def _env(run_dir: Path) -> None:
    """Process environment the program and its Python workers need,
    set before the JVM starts so both inherit it."""
    for sub in ("tmp", "scratch", "spark-local", "warehouse"):
        (run_dir / sub).mkdir(parents=True, exist_ok=True)
    os.environ["PYTHONPATH"] = os.pathsep.join(
        [str(ROOT)] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p]
    )
    os.environ["SPARK_GRAFT_CPUS"] = str(len(os.sched_getaffinity(0)))
    os.environ["SPARK_GRAFT_SCRATCH_DIR"] = str(run_dir / "scratch")
    os.environ["SPARK_LOCAL_DIRS"] = str(run_dir / "spark-local")
    os.environ["SPARK_DRIVER_MEMORY"] = "2g"
    os.environ["TMPDIR"] = str(run_dir / "tmp")
    os.environ["SPARK_LAUNCHER_OPTS"] = "-XX:-UsePerfData"  # spark-submit's launcher JVM
    # -Xms equal to the 2 GB -Xmx: with a growing heap, peak RSS varied by
    # a quarter from run to run with when the JVM chose to grow it.
    os.environ["PYSPARK_SUBMIT_ARGS"] = " ".join([
        "--driver-java-options",
        shlex.quote(f"-Djava.io.tmpdir={run_dir / 'tmp'} -XX:-UsePerfData -Xms2g -XX:+AlwaysPreTouch"),
        "--conf", shlex.quote(f"spark.sql.warehouse.dir={run_dir / 'warehouse'}"),
        "pyspark-shell",
    ])
    sys.path[:0] = [str(ROOT), str(ROOT / "tools"), str(HERE)]


def _stop_spark(spark) -> None:
    from pyspark import SparkContext

    spark.stop()
    gateway = SparkContext._gateway
    if gateway is not None:
        gateway.shutdown()
        proc = getattr(gateway, "proc", None)
        if proc is not None:
            proc.stdin.close()  # the JVM exits when its stdin closes
            try:
                proc.wait(timeout=60)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait()


def end_to_end(ctx, setup_s: float, rss_mb: float) -> tuple[dict, dict]:
    """(the end-to-end metrics, a detail record with the per-kind
    medians and tails and their sample counts).

    cda_sync: ``first_pass_s`` is the initial index, ``pass_s`` the
    median freshness (sync + read-back) of a round, ``write_s`` its
    median sync, ``read_s`` its median read-back.  query_mix:
    ``first_pass_s`` is the LLM operators' pass with an empty artifact
    cache, ``pass_s`` the median warm pass, ``read_s``/``write_s`` the
    median over warm passes of the time a pass spends in its analytical
    read / Delta write queries.  ``pass_cpu_s`` is the CPU time of the
    whole process tree (harness, JVM, Python workers) over the timed
    intervals of a warm pass or round."""
    warm = [op for op in ctx.ops if op.pass_no > (0 if op.kind != "sync" else -1)
            and not op.traced]
    syncs = [op for op in warm if op.kind == "sync"]

    def per_pass(ops, seconds) -> list[float]:
        totals: dict[int, float] = {}
        for op in ops:
            totals[op.pass_no] = totals.get(op.pass_no, 0.0) + seconds(op)
        return list(totals.values())

    if syncs:
        reads = [op.freshness_s - op.seconds for op in syncs]
        writes = [op.seconds for op in syncs]
        read_s, write_s = statistics.median(reads), statistics.median(writes)
    else:
        reads = [op.seconds for op in warm if op.kind == "read"]
        writes = [op.seconds for op in warm if op.kind == "write"]
        read_s = statistics.median(
            per_pass([op for op in warm if op.kind == "read"], lambda op: op.seconds))
        write_s = statistics.median(
            per_pass([op for op in warm if op.kind == "write"], lambda op: op.seconds))
    untraced_passes = ctx.passes[0::2] if ctx.tracer is not None else ctx.passes
    metrics = {
        "setup_s": (setup_s, "s"),
        "first_pass_s": (ctx.first_pass_s, "s"),
        "pass_s": (statistics.median(untraced_passes), "s"),
        "pass_cpu_s": (statistics.median(per_pass(warm, lambda op: op.cpu_s)), "s"),
        "read_s": (read_s, "s"),
        "write_s": (write_s, "s"),
        "peak_rss_mb": (rss_mb, "MB"),
    }
    detail = {"passes": len(ctx.passes), "attempted": ctx.attempted,
              "failed_share": ctx.failed / max(ctx.attempted, 1)}
    series = {"read": reads, "write": writes,
              "freshness": [op.freshness_s for op in syncs]}
    for kind in ("llm", "sync"):
        series[kind] = [op.seconds for op in warm if op.kind == kind]
    series["op"] = [op.seconds for op in warm]
    for kind, xs in series.items():
        if xs:
            detail[f"{kind}_p50_s"] = statistics.median(xs)
            detail[f"{kind}_tail_s"], detail[f"{kind}_tail_pct"] = tail(xs)
            detail[f"{kind}_n"] = len(xs)
    return {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()}, detail


def per_layer(ctx, workload) -> tuple[dict, dict]:
    """(the per-layer metrics, the count-vs-materialise record)."""
    from report import PER_LAYER, layer_metrics

    tr = ctx.tracer
    values = layer_metrics(tr.ops, [vars(s) for s in tr.spans])
    # Tracing overhead: traced vs untraced warm passes of the same run,
    # matched per operation name.
    by_name: dict[str, dict[bool, list[float]]] = {}
    for op in ctx.ops:
        if op.kind == "sync" or op.pass_no > 0:
            key = "round" if op.kind == "sync" else op.name
            by_name.setdefault(key, {}).setdefault(op.traced, []).append(
                op.freshness_s or op.seconds)
    ratios = [
        statistics.median(v[True]) / statistics.median(v[False])
        for v in by_name.values() if v.get(True) and v.get(False)
    ]
    values["trace.overhead_share"] = statistics.median(ratios) - 1.0 if ratios else 0.0
    record = workload.count_vs_materialise()
    values["materialise_vs_count"] = (
        sum(r["materialise_s"] for r in record.values())
        / sum(r["count_s"] for r in record.values())
    )
    return {k: {"value": values[k], "unit": u} for k, u in PER_LAYER.items()}, record


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOAD_NAMES)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--corrupt-expected", metavar="NAME",
                    help="self-test of the output checks: make the expected result "
                         "of query (or CDA table) NAME wrong, so the run must fail")
    args = ap.parse_args()
    # A terminated run still stops Spark and deletes its run directory.
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))

    missing = [p for p in ("guidewire_spark/__init__.py", "tools/check_oracles.py")
               if not (ROOT / p).is_file()]
    if missing:
        print(f"perfbench: not a checkout of the repository, missing {missing}",
              file=sys.stderr)
        return 2

    run_dir = ROOT / ".perfbench_run" / f"{args.workload}-{args.seed}-{os.getpid()}"
    out_dir = ROOT / ".perfbench_out"
    _env(run_dir)
    spark = None
    try:
        import workloads
        from guidewire_spark.plans.session import get_spark

        traced = bool(args.trace)
        spark = get_spark(app_name=f"perfbench-{args.workload}")
        spark.sparkContext.setLogLevel("ERROR")
        tracer = layers = None
        if traced:
            import spans

            tracer, layers = spans.Tracer(), spans.SparkLayers(spark)
        ctx = workloads.Context(spark, str(run_dir), args.seed, tracer, layers)
        if traced:
            spans.install(tracer)
        workload = workloads.WORKLOADS[args.workload](ctx)
        workload.write_inputs()
        workload.warm_up()
        setup_s = time.perf_counter() - _T_START

        workload.prepare_checks()
        if args.corrupt_expected:
            workload.corrupt(args.corrupt_expected)
        steal0 = cpu_steal()
        workloads.measure(workload, args.seconds, traced)
        steal1 = cpu_steal()

        from spans import peak_rss_mb

        rss = peak_rss_mb([os.getpid(), spark.sparkContext._gateway.proc.pid])
        metrics, detail = end_to_end(ctx, setup_s, rss)
        detail.update({k: v["value"] for k, v in metrics.items()})
        detail["cpu_steal_share"] = (steal1[0] - steal0[0]) / max(steal1[1] - steal0[1], 1)
        print("# detail " + json.dumps(detail), file=sys.stderr)
        if traced:
            metrics, counts = per_layer(ctx, workload)
            header = {"workload": args.workload, "seed": args.seed, "detail": detail,
                      "count_vs_materialise": counts,
                      "per_layer": {k: v["value"] for k, v in metrics.items()}}
            path = out_dir / f"trace-{args.workload}-{args.seed}.jsonl"
            tracer.write_jsonl(str(path), header)
            print(f"# trace written to {path}", file=sys.stderr)
    finally:
        if spark is not None:
            _stop_spark(spark)
        shutil.rmtree(run_dir, ignore_errors=True)
        try:
            run_dir.parent.rmdir()
        except OSError:
            pass

    print(json.dumps({"correct": ctx.failed == 0, "attempted": ctx.attempted,
                      "failed": ctx.failed, "metrics": metrics}))
    return 0 if ctx.failed == 0 else 1


if __name__ == "__main__":
    sys.exit(main())
