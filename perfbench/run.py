"""The repository's benchmark: one command per workload and seed.

    python3 perfbench/run.py --workload series_reads --seed 1 \
        --seconds 15 --trace 0

Run from the repository root. The command generates its inputs from
the seed, starts one Spark session on ``local[<nproc>]``, loads and
warms up the workload, then runs it as a closed loop with one client
for ``--seconds`` seconds' worth of operations: a fixed count,
``ceil(seconds / OP_SECONDS)`` (at least ``MIN_OPS``), so that two
commits compared at the same settings run the same operations. It
checks every output and prints two lines: a ``perfbench-report``
line with the environment, the input sizes and the workload's own
named metrics, then the result object. ``--trace 1`` traces one
operation of every pair and reports the per-layer metrics and the tracing
overhead in place of the end-to-end metrics. Exit code 1 means an
output check failed; 2 means the program could not be imported.

``perfbench/README.md`` defines the workloads and every metric.
"""

from __future__ import annotations

import argparse
import json
import math
import os
import platform
import shutil
import statistics
import subprocess
import sys
import tempfile
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORKLOADS = ("series_reads", "ingest_cycles", "corpus_dedup")
LAYERS = ("api", "store", "daily_update", "incremental", "dedup", "text")


def _proc_kb(path: str, key: str) -> int:
    try:
        with open(path) as f:
            for line in f:
                if line.startswith(key):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


def _cpu_times() -> list[int]:
    """The machine's CPU time counters from ``/proc/stat``."""
    try:
        with open("/proc/stat") as f:
            return [int(x) for x in f.readline().split()[1:]]
    except (OSError, ValueError):
        return []


def steal_pct(t0: list[int], t1: list[int]) -> float:
    """Share of CPU time the hypervisor gave to other guests between
    two ``_cpu_times`` readings: run-to-run noise on a shared host."""
    if len(t0) < 8 or len(t1) < 8:
        return 0.0
    total = sum(t1) - sum(t0)
    return (t1[7] - t0[7]) / total * 100 if total else 0.0


class Bench:
    """What a workload shares with the runner: the session, the
    tracer, the seed, its directories and the check record."""

    def __init__(self, args, work: str):
        self.workload = args.workload
        self.seed = args.seed
        self.seconds = args.seconds
        self.trace = bool(args.trace)
        self.work = work
        self.inputs = os.path.join(work, "inputs")
        self.spark = None
        self.tracer = None
        self.failures: list[str] = []
        self.op_failed = False

    def check(self, ok, msg: str) -> bool:
        """Record one output check; a mismatch fails the current op."""
        if not ok:
            self.failures.append(msg)
            self.op_failed = True
            print(f"perfbench MISMATCH: {msg}", file=sys.stderr)
        return bool(ok)

    def span(self, name: str):
        return self.tracer.span(name)


def start_session(work: str, cpus: int):
    from pyspark.sql import SparkSession

    from aquacache_spark.session import configure

    builder = configure(
        SparkSession.builder.master(f"local[{cpus}]").appName("perfbench"))
    spark = (
        builder.config("spark.ui.showConsoleProgress", "false")
        .config("spark.sql.warehouse.dir", os.path.join(work, "warehouse"))
        # traced runs read job and stage counts back per job group at
        # the end of the run, so the status store keeps every job
        .config("spark.ui.retainedJobs", "100000")
        .config("spark.ui.retainedStages", "100000")
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_session(spark) -> None:
    """Stop Spark and the JVM it runs in, and wait for the JVM."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    spark.stop()
    if gateway is not None:
        gateway.shutdown()
    if proc is not None:
        if proc.stdin:
            proc.stdin.close()  # the gateway JVM exits on stdin EOF
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait(timeout=60)


def load_workload(bench: Bench):
    """A workload class has: ``OP`` (its op's span name), ``WARMUP``
    (ops run during set-up), ``MIN_OPS``, ``OP_SECONDS`` (nominal op
    time, which sets the op count), ``STOP_ON_FAILURE``,
    ``FINAL_CHECKS`` (end-of-run checks counted as ops), and the
    methods ``generate() -> input sizes``, ``setup()``,
    ``op(i) -> (seconds, items)``, ``finish() -> ops found wrong``,
    ``report(samples)`` and ``layers(traced samples)``."""
    if bench.workload == "series_reads":
        from reads import SeriesReads
        return SeriesReads(bench)
    if bench.workload == "ingest_cycles":
        from ingest import IngestCycles
        return IngestCycles(bench)
    from dedup import CorpusDedup
    return CorpusDedup(bench)


def run_ops(bench: Bench, wl, first: int, count: int,
            trace: bool) -> list[dict]:
    """Closed loop, one client: the next op starts when the previous
    one returns. With ``trace`` one op of every pair is traced, the
    first of even pairs and the second of odd ones, so traced and
    untraced ops sit at the same places on the warm-up curve."""
    samples = []
    for i in range(first, first + count):
        k = i - first
        traced = trace and k % 2 == (k // 2) % 2
        bench.tracer.enabled = traced
        bench.op_failed = False
        secs, items = 0.0, 0
        try:
            with bench.span(wl.OP):
                secs, items = wl.op(i)
        except Exception:
            traceback.print_exc()
            bench.check(False, f"{wl.OP} {i} raised")
        finally:
            bench.tracer.enabled = False
        samples.append({"i": i, "traced": traced, "s": secs, "items": items,
                        "failed": bench.op_failed})
        if bench.op_failed and wl.STOP_ON_FAILURE:
            break
    return samples


def measured_ops(wl, seconds: float) -> int:
    """Operations in a run: enough for ``seconds`` at the workload's
    nominal pace, and at least ``MIN_OPS``. A fixed count, not a
    deadline, so both commits of a comparison run the same operations
    (a deadline lets a slow run stop earlier in its warm-up curve)."""
    return max(wl.MIN_OPS, math.ceil(seconds / wl.OP_SECONDS))


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description="perfbench")
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    sys.path.insert(0, HERE)
    sys.path.insert(1, ROOT)
    try:
        import duckdb  # noqa: F401
        import pyspark  # noqa: F401

        import aquacache_spark.session  # noqa: F401
    except ImportError as exc:
        print(f"perfbench: cannot import the program: {exc}",
              file=sys.stderr)
        return 2

    cpus = os.cpu_count() or 1
    mem_kb = _proc_kb("/proc/meminfo", "MemTotal:")
    # the session's 24g default does not fit most machines: give the
    # driver a quarter of physical memory, from 1g to 4g
    driver_mem = f"{max(1, min(4, mem_kb // 4 // 1024**2))}g"
    base = os.path.join(os.getcwd(), ".perfbench_work")
    results = os.path.join(base, "results")
    os.makedirs(results, exist_ok=True)
    work = tempfile.mkdtemp(prefix=f"{args.workload}-{args.seed}-", dir=base)
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    os.environ.update({
        "SPARK_GRAFT_CPUS": str(cpus),
        # overrides spark.local.dir, and any value inherited from outside
        "SPARK_LOCAL_DIRS": os.path.join(work, "spark-local"),
        "SPARK_DRIVER_MEM": driver_mem,
        # HotSpot writes its perf-data file to /tmp whatever the temp
        # directory is set to; the launcher JVM and the driver skip it
        "SPARK_LAUNCHER_OPTS": "-XX:-UsePerfData",
        "SPARK_GRAFT_DRIVER_XOPTS": f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
        "TMPDIR": tmp,
    })
    tempfile.tempdir = tmp
    env = {"nproc": cpus, "mem_total_mb": mem_kb // 1024,
           "spark_driver_mem": driver_mem,
           "python": platform.python_version(),
           "spark": pyspark.__version__}
    try:
        return run(Bench(args, work), cpus, env, results)
    finally:
        shutil.rmtree(work, ignore_errors=True)


def run(bench: Bench, cpus: int, env: dict, results: str) -> int:
    from spans import Tracer

    wl = load_workload(bench)
    t0 = time.perf_counter()
    inputs = wl.generate()
    gen_s = time.perf_counter() - t0

    t0 = time.perf_counter()
    bench.spark = start_session(bench.work, cpus)
    session_s = time.perf_counter() - t0
    sc = bench.spark.sparkContext
    bench.tracer = Tracer(sc)
    try:
        env["java"] = sc._jvm.java.lang.System.getProperty("java.version")
        t0 = time.perf_counter()
        wl.setup()
        warm = run_ops(bench, wl, 0, wl.WARMUP, False)
        setup_s = session_s + time.perf_counter() - t0
        # a traced run interleaves as many traced ops as a plain run
        # has untraced ones
        n = measured_ops(wl, bench.seconds)
        cpu0 = _cpu_times()
        samples = run_ops(bench, wl, len(warm), n * (2 if bench.trace else 1),
                          bench.trace)
        env["cpu_steal_pct"] = steal_pct(cpu0, _cpu_times())
        late_failed = wl.finish()
        bench.tracer.finish()
        rss_mb = (_proc_kb("/proc/self/status", "VmHWM:")
                  + _proc_kb(f"/proc/{sc._gateway.proc.pid}/status",
                             "VmHWM:")) / 1024
    finally:
        stop_session(bench.spark)

    ran = warm + samples
    attempted = len(ran) + wl.FINAL_CHECKS
    failed = min(attempted, sum(s["failed"] for s in ran) + late_failed)
    plain = [s for s in samples if not s["traced"]]
    op_ms = [s["s"] * 1000 for s in plain]
    busy = sum(s["s"] for s in plain)
    # a run whose ops all raised still prints a (failed) result
    op_p50 = statistics.median(op_ms) if op_ms else 0.0
    named = wl.report(plain)
    named.update(setup_s=setup_s, op_p50_ms=op_p50,
                 items_per_s=sum(s["items"] for s in plain) / busy
                 if busy else 0.0,
                 peak_rss_mb=rss_mb, error_rate=failed / attempted)
    report = {
        "workload": bench.workload, "seed": bench.seed,
        "seconds": bench.seconds, "trace": int(bench.trace),
        "environment": env, "inputs": inputs,
        "input_generation_s": gen_s, "session_start_s": session_s,
        "warmup_ops": len(warm), "measured_ops": len(samples),
        "metrics": named, "failures": bench.failures[:20],
    }
    if bench.trace:
        traced = [s for s in samples if s["traced"]]
        layers = dict.fromkeys(UNITS, 0.0)
        layers.update(wl.layers(traced))
        layers.update(span_totals(bench.tracer, wl.OP, len(traced)))
        layers["session.start_s"] = session_s
        t_ms = [s["s"] * 1000 for s in traced]
        base, basis = untraced_p50(results, bench), "untraced run"
        if base is None:
            base, basis = op_p50, "untraced ops of this run"
        layers["trace.overhead_pct"] = (
            (statistics.median(t_ms) / base - 1) * 100
            if t_ms and base else 0.0)
        report["trace_overhead_basis"] = basis
        report["trace_overhead_in_run_pct"] = (
            (statistics.median(t_ms) / op_p50 - 1) * 100
            if t_ms and op_p50 else 0.0)
        metrics = {k: {"value": v, "unit": UNITS[k]}
                   for k, v in layers.items()}
        dump = os.path.join(results, f"trace-{bench.workload}-{bench.seed}.json")
        bench.tracer.dump(dump)
        report["trace_dump"] = os.path.relpath(dump)
        report["per_layer"] = layers
    else:
        metrics = {
            "setup_s": {"value": setup_s, "unit": "s"},
            "op_p50_ms": {"value": op_p50, "unit": "ms"},
        }
    name = f"report-{bench.workload}-{bench.seed}-{int(bench.trace)}.json"
    with open(os.path.join(results, name), "w") as f:
        json.dump(report, f, indent=1)
    print("perfbench-report " + json.dumps(report))
    print(json.dumps({"correct": not bench.failures, "attempted": attempted,
                      "failed": failed, "metrics": metrics}))
    return 1 if bench.failures else 0


def untraced_p50(results: str, bench: Bench):
    """``op_p50_ms`` of an untraced run of the same workload, seed and
    length that wrote its report to ``results``, or None."""
    path = os.path.join(results,
                        f"report-{bench.workload}-{bench.seed}-0.json")
    try:
        with open(path) as f:
            r = json.load(f)
    except (OSError, ValueError):
        return None
    if r.get("seconds") != bench.seconds:
        return None
    return r.get("metrics", {}).get("op_p50_ms") or None


def span_totals(tracer, op_name: str, n_traced: int) -> dict:
    """Spark work per traced op, and self time per layer per traced op;
    ``self.bench_ms`` is the harness's own time inside ops. The
    operators stages run outside ops and report their own self time."""
    n = max(n_traced, 1)
    ops = tracer.named(op_name)
    out = {f"spark.{k}": sum(s[f"total_{k}"] for s in ops) / n
           for k in ("jobs", "tasks", "failed_tasks")}
    selfs = dict.fromkeys(LAYERS + ("bench",), 0.0)
    for s in tracer.spans:
        layer = s["name"].split(".")[0]
        if layer != "operators":
            selfs[layer if layer in LAYERS else "bench"] += s["self_s"]
    out.update({f"self.{k}_ms": v * 1000 / n for k, v in selfs.items()})
    return out


UNITS = {
    "session.start_s": "s",
    **{f"api.{k}.{p}_ms": "ms"
       for k in ("corrected", "compound", "resampled", "daily")
       for p in ("plan", "exec")},
    "api.jobs_per_read": "count", "api.tasks_per_read": "count",
    "store.merge_ms": "ms", "store.changes_ms": "ms",
    "store.optimize_ms": "ms", "store.read_ms": "ms",
    "store.buckets_rewritten": "count", "store.bytes_written": "bytes",
    "store.files_written": "count", "store.live_version_dirs": "count",
    "daily_update.ingest_ms": "ms",
    "incremental.expand_ms": "ms", "incremental.refresh_ms": "ms",
    "incremental.rows_recomputed": "count",
    "incremental.useful_ratio": "ratio",
    "dedup.minhash_ms": "ms", "dedup.lsh_pairs_ms": "ms",
    "dedup.clusters_ms": "ms", "text.quality_ms": "ms",
    "dedup.candidate_pairs": "count", "dedup.pair_precision": "ratio",
    "corrections.ms": "ms", "daily.rollup_ms": "ms", "doy.stats_ms": "ms",
    "refresh.total_ms": "ms",
    "spark.jobs": "count", "spark.tasks": "count",
    "spark.failed_tasks": "count",
    **{f"self.{k}_ms": "ms" for k in LAYERS + ("bench",)},
    "trace.overhead_pct": "%",
}

if __name__ == "__main__":
    sys.exit(main())
