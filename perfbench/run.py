#!/usr/bin/env python3
"""Benchmark entry point.

    python3 perfbench/run.py --workload query-mix --seed 1 --seconds 10 --trace 0

Run from the root of a source checkout.  Every input is generated from the
seed under ``.perfbench/`` in the checkout; the run's scratch directory is
removed when it ends.  The run

1. sets up once (start the Spark session, warm up, one untimed cold unit
   of the workload's own operations) and reports that as ``setup_s``;
2. runs ``round(--seconds / seconds_per_unit)`` whole measured units
   (passes, cycles, job sequences), at least one;
3. checks the outputs, and prints one JSON line last: the end-to-end
   metrics with ``--trace 0``, the per-layer metrics with ``--trace 1``.
"""

from __future__ import annotations

import argparse
import contextlib
import json
import os
import shutil
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
PACKAGE = "googlecloudstorage_blueprints_spark"
# base-table scale (fraction of the TPC-H sf1 row counts)
BASE_SCALE = 0.02
DRIVER_HEAP = "2g"
PINS = os.path.join(HERE, "pinned_rows.json")

END_TO_END = {
    "setup_s": "s",
    "op_p50_s": "s",
    "op_tail_s": "s",
    "ops_per_min": "1/min",
    "records_per_s": "1/s",
    "mb_per_s": "MB/s",
    "bytes_written_per_input_byte": "ratio",
    "peak_rss_mb": "MiB",
}
LAYERS = ("bench", "session", "sources", "operators", "fileops", "streaming",
          "sinks", "pipelines")
PER_LAYER = {
    "session.get_spark_s": "s",
    "session.warmup_s": "s",
    "sources.load_table_s": "s",
    "operators.build_s": "s",
    "operators.exec_s": "s",
    **{f"operators.{fam}.exec_s": "s" for fam in (
        "relational", "events", "semistructured", "text", "dedup", "similarity")},
    "operators.jobs": "count",
    "operators.stages": "count",
    "operators.tasks": "count",
    "operators.failed_tasks": "count",
    "fileops.list_names_s": "s",
    **{f"fileops.{v}_files_s": "s" for v in ("upload", "download", "move", "remove")},
    **{f"fileops.ms_per_object.{v}": "ms" for v in ("upload", "download", "move", "remove")},
    "fileops.mb_per_s.upload": "MB/s",
    "fileops.mb_per_s.download": "MB/s",
    "fileops.point_lookup_s": "s",
    "streaming.run_s": "s",
    "streaming.batches": "count",
    "streaming.batch_p50_ms": "ms",
    "streaming.state_rows": "count",
    "sinks.compact_parquet_s": "s",
    "sinks.upsert_parquet_s": "s",
    "sinks.table_diff_s": "s",
    "sinks.files_out": "count",
    "sinks.bytes_out": "bytes",
    "pipelines.curate_corpus_s": "s",
    "proc.jvm_cpu_s": "s",
    "proc.driver_py_cpu_s": "s",
    "proc.pyworker_cpu_s": "s",
    **{f"self.{layer}_s": "s" for layer in LAYERS},
    "trace.spans": "count",
    "trace.overhead_pct": "%",
    "trace.ops_per_min": "1/min",
}


def parse_args(argv=None):
    p = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    p.add_argument("--workload", required=True,
                   choices=("query-mix", "object-transfer", "ingest-curate"))
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args(argv)


def log(msg: str) -> None:
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


class Ctx:
    """Run-wide state handed to the workload."""

    def __init__(self, args, tracer, work: str, base_dir: str):
        self.seed = args.seed
        self.tracer = tracer
        self.work = work
        self.base_dir = base_dir
        self.spark = None
        self.checks: list = []
        self.check_s = 0.0
        self.log = log
        with open(PINS) as handle:
            self.pins = json.load(handle)

    @contextlib.contextmanager
    def checking(self):
        """Time spent checking outputs, kept out of set-up time."""
        t0 = time.perf_counter()
        try:
            yield
        finally:
            self.check_s += time.perf_counter() - t0


def start_spark(ctx):
    from googlecloudstorage_blueprints_spark.session import get_spark

    tmp = os.path.join(ctx.work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    # A fixed heap, set through the engine's own knob, committed and touched
    # at launch.  Under the engine's 8g default G1 sized the heap by GC
    # timing, and peak RSS spread 17-34% from run to run.  So heap use does
    # not move peak RSS; non-heap memory and the Spark driver do.
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = DRIVER_HEAP
    spark = get_spark(
        app_name="perfbench",
        master=f"local[{len(os.sched_getaffinity(0))}]",
        extra_conf={
            "spark.ui.showConsoleProgress": "false",
            "spark.local.dir": os.path.join(ctx.work, "spark-local"),
            "spark.sql.warehouse.dir": os.path.join(ctx.work, "warehouse"),
            "spark.driver.extraJavaOptions": (
                f"-Djava.io.tmpdir={tmp} -Dderby.system.home={tmp} "
                f"-Xms{DRIVER_HEAP} -XX:+AlwaysPreTouch -XX:-UsePerfData"),
        },
    )
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def warm_up(spark) -> None:
    spark.range(0, 200_000, numPartitions=4).selectExpr(
        "sum(id % 7) AS s").collect()


def stop_spark(spark) -> None:
    """Stop the session, then the JVM and the Python workers under it,
    and wait for each to end."""
    from pyspark import SparkContext

    import procstat

    jvm = procstat.jvm_pid()
    workers = procstat.descendants(jvm) if jvm else []
    spark.stop()
    gateway = SparkContext._gateway
    if gateway is not None:
        proc = getattr(gateway, "proc", None)
        gateway.shutdown()
        if proc is not None:
            proc.stdin.close()
            try:
                proc.wait(timeout=60)
            except Exception:  # noqa: BLE001 - last resort, then reap
                proc.kill()
                proc.wait(timeout=30)
        SparkContext._gateway = None
        SparkContext._jvm = None
    procstat.wait_gone(workers, timeout=30)


def run(args, out) -> dict:
    sys.path.insert(0, ROOT)
    import gen
    import procstat
    from spans import Tracer, layer_self_times, median, tail
    from workloads import WORKLOADS

    state = os.path.join(ROOT, ".perfbench")
    base_dir = os.path.join(state, f"base-sf{BASE_SCALE}")
    work = os.path.join(state, f"work-{args.workload}-{args.seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    os.makedirs(os.environ["TMPDIR"])
    tracer = Tracer(args.trace == 1, f"{args.workload}-{args.seed}-{os.getpid()}")
    ctx = Ctx(args, tracer, work, base_dir)
    wl = WORKLOADS[args.workload](ctx)
    # a fixed number of whole units per run, so every run of a workload
    # measures the same operations
    ctx.n_units = n_units = max(1, round(args.seconds / wl.seconds_per_unit))
    try:
        gen.write_base_tables(base_dir, BASE_SCALE)
        wl.prepare()

        # one set-up per run: each of them starts a JVM, and a second
        # cold unit would cost as much as the measured window
        t0 = time.perf_counter()
        with tracer.span("bench.setup"):
            with tracer.span("session.get_spark"):
                ctx.spark = start_spark(ctx)
            t1 = time.perf_counter()
            with tracer.span("session.warmup"):
                warm_up(ctx.spark)
            t2 = time.perf_counter()
            ctx.checks += wl.cold()
        setup = {"total": time.perf_counter() - t0 - ctx.check_s,
                 "get_spark": t1 - t0, "warmup": t2 - t1}
        log(f"setup: {setup['total']:.2f}s")

        if tracer.enabled:
            wl.start_tracing()
        sampler = procstat.ProcSampler()
        over0 = tracer.overhead_s
        s0 = sampler.sample()
        tw0 = time.perf_counter()
        units = []
        for unit in range(1, n_units + 1):  # unit 0 is the cold one
            tu = time.perf_counter()
            with tracer.span("bench.unit"):
                units.append(wl.unit(unit))
            log(f"unit {unit}: {time.perf_counter() - tu:.2f}s")
        window = time.perf_counter() - tw0
        cpu = sampler.delta(s0, sampler.sample())
        overhead = tracer.overhead_s - over0
        peak = sampler.peak_rss_mb()
    finally:
        if ctx.spark is not None:
            stop_spark(ctx.spark)
        shutil.rmtree(work, ignore_errors=True)

    failed_checks = [c for c in ctx.checks if not c.ok]
    for c in failed_checks:
        log(f"check failed: {c.name}: {c.detail}")
    ops = [o for u in units for o in u]
    failed_ops = [o for o in ops if not o.ok]

    lat = [o.seconds for o in ops]
    in_bytes = sum(o.in_bytes for o in ops)
    t_val, t_pct, t_n = tail(lat)
    print(f"{args.workload}: {len(ops)} operations in {n_units} units, "
          f"{window:.2f}s window; op_tail_s is p{t_pct} of {t_n} samples",
          file=out)
    if tracer.enabled:
        metrics = {"session.get_spark_s": setup["get_spark"],
                   "session.warmup_s": setup["warmup"],
                   "sources.load_table_s": sum(
                       s.end - s.start for s in tracer.spans
                       if s.name == "sources.load_table")}
        metrics.update(wl.layer_metrics(ops))
        metrics["proc.jvm_cpu_s"] = cpu["jvm_cpu"]
        metrics["proc.driver_py_cpu_s"] = cpu["driver_cpu"]
        metrics["proc.pyworker_cpu_s"] = cpu["pyworker_cpu"]
        selfs = layer_self_times(tracer.spans)
        for layer in LAYERS:
            metrics[f"self.{layer}_s"] = selfs.get(layer, 0.0)
        metrics["trace.spans"] = len(tracer.spans)
        metrics["trace.overhead_pct"] = 100.0 * overhead / window
        # compare with the untraced run's ops_per_min for the tracing gap
        metrics["trace.ops_per_min"] = unit_rates(units)["ops_per_min"]
        for layer in LAYERS:
            print(f"  self time {layer:<10} {selfs.get(layer, 0.0):9.3f}s", file=out)
        print(f"  tracing overhead {metrics['trace.overhead_pct']:.3f}% of the window",
              file=out)
        out_dir = os.path.join(ROOT, ".perfbench", "spans")
        os.makedirs(out_dir, exist_ok=True)
        tracer.dump(os.path.join(out_dir, f"{tracer.run_id}.json"))
        spec = PER_LAYER
    else:
        metrics = {
            "setup_s": setup["total"],
            "op_p50_s": median(lat),
            "op_tail_s": t_val,
            **unit_rates(units),
            "bytes_written_per_input_byte": cpu["wchar"] / in_bytes,
            "peak_rss_mb": peak,
        }
        spec = END_TO_END
    return result_line(metrics, spec, attempted=len(ops) + len(ctx.checks),
                       failed=len(failed_ops) + len(failed_checks))


def unit_rates(units: list[list]) -> dict:
    """Throughput, each rate the median over measured units of that
    unit's rate, so one unit slowed by a burst of host load moves it
    little.  ``ops_per_min`` divides by the busy time of all the unit's
    operations, ``records_per_s`` and ``mb_per_s`` only by that of the
    operations that consume records or input bytes."""
    from spans import median

    def rate(ops, amount):
        mine = [o for o in ops if amount(o)]
        return sum(amount(o) for o in mine) / sum(o.seconds for o in mine)

    def rates(ops):
        return (60.0 * rate(ops, lambda o: 1),
                rate(ops, lambda o: o.records),
                rate(ops, lambda o: o.in_bytes) / 1e6)

    per_unit = [rates(u) for u in units]
    return {name: median(r[i] for r in per_unit) for i, name in
            enumerate(("ops_per_min", "records_per_s", "mb_per_s"))}


def result_line(metrics: dict, spec: dict, attempted: int, failed: int) -> dict:
    """The result object: every metric of ``spec``, in order, with its
    unit.  A layer the workload never calls reports 0."""
    return {
        "correct": failed == 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": {k: {"value": float(metrics.get(k, 0.0)), "unit": u}
                    for k, u in spec.items()},
    }


def main(argv=None) -> int:
    args = parse_args(argv)
    if not os.path.isfile(os.path.join(ROOT, PACKAGE, "__init__.py")):
        log(f"{PACKAGE}/ not found beside perfbench/: run from a source checkout")
        return 2
    real_stdout = sys.stdout
    # the file verbs print a progress line per object; keep stdout for the
    # summary and the result line
    with open(os.devnull, "w") as devnull, contextlib.redirect_stdout(devnull):
        try:
            result = run(args, real_stdout)
        finally:
            sys.stdout.flush()
    real_stdout.write(json.dumps(result) + "\n")
    real_stdout.flush()
    return 0


if __name__ == "__main__":
    sys.exit(main())
