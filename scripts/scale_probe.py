#!/usr/bin/env python
"""Scale probe: time registered operators over an N×-replicated catalog.

Usage:  python scripts/scale_probe.py [--sf DIR] [--runs N]
                                      [--scales 1,4,16] [op ...]

Every registered operator takes ``(spark, sf_dir)`` and reads its tables
through ``sources.catalog.load_table`` (``{sf_dir}/{name}.parquet``, where
a directory works), so a catalog replicated N× into a temp directory turns
each operator into a scale probe with no copy of its logic.

Replica ``r`` shifts every key domain by ``r × STRIDE`` in every table
that holds it (``SHIFTED``), so keys join only inside their own replica:
row counts and join fan-out grow N×, never N².  Tables without a shifted
key (``region``, ``nation``) are copied unchanged, and no ``*_nationkey``
moves.  Text, vectors, labels and timestamps are copied verbatim, so the
dedup, similarity and document-pair operators see a corpus in which every
replica is an exact duplicate.

At each scale every operator gets one untimed warm-up call, then
``--runs`` timed calls, each materialised by a ``noop`` write.  One line
per operator prints the median at each scale and the scaling exponent
``log(t_max / t_min) / log(N_max / N_min)`` (1.0 = linear).  An operator
that raises ``ExactTierCorpusTooLarge`` reads ``guarded`` at that scale.
``--scales 1`` is a plain warm timer of the named operators.
"""

from __future__ import annotations

import argparse
import math
import os
import shutil
import statistics
import sys
import tempfile
import time

import pyspark.sql.functions as F

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

from googlecloudstorage_blueprints_spark.operators import all_queries  # noqa: E402
from googlecloudstorage_blueprints_spark.operators.similarity import (  # noqa: E402
    ExactTierCorpusTooLarge,
)
from googlecloudstorage_blueprints_spark.session import get_spark  # noqa: E402
from googlecloudstorage_blueprints_spark.sources.catalog import TABLES  # noqa: E402

STRIDE = 10_000_000
# every column of each key domain, in every table that holds it
SHIFTED = (
    "o_orderkey", "l_orderkey",
    "c_custkey", "o_custkey",
    "p_partkey", "l_partkey",
    "s_suppkey", "l_suppkey",
    "user_id", "event_id", "doc_id", "vec_id",
)
# The packed co-purchase key (segments.PAIR_PACK_MAX_KEY) and the 31-bit
# hash mask in dedup.py branch on keys below 2**31: stay on that side.
KEY_LIMIT = 2**31
# SCALE.md's measured-scaling table cites these beside the query-mix set
SCALE_MD_OPS = (
    "copurchase_association_rules", "customer_cohort_retention",
    "doc_logprob_bigram", "doc_logprob_mad_outliers",
    "doc_query_likelihood_topk", "doc_unigram_entropy_topk",
    "events_type_value_mi", "events_volume_ewma_backtest",
    "funnel_window_sensitivity", "latest_snapshot",
    "pair_containment_histogram", "scd2_intervals", "sequence_pack",
    "source_length_gini", "table_row_digest",
)


def default_ops() -> list[str]:
    sys.path.insert(0, os.path.join(ROOT, "perfbench"))
    from workloads import QUERY_OPS

    return [*QUERY_OPS, *SCALE_MD_OPS]


def replicate(spark, src: str, out: str, n: int) -> None:
    """Write every catalog table of ``src`` into ``out``, ``n``× over."""
    reps = spark.range(n).select(F.col("id").alias("__rep"))
    for name in TABLES:
        df = spark.read.parquet(f"{src}/{name}.parquet")
        keys = [c for c in df.columns if c in SHIFTED]
        if keys:
            top = df.agg(*(F.max(c) for c in keys)).first()
            for k, hi in zip(keys, top):
                if hi >= STRIDE or (n - 1) * STRIDE + hi >= KEY_LIMIT:
                    raise ValueError(
                        f"{name}.{k} max {hi}: replicas at {n}x would "
                        f"overlap (>= STRIDE) or pass 2**31")
            dtypes = dict(df.dtypes)
            df = df.crossJoin(reps)
            for k in keys:
                df = df.withColumn(
                    k, (F.col(k) + F.col("__rep") * STRIDE).cast(dtypes[k]))
            df = df.drop("__rep").repartition(n)
        df.write.parquet(f"{out}/{name}.parquet")


def _timed(fn, spark, sf_dir: str) -> float:
    t0 = time.perf_counter()
    df = fn(spark, sf_dir)
    df.write.format("noop").mode("overwrite").save()
    wall = time.perf_counter() - t0
    # an operator may return a cached result; the next call must not hit it
    df.unpersist(blocking=True)
    return wall


def measure(spark, sf: str, ops: list[str], scales: list[int],
            runs: int) -> dict[str, dict[int, float | None]]:
    """Median wall per operator per scale; ``None`` where it is guarded."""
    queries = all_queries()
    unknown = [op for op in ops if op not in queries]
    if unknown:
        raise SystemExit(f"unknown operators: {', '.join(unknown)}")
    walls: dict[str, dict[int, float | None]] = {op: {} for op in ops}
    tmp = tempfile.mkdtemp(prefix="scale_probe_")
    try:
        for n in scales:
            sf_n = f"{tmp}/{n}x"
            replicate(spark, sf, sf_n, n)
            for op in ops:
                try:
                    _timed(queries[op], spark, sf_n)
                except ExactTierCorpusTooLarge:
                    walls[op][n] = None
                    continue
                walls[op][n] = statistics.median(
                    _timed(queries[op], spark, sf_n) for _ in range(runs))
            shutil.rmtree(sf_n, ignore_errors=True)
    finally:
        shutil.rmtree(tmp, ignore_errors=True)
    return walls


def report(walls: dict[str, dict[int, float | None]],
           scales: list[int]) -> list[str]:
    lo, hi = min(scales), max(scales)
    lines = []
    for op, by_n in walls.items():
        cells = [f"{n}x={'guarded' if by_n[n] is None else f'{by_n[n]:.2f}s'}"
                 for n in scales]
        if hi == lo:
            exp = "-"
        elif by_n[lo] is None or by_n[hi] is None:
            exp = "guarded"
        else:
            exp = f"{math.log(by_n[hi] / by_n[lo]) / math.log(hi / lo):.2f}"
        lines.append(f"{op}: {' '.join(cells)} exponent={exp}")
    return lines


def main(argv: list[str] | None = None) -> None:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--sf", default="/root/testdata/sf0.1")
    ap.add_argument("--runs", type=int, default=3)
    ap.add_argument("--scales", default="1,4,16")
    ap.add_argument("ops", nargs="*")
    args = ap.parse_args(argv)
    scales = sorted({int(s) for s in args.scales.split(",")})
    spark = get_spark(app_name="scale-probe")
    walls = measure(spark, args.sf, args.ops or default_ops(), scales,
                    args.runs)
    print("\n".join(report(walls, scales)))


if __name__ == "__main__":
    main()
