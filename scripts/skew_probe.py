#!/usr/bin/env python
"""Skew probe: build a deliberately skewed join input (50% of probe rows
share ONE key), then measure three strategies:

1. plain sort-merge join with AQE skew-split DISABLED — the baseline that
   degrades at scale (one straggler task owns the hot key);
2. plain join with AQE skew-split ENABLED — Spark's runtime mitigation;
3. explicit salting (the portable mitigation that also covers
   aggregations and engines without AQE).

Prints wall seconds per strategy and asserts all three agree on the
result.  Evidence for SCALE.md's skew section.
"""

from __future__ import annotations

import shutil
import sys
import tempfile
import time

import pyspark.sql.functions as F

sys.path.insert(0, __file__.rsplit("/", 2)[0])

from googlecloudstorage_blueprints_spark.session import get_spark  # noqa: E402

ROWS = 6_000_000
HOT_KEY = 7
N_KEYS = 100_000
SALT = 16


def main() -> None:
    spark = get_spark(app_name="skew-probe")
    tmp = tempfile.mkdtemp(prefix="skew_probe_")
    try:
        # probe side: 50% of rows on HOT_KEY, rest uniform
        probe = spark.range(ROWS).select(
            F.when(F.col("id") % 2 == 0, F.lit(HOT_KEY))
            .otherwise(F.pmod(F.xxhash64("id"), F.lit(N_KEYS)))
            .alias("k"),
            (F.col("id") % 1000).cast("double").alias("v"),
        )
        build = spark.range(N_KEYS).select(
            F.col("id").alias("k"), (F.col("id") % 7).alias("grp")
        )
        probe.write.mode("overwrite").parquet(f"file:{tmp}/probe")
        build.write.mode("overwrite").parquet(f"file:{tmp}/build")
        probe = spark.read.parquet(f"file:{tmp}/probe")
        build = spark.read.parquet(f"file:{tmp}/build")

        def agg_of(joined):
            return joined.groupBy("grp").agg(
                F.count(F.lit(1)).alias("n"),
                F.round(F.sum("v"), 2).alias("sv"),
            )

        results = {}

        def run(name, df):
            t0 = time.perf_counter()
            rows = sorted(tuple(r) for r in df.collect())
            results[name] = (round(time.perf_counter() - t0, 2), rows)
            print(f"{name}: {results[name][0]}s")

        # sort-merge, no broadcast, no skew handling
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        spark.conf.set("spark.sql.adaptive.skewJoin.enabled", "false")
        run("plain_no_skew_handling", agg_of(probe.join(build, "k")))

        spark.conf.set("spark.sql.adaptive.skewJoin.enabled", "true")
        # make the splitter see our hot partition at local scale
        spark.conf.set(
            "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes",
            "8MB",
        )
        spark.conf.set(
            "spark.sql.adaptive.advisoryPartitionSizeInBytes", "8MB"
        )
        run("aqe_skew_split", agg_of(probe.join(build, "k")))

        salted_probe = probe.withColumn(
            "salt", F.pmod(F.xxhash64("k", "v"), F.lit(SALT)).cast("int")
        )
        salted_build = build.withColumn(
            "salt", F.explode(F.sequence(F.lit(0), F.lit(SALT - 1)))
        )
        run(
            "explicit_salting",
            agg_of(salted_probe.join(salted_build, ["k", "salt"])),
        )

        base = results["plain_no_skew_handling"][1]
        for name, (_, rows) in results.items():
            assert rows == base, f"{name} diverged!"
        print("all strategies agree on values")
    finally:
        shutil.rmtree(tmp, ignore_errors=True)
        spark.stop()


if __name__ == "__main__":
    main()
