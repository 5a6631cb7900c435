"""Round-19 optimization pins.

1. `table_profile`'s fixture-trap repartition is CONDITIONAL on scan
   parallelism (the r17 rule, applied to the Expand ×6 behind its
   5-way COUNT DISTINCT): multi-split input plans NO
   RoundRobinPartitioning, the one-row-group fixture still spreads the
   Expand+partial across cores, and the profile rows are identical
   either way (measured med 2.14 → 1.64 s warm at sf0.1;
   OPTIMIZATION_r19.md §2).
"""

from __future__ import annotations

import shutil

from googlecloudstorage_blueprints_spark.operators import all_queries
from googlecloudstorage_blueprints_spark.plans.inspect import explain_str

SF = "/root/testdata/sf0.001"


def _rows(df):
    return sorted(tuple(r) for r in df.collect())


def test_table_profile_multifile_input_skips_the_shuffle(spark, tmp_path):
    """Multi-split orders input (one file per scan partition, ≥
    defaultParallelism of them) plans NO RoundRobinPartitioning — the
    scan already spreads the Expand work — while the one-row-group
    fixture layout still repartitions; profile rows identical."""
    q = all_queries()["table_profile"]

    single = tmp_path / "single"
    single.mkdir()
    shutil.copy(f"{SF}/orders.parquet", single / "orders.parquet")

    par = spark.sparkContext.defaultParallelism
    multi = tmp_path / "multi"
    multi.mkdir()
    (
        spark.read.parquet(str(single / "orders.parquet"))
        .repartition(4 * par)
        .write.parquet(str(multi / "orders.parquet"))
    )

    # force one-file-per-partition planning so scan parallelism is
    # deterministic regardless of Spark's small-file packing heuristics
    old_cost = spark.conf.get("spark.sql.files.openCostInBytes", None)
    spark.conf.set("spark.sql.files.openCostInBytes", "134217728")
    try:
        multi_df = q(spark, str(multi))
        assert "RoundRobinPartitioning" not in explain_str(multi_df)

        single_df = q(spark, str(single))
        assert "RoundRobinPartitioning" in explain_str(single_df)

        assert _rows(multi_df) == _rows(single_df)
    finally:
        if old_cost is None:
            spark.conf.unset("spark.sql.files.openCostInBytes")
        else:
            spark.conf.set("spark.sql.files.openCostInBytes", old_cost)
