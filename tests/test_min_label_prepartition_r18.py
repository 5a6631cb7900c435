"""Focused pins for the r18 ``min_label_components`` edge pre-partition.

The label-propagation loop joins the cached symmetrized edge set
against the just-checkpointed labels frame every round
(``sym.join(labels, sym.dst == labels.node)``).  A checkpointed frame
has no Catalyst stats, so the join plans as a shuffle join — and a
cached-but-unpartitioned ``sym`` re-shuffled the EDGE side every round
(edge-sized exchange per iteration).  r18 hash-partitions ``sym`` on
the join key ``dst`` once before caching: an InMemoryTableScan
preserves ``outputPartitioning``, so every round only the node-sized
labels frame moves.

Pins:
1. the mechanism — a dst-partitioned cached edge frame joined to a
   checkpointed labels frame plans exactly ONE Exchange (labels side),
   while the unpartitioned build pays two (the counterfactual the
   optimization removes);
2. output identity — labels from a planted multi-component graph are
   the exact min-reachable-id fixpoint (the repartition is physical
   layout only).
"""

from __future__ import annotations

import pyspark.sql.functions as F

from googlecloudstorage_blueprints_spark.operators.graph import (
    _persisted_rdd_ids,
    _release_rdds,
    min_label_components,
)
from googlecloudstorage_blueprints_spark.plans.inspect import (
    explain_str,
    has_broadcast_join,
)


def _round_exchanges(df) -> int:
    """ENSURE_REQUIREMENTS exchanges = the per-round shuffles the join
    itself pays (the cache's one-time REPARTITION_BY_NUM build exchange
    prints inside the InMemoryRelation and must not count)."""
    return explain_str(df, "simple").count("ENSURE_REQUIREMENTS")


def _sym_frames(spark, prepartition: bool):
    """Edge/labels frames shaped exactly like one propagation round's
    inputs (cached edges, checkpointed stats-less labels)."""
    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (10, 11)], "doc_a long, doc_b long"
    )
    sym = pairs.select("doc_a", "doc_b").union(
        pairs.select(
            F.col("doc_b").alias("doc_a"), F.col("doc_a").alias("doc_b")
        )
    ).toDF("src", "dst")
    if prepartition:
        sym = sym.repartition(
            spark.sparkContext.defaultParallelism, "dst"
        )
    sym = sym.cache()
    sym.count()  # materialize so the plan reads InMemoryTableScan
    labels = (
        spark.createDataFrame(
            [(n, n) for n in (1, 2, 3, 10, 11)], "node long, label long"
        )
        .localCheckpoint(eager=True)
    )
    return sym, labels


def _round_join(sym, labels):
    return sym.join(labels, sym.dst == labels.node).select(
        F.col("src").alias("node"), "label"
    )


class _no_autobroadcast:
    """Model scale: a materialized tiny cache gets REAL stats and would
    broadcast locally, but the production edge set is data-sized —
    disable auto-broadcast so the pin reads the shuffle-join shape the
    optimization targets."""

    def __init__(self, spark):
        self.spark = spark

    def __enter__(self):
        self.prev = self.spark.conf.get(
            "spark.sql.autoBroadcastJoinThreshold"
        )
        self.spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")

    def __exit__(self, *exc):
        self.spark.conf.set(
            "spark.sql.autoBroadcastJoinThreshold", self.prev
        )


def test_prepartitioned_edge_cache_joins_with_one_exchange(spark):
    sym, labels = _sym_frames(spark, prepartition=True)
    try:
        with _no_autobroadcast(spark):
            out = _round_join(sym, labels)
            assert not has_broadcast_join(out)
            # the cached hash(dst) layout satisfies the join's required
            # distribution: only the labels side exchanges
            assert _round_exchanges(out) == 1
    finally:
        sym.unpersist(blocking=True)


def test_unpartitioned_edge_cache_pays_a_second_exchange(spark):
    sym, labels = _sym_frames(spark, prepartition=False)
    try:
        with _no_autobroadcast(spark):
            out = _round_join(sym, labels)
            assert not has_broadcast_join(out)
            # counterfactual: without the pre-partition BOTH sides
            # shuffle (an edge-sized exchange per round at scale)
            assert _round_exchanges(out) == 2
    finally:
        sym.unpersist(blocking=True)


def test_min_label_fixpoint_values_exact(spark):
    nodes = spark.createDataFrame(
        [(n,) for n in (1, 2, 3, 7, 10, 11)], "node long"
    )
    pairs = spark.createDataFrame(
        [(2, 3), (1, 2), (10, 11)], "doc_a long, doc_b long"
    )
    sc = spark.sparkContext
    before = _persisted_rdd_ids(sc)
    labels = min_label_components(nodes, pairs)
    got = {r["node"]: r["label"] for r in labels.collect()}
    # the result is the final round's checkpoint: its storage is the
    # only one left, and the caller frees it by id
    held = _persisted_rdd_ids(sc) - before
    assert len(held) == 1
    _release_rdds(sc, held)
    assert not _persisted_rdd_ids(sc) - before
    assert got == {1: 1, 2: 1, 3: 1, 7: 7, 10: 10, 11: 10}
