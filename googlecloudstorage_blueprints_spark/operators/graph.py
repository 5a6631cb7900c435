"""Iterative graph operators: near-duplicate clusters via connected
components.

Pair-emitting dedup (``ngram_jaccard_dedup``, ``minhash_lsh_dedup``) is
half the job: a training-data pipeline keys on duplicate CLUSTERS — one
keeper per connected component of the near-dup graph.  Components need an
iterative algorithm, the operator class Spark expresses as a driver loop
over DataFrame steps (same shape as GraphX/GraphFrames label propagation):

- labels start as each node's own id;
- each round every node takes the min of its label and its neighbors'
  labels (one join + one aggregate per round);
- fixpoint in O(component diameter) rounds — tiny for dup clusters, which
  are near-cliques.  ``localCheckpoint`` after every round cuts lineage so
  plan size stays constant over iterations (the classic iterative-Spark
  failure is an exponentially growing plan, not the data).

At 100 TB the same loop runs with the edge list cached and AQE handling
skew (a viral duplicate cluster is a hot key); the alternating
large-star/small-star variant halves rounds if diameter ever matters.

The DuckDB oracle computes the identical fixpoint with a recursive CTE
(min reachable id over the symmetrized edges), so this iterative operator
is fully value-checked, not rows-only.
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import Column, DataFrame, Observation, SparkSession

from googlecloudstorage_blueprints_spark.functions.frames import (
    local_rows_frame,
)
from googlecloudstorage_blueprints_spark.operators import register
from googlecloudstorage_blueprints_spark.operators.dedup import (
    JACCARD_THRESHOLD,
    SHINGLE_DF_CAP,
    SHINGLE_K,
    ngram_jaccard_dedup,
)
from googlecloudstorage_blueprints_spark.sources.catalog import load_table

MAX_ROUNDS = 20


def _persisted_rdd_ids(sc) -> set[int]:
    """Ids of every RDD currently persisted in the context — INCLUDING
    localCheckpoint storage, which ``DataFrame.unpersist`` cannot see
    (the persist-hygiene primitive shared by the iterative ops)."""
    jmap = sc._jsc.sc().getPersistentRDDs()
    it = jmap.keysIterator()
    ids = set()
    while it.hasNext():
        ids.add(it.next())
    return ids


def _release_rdds(sc, rdd_ids) -> None:
    """Blocking-release the storage of the given RDD ids (checkpoint
    hygiene).  ``RDD.unpersist`` logs a WARN for each locally
    checkpointed RDD before it makes this same call; its released
    checkpoints are never read again, so the warning says nothing."""
    jsc = sc._jsc.sc()
    for rid in sorted(rdd_ids):
        jsc.unpersistRDD(rid, True)


def _checkpoint_observed(
    frame: DataFrame, metric: Column
) -> tuple[DataFrame, object]:
    """Eagerly ``localCheckpoint`` ``frame`` and return the stored frame
    with ``metric`` (one aggregate) evaluated over the stored rows by an
    ``Observation`` in that same job, so no second job re-reads them."""
    seen = Observation()
    stored = frame.observe(seen, metric.alias("v")).localCheckpoint(
        eager=True
    )
    return stored, seen.get["v"]


def _stored_rdd_id(stored: DataFrame) -> int:
    """Id of the RDD that holds a ``localCheckpoint`` frame's rows (the
    checkpoint's ``LogicalRDD``)."""
    return stored._jdf.queryExecution().analyzed().rdd().id()


def min_label_components(nodes: DataFrame, pairs: DataFrame) -> DataFrame:
    """Min-label propagation to a fixpoint: ``(node, label)`` where label
    is the smallest node id reachable in the undirected graph ``pairs``
    (columns ``doc_a``/``doc_b``).  Shared by the ``dedup_clusters``
    operator and the curation pipeline's near-dup stage.

    Convergence signal: labels are monotonically non-increasing (the min
    aggregate always includes the node's own label), so the exact label
    sum strictly decreases on any change and is flat exactly at the
    fixpoint — one scalar aggregate, observed inside each round's
    checkpoint job, instead of a per-round join-and-compare job.
    DECIMAL(38,0) keeps the sum exact for arbitrarily large id spaces
    (BIGINT sum of 1e9 ids would overflow, and Spark's ANSI mode throws
    on overflow).
    ``localCheckpoint`` per round keeps the plan constant-size (the
    classic iterative-Spark failure is plan growth, not data).

    Returns the final round's ``localCheckpoint`` frame.  Each earlier
    round's checkpoint storage is released in the loop once the next
    round's eager job has stored its rows.  The returned frame's storage
    is the caller's to free: checkpoint storage is invisible to
    ``DataFrame.unpersist``, so snapshot ``_persisted_rdd_ids`` before
    the call and ``_release_rdds`` the ids new since then (as
    ``dedup_clusters`` and ``curate_corpus`` do; the persist-hygiene
    tests pin both)."""
    sc = nodes.sparkSession.sparkContext
    sym = (
        pairs.select("doc_a", "doc_b")
        .union(
            pairs.select(
                F.col("doc_b").alias("doc_a"), F.col("doc_a").alias("doc_b")
            )
        )
        .toDF("src", "dst")
        # hash-partition the cached edge set on the JOIN key once: the
        # per-round labels join needs dst-clustering, and a cached
        # InMemoryTableScan preserves outputPartitioning, so every round
        # reuses this layout instead of re-shuffling the edge frame
        # against the stats-less checkpointed labels (the pagerank
        # large-branch trick, r18; local A/B a slight win at fixture
        # scale — 2 rounds, 256 edges — and one fewer edge-sized
        # exchange per round at scale)
        .repartition(
            nodes.sparkSession.sparkContext.defaultParallelism, "dst"
        )
        .cache()
    )
    label_sum = F.sum(F.col("label").cast("decimal(38,0)"))
    labels, prev_sum = _checkpoint_observed(
        nodes.select(F.col("node"), F.col("node").alias("label")), label_sum
    )
    for _ in range(MAX_ROUNDS):
        msgs = sym.join(labels, sym.dst == labels.node).select(
            F.col("src").alias("node"), "label"
        )
        # constant-size plan per round
        stored, new_sum = _checkpoint_observed(
            labels.union(msgs)
            .groupBy("node")
            .agg(F.min("label").alias("label")),
            label_sum,
        )
        # the new round's rows are stored, so the previous round's are dead
        _release_rdds(sc, [_stored_rdd_id(labels)])
        labels = stored
        if new_sum == prev_sum:
            break
        prev_sum = new_sum
    sym.unpersist(blocking=True)
    return labels

_PAIR_SQL = f"""
    WITH RECURSIVE sh_all AS (
        SELECT DISTINCT doc_id, s
        FROM (SELECT doc_id,
                     unnest(list_distinct(list_transform(
                         range(1, greatest(len(string_split(text,' ')) - {SHINGLE_K - 1}, 1) + 1),
                         i -> array_to_string(string_split(text,' ')[i:i+{SHINGLE_K - 1}], ' ')
                     ))) AS s
              FROM documents WHERE text IS NOT NULL)
    ),
    kept AS (SELECT s FROM sh_all GROUP BY s
             HAVING COUNT(*) <= {SHINGLE_DF_CAP}),
    sh AS (SELECT sh_all.doc_id, sh_all.s FROM sh_all JOIN kept USING (s)),
    sizes AS (SELECT doc_id, COUNT(*) AS sz FROM sh GROUP BY doc_id),
    inter AS (
        SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS n_common
        FROM sh a JOIN sh b ON a.s = b.s AND a.doc_id < b.doc_id
        GROUP BY a.doc_id, b.doc_id
    ),
    pairs AS (
        SELECT i.doc_a, i.doc_b
        FROM inter i
        JOIN sizes sa ON i.doc_a = sa.doc_id
        JOIN sizes sb ON i.doc_b = sb.doc_id
        WHERE i.n_common * 1.0 / (sa.sz + sb.sz - i.n_common)
              >= {JACCARD_THRESHOLD}
    )
"""


@register(
    "dedup_clusters",
    oracle=_PAIR_SQL
    + """,
    edges AS (
        SELECT doc_a AS src, doc_b AS dst FROM pairs
        UNION ALL
        SELECT doc_b, doc_a FROM pairs
    ),
    walk(node, label) AS (
        SELECT doc_id, doc_id FROM documents
        UNION
        SELECT e.src, w.label FROM walk w JOIN edges e ON w.node = e.dst
    ),
    comp AS (
        SELECT node AS doc_id, MIN(label) AS cluster_id
        FROM walk GROUP BY node
    ),
    csize AS (
        SELECT cluster_id, COUNT(*) AS n_members
        FROM comp GROUP BY cluster_id
    )
    SELECT c.doc_id, c.cluster_id,
           (c.doc_id = c.cluster_id) AS is_keeper,
           s.n_members
    FROM comp c JOIN csize s ON c.cluster_id = s.cluster_id
    """,
)
def dedup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Connected components over the exact Jaccard near-dup graph:
    every document labeled with its cluster id (= min doc_id in the
    component), keeper flag, and cluster size.  WITH RECURSIVE twin makes
    the iterative fixpoint oracle-checkable value-for-value."""
    sc = spark.sparkContext
    ids_before = _persisted_rdd_ids(sc)
    jac = ngram_jaccard_dedup(spark, sf_dir)  # returns a persisted frame
    pairs = jac.select("doc_a", "doc_b")
    nodes = load_table(spark, sf_dir, "documents").select(
        F.col("doc_id").alias("node")
    )
    # labels are stored (localCheckpoint per round): free the pair cache
    labels = min_label_components(nodes, pairs)
    jac.unpersist()
    comp = labels.select(
        F.col("node").alias("doc_id"), F.col("label").alias("cluster_id")
    )
    csize = comp.groupBy("cluster_id").agg(
        F.count(F.lit(1)).alias("n_members")
    )
    out = (
        comp.join(csize, "cluster_id")
        .select(
            "doc_id",
            "cluster_id",
            (F.col("doc_id") == F.col("cluster_id")).alias("is_keeper"),
            "n_members",
        )
        .persist()
    )
    # the labels' checkpoint, and anything else persisted since entry:
    # snapshotted before ``out`` stores its own rows
    held = _persisted_rdd_ids(sc) - ids_before
    out.count()
    _release_rdds(sc, held)
    return out


# --------------------------------------------------------------------------
# co-purchase PageRank (r12c) — join-based message passing, integer ranks
# --------------------------------------------------------------------------

PAGERANK_ITERS = 5
PAGERANK_TOP_K = 20
_PR_SCALE = 10**12  # ranks are int64 fixed-point (×1e12)

# Broadcast the rank/contribution frames per round only while the node
# set is provably driver-safe.  Nodes here are distinct co-purchased
# parts — DATA-sized, not dimension-bounded: at TPC-H 100× the frame is
# tens of millions of rows and a forced broadcast OOMs the driver (r12
# VERDICT item 1).  2M (node,long) rows ≈ 32 MB raw — comfortably inside
# a driver/executor heap while far above any local fixture.  Above the
# gate the edge frame is hash-partitioned on ``src`` ONCE and CACHED
# (an InMemoryTableScan preserves outputPartitioning; a checkpoint
# does not), so every round's contribution join reuses that
# co-partitioning and only the node-sized rank frame shuffles.
PAGERANK_BROADCAST_MAX_NODES = 2_000_000


def _pagerank_round(
    edges_deg: DataFrame,
    ranks: DataFrame,
    base: int,
    broadcast_nodes: bool,
) -> DataFrame:
    """One power-iteration round: contributions (rank div deg) flow
    src→dst over ``edges_deg``, damping folds in via integer math.

    INVARIANT (caller-maintained): ``edges_deg`` is the SYMMETRIZED
    edge set and the node universe is exactly its ``src`` key set
    (``deg``'s keys), so every node is also the ``dst`` of at least one
    edge and the dst-keyed sum lands on exactly the full node set — no
    dangling nodes, ``s`` never NULL.  The historical
    ``nodes LEFT JOIN summed`` re-attach was therefore a row-identity
    reshape; dropping it saves one broadcast build + join per round
    (r18 A/B at sf0.1: med warm 7.95 → 6.38 s, output bit-identical).

    ``broadcast_nodes`` gates the explicit broadcast of the
    node-bounded rank frame (a checkpointed frame loses Catalyst size
    stats, so below the gate the hint prevents an edge-sized SMJ per
    round; above it the caller's src-partitioned edge CACHE makes the
    shuffle join reuse co-partitioning instead).  Below the gate the
    caller partitions the cached edge frame on ``dst`` — the aggregate
    key — so the dst-keyed sum runs exchange-free (r18: an
    InMemoryTableScan preserves outputPartitioning and the projection
    is alias-aware; a localCheckpoint reads UnknownPartitioning under
    AQE and re-shuffles every round)."""
    hint = F.broadcast if broadcast_nodes else (lambda df: df)
    contrib = edges_deg.join(
        hint(ranks), edges_deg.src == ranks.node
    ).select(
        F.col("dst").alias("node"),
        F.expr("rank_e12 div deg").alias("c"),
    )
    return (
        contrib.groupBy("node")
        .agg(F.sum("c").cast("long").alias("s"))
        .select(
            "node",
            (F.lit(base) + F.expr("(85 * s) div 100"))
            .cast("long")
            .alias("rank_e12"),
        )
    )


@register("copurchase_pagerank", oracle=None)
def copurchase_pagerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PageRank over the co-purchase graph (parts are nodes, "appeared
    in the same order" the undirected edges): the influence ranking a
    recommender seeds from, where ``part_copurchase_lift`` scores
    individual PAIRS and ``copurchase_degree_histogram`` the degree
    mass.  Damping 0.85, {PAGERANK_ITERS} power iterations, top-
    {PAGERANK_TOP_K} by rank.  Rows-only by contract (iterative — no
    ANSI oracle); planted cycle/star closed forms and integer
    determinism are the semantic pins (tests/test_new_ops_r12c.py).

    Shape: the third iterative template in the repo (dedup_clusters =
    driver loop over joins, kmeans = broadcast-model mapInPandas
    rounds; this is JOIN-BASED MESSAGE PASSING): per round ONE
    ranks⋈edges join keyed on src and one dst-keyed sum —
    ``localCheckpoint`` per round keeps the plan constant-size.  The
    undirected edge set is built a<b-distinct then symmetrized by a
    cheap union (HALF the distinct shuffle volume vs two-direction
    dedup) — symmetry also means every node receives ≥1 contribution
    per round, so the dst-keyed sum IS the full node set and each round
    is ONE join + one aggregate (the historical nodes-LEFT-join
    re-attach was row-identity; dropped in r18, ~20% off the warm
    wall).  The round join broadcasts its NODE-bounded rank side
    explicitly (a checkpointed frame loses Catalyst size stats, so the
    hint prevents an edge-sized SMJ per round — measured 2× per round
    at sf0.1) — but ONLY while ``n_nodes`` is under
    :data:`PAGERANK_BROADCAST_MAX_NODES`; above the gate the edge
    frame is hash-partitioned on ``src`` once and the per-round join
    runs as a shuffle join that reuses that co-partitioning (only the
    node-sized rank frame moves per round).  The partitioned edge
    frame is CACHED, not checkpointed (r18 session 4): an
    InMemoryTableScan preserves ``outputPartitioning`` while a
    localCheckpoint reads UnknownPartitioning under AQE, so only the
    cache lets the layout pay — below the gate it is keyed on ``dst``
    (the aggregate key, since the join side is broadcast) and every
    round's contribution sum runs EXCHANGE-FREE (med warm 8.17 →
    4.26 s at sf0.1, outputs bit-identical at all three SFs).
    Isolated parts (never co-purchased) have no edges and are excluded
    by construction.  Ranks are int64 fixed-point (×1e12) end to end:
    contributions are ``rank div deg``, damping is ``(85·s) div 100``
    — runs are bit-deterministic (no float accumulation order), and
    ANSI mode fails loudly if the scale ever overflows."""
    sc = spark.sparkContext
    ids_before = _persisted_rdd_ids(sc)
    li = load_table(spark, sf_dir, "lineitem")
    baskets = li.groupBy("l_orderkey").agg(
        F.collect_set("l_partkey").alias("ps")
    )
    half = (
        baskets.where(F.size("ps") >= 2)
        .select(F.explode("ps").alias("src"), "ps")
        .select("src", F.explode("ps").alias("dst"))
        .where(F.col("src") < F.col("dst"))
        .distinct()
    )
    edges = half.union(
        half.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
    ).localCheckpoint(eager=True)
    # ^ materialize the basket→pair→distinct pipeline ONCE: without
    # this checkpoint the pipeline recomputed THREE times before the
    # loop (once for deg/nodes, twice more inside edges⋈deg — both
    # join children re-derived it).  r18 interleaved A/B at sf0.1:
    # med 18.0 → 15.2 s (−16%), outputs bit-identical; at scale the
    # saving is two full pair-distinct passes over data-sized input.
    deg = edges.groupBy("src").agg(
        F.count(F.lit(1)).cast("long").alias("deg")
    )
    nodes = deg.localCheckpoint(eager=True)
    n_nodes = nodes.count()
    if n_nodes == 0:
        # zero-row input (empty-catalog audit, r17): no co-purchase
        # graph — an empty typed frame, not a ZeroDivisionError.
        # Release the two (empty) checkpoints already created so even
        # this path leaves no persisted storage behind (r18 hygiene).
        _release_rdds(sc, _persisted_rdd_ids(sc) - ids_before)
        return local_rows_frame(
            spark, [], "p_partkey long, rank_e12 long, out_degree long"
        )
    init = _PR_SCALE // n_nodes
    base = (_PR_SCALE * 15) // 100 // n_nodes  # (1-d)/N, fixed-point
    broadcast_nodes = n_nodes <= PAGERANK_BROADCAST_MAX_NODES
    # join the ALREADY-MATERIALIZED deg (nodes) back onto the edges,
    # explicitly broadcasting the node-bounded side under the gate:
    # an un-hinted join here may pick the CHECKPOINTED EDGE side as
    # broadcast build (checkpoint-preserved stats can read small) and
    # OOM the driver — measured, r18.
    hint = F.broadcast if broadcast_nodes else (lambda df: df)
    edges_deg = edges.join(hint(nodes), "src")
    # LAYOUT SERVES THE LOOP (r18 session 4): below the gate the round
    # join BROADCASTS the rank side, so the edge layout is free to
    # serve the dst-keyed contribution AGGREGATE instead — hash(dst)
    # lets every round's groupBy("node") elide its exchange entirely
    # (single-stage rounds).  Above the gate the per-round shuffle
    # join on src is the dominant cost, so the layout serves the JOIN
    # key and only the node-sized rank frame moves per round.  Either
    # way the frame must be CACHED, not localCheckpointed: an
    # InMemoryTableScan preserves outputPartitioning while a
    # LogicalRDD reads UnknownPartitioning under AQE, so a
    # checkpointed layout re-shuffles every round no matter how it
    # was partitioned (measured A/B at sf0.1, outputs bit-identical
    # at all three SFs: shipped-checkpoint med 8.17 s → dst-cache med
    # 4.26 s; OPTIMIZATION_r18.md §2.13).  The cache is released in
    # the hygiene close below.
    loop_key = "dst" if broadcast_nodes else "src"
    # Partition-count sizing (r18 advice): bare defaultParallelism is
    # right locally (defeats AQE's coalesce-to-1 on one-row-group
    # fixtures) but under dynamic allocation it reflects only the
    # executors registered AT CALL TIME and can be tiny — a data-sized
    # edge frame would land in a few oversized cached partitions.  The
    # above-gate branch therefore takes max(defaultParallelism,
    # spark.sql.shuffle.partitions): shuffle.partitions is the
    # cluster-sized knob the old repartition("src") used (AQE cannot
    # coalesce a cached layout after the fact).  Below the gate the
    # frame is fixture/broadcast-scale and defaultParallelism stands.
    n_loop_parts = sc.defaultParallelism
    if not broadcast_nodes:
        try:
            n_loop_parts = max(
                n_loop_parts,
                int(spark.conf.get("spark.sql.shuffle.partitions")),
            )
        except (TypeError, ValueError):  # e.g. "auto" on some builds
            pass
    edges_deg = edges_deg.repartition(n_loop_parts, loop_key).cache()
    edges_deg.count()  # materialize once, off the edges checkpoint
    ranks = nodes.select(
        F.col("src").alias("node"),
        F.lit(init).cast("long").alias("rank_e12"),
    )
    for _ in range(PAGERANK_ITERS):
        ranks = _pagerank_round(
            edges_deg, ranks, base, broadcast_nodes
        ).localCheckpoint(eager=True)  # constant-size plan per round
    # the final ranks checkpoint is materialized — the edge cache is
    # no longer needed (released here so the snapshot below contains
    # only checkpoint ids)
    edges_deg.unpersist(blocking=True)
    # CHECKPOINT HYGIENE (r18): the loop leaves ~7 localCheckpoint RDDs
    # (edges is EDGE-sized) that DataFrame.unpersist can never free —
    # without the release below they accumulate across a long driver
    # session (measured: repeated invocations in one local session
    # OOM'd the JVM heap).  Same pattern as
    # min_label_components: copy the K-row answer into a plain cache,
    # then release every checkpoint this op created; callers free the
    # result with df.unpersist().
    checkpoint_ids = _persisted_rdd_ids(sc) - ids_before
    result = (
        ranks.join(nodes, ranks.node == nodes.src)
        .select(
            F.col("node").alias("p_partkey"),
            "rank_e12",
            F.col("deg").alias("out_degree"),
        )
        .orderBy(F.col("rank_e12").desc(), "p_partkey")
        .limit(PAGERANK_TOP_K)
        .persist()
    )
    result.count()  # materialize the plain cache off the checkpoints
    _release_rdds(sc, checkpoint_ids)
    return result


copurchase_pagerank.__doc__ = copurchase_pagerank.__doc__.format(
    PAGERANK_ITERS=PAGERANK_ITERS, PAGERANK_TOP_K=PAGERANK_TOP_K
)
