"""IVF (inverted-file) approximate nearest neighbor search.

The third tier of the similarity stack (see ``similarity.py``): where
``similarity_rp_lsh`` buckets by random-hyperplane signs, IVF partitions the
corpus by a learned coarse quantizer — k-means cells — and each query probes
only its ``NPROBE`` nearest cells.  This is the FAISS-style IVF-Flat layout
re-expressed for Spark:

- **Train** (driver): Lloyd iterations on a bounded sample.  At fixture
  scale the sample is the corpus; at 100 TB it is ``TABLESAMPLE``-style
  sampled to ~100k rows — coarse quantizers need only a sketch of the
  density, so training cost is O(sample), never O(corpus).
- **Assign** (executors): one ``mapInPandas`` GEMM per Arrow batch against
  the broadcast centroid matrix — the same block-matrix pattern as
  ``similarity_knn_pandas``.  The cell id becomes the partitioning key, so
  at scale the corpus is written bucketed-by-cell once and every query
  after that touches ``NPROBE / N_CELLS`` of the data (here 6/16,
  production ~nprobe 8 of 4096 cells ≈ 0.2%).
- **Search** (executors): probe pairs (query_id, cell) are a tiny broadcast
  join against the assigned corpus; exact cosine + top-k window on the
  survivors only.

Determinism: centroid init takes every (n // K)-th vector in vec_id order,
Lloyd runs a fixed ``TRAIN_ITERS`` iterations in float64 — bit-stable
across runs, so the operator output is reproducible (rows-only driver
check; recall vs. the exact bruteforce is pinned in tests).
"""

from __future__ import annotations

from collections.abc import Iterator
from operator import itemgetter

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession, Window

from googlecloudstorage_blueprints_spark.functions.frames import (
    local_rows_frame,
)
from googlecloudstorage_blueprints_spark.functions.columns import (
    cosine_similarity as _cosine,  # single shared definition — parity-critical
)
from googlecloudstorage_blueprints_spark.operators import register
from googlecloudstorage_blueprints_spark.operators.similarity import (
    _valid_vectors,
)
from googlecloudstorage_blueprints_spark.sources.catalog import load_table

N_QUERIES = 5
TOP_K = 10
N_CELLS = 16
NPROBE = 6  # fixture vectors are weakly clustered (near-random 64-dim);
# 6/16 cells ≈ 0.87 recall@10.  Real embedding corpora cluster far more
# sharply, which is what lets production IVF run nprobe/cells ≈ 0.2%.
TRAIN_ITERS = 5
TRAIN_SAMPLE = 100_000  # hard cap on rows collected for k-means training —
# a coarse quantizer needs a sketch of the density, not the corpus; the
# driver never materializes more than this regardless of corpus size


def _sample_training_rows(emb: DataFrame, n_corpus: int) -> list:
    """The bounded, deterministic trainer sample of ``(vec_id, embedding)``
    rows, sorted by vec_id, shared by every quantizer build.

    The driver materializes at most TRAIN_SAMPLE rows.  Under the cap the
    sample IS the corpus (fixture SFs all fit); above it a seeded
    Bernoulli sample + limit keeps training O(TRAIN_SAMPLE) while the
    corpus stays distributed.  Sorting by vec_id makes the k-means init
    deterministic either way.  The sort runs on the driver: one job,
    where ``orderBy`` adds a sampling and a shuffle job, and the limit
    keeps the same rows under either (the first in partition order)."""
    sample_src = emb.select("vec_id", "embedding")
    if n_corpus > TRAIN_SAMPLE:
        fraction = min(1.0, (TRAIN_SAMPLE * 1.2) / n_corpus)
        sample_src = sample_src.sample(fraction=fraction, seed=42).limit(
            TRAIN_SAMPLE
        )
    # bounded: TRAIN_SAMPLE rows
    return sorted(sample_src.collect(), key=itemgetter("vec_id"))


def _train_centroids(sample: list[list[float]]):
    """Lloyd's k-means on the driver sample (float64, deterministic init:
    every (n//K)-th vector in input order).  Returns (K, dim) ndarray of
    L2-normalized centroids — cosine assignment then reduces to argmax of
    a dot product."""
    import numpy as np

    x = np.asarray(sample, dtype=np.float64)
    x = x / np.linalg.norm(x, axis=1, keepdims=True)
    step = max(len(x) // N_CELLS, 1)
    cent = x[::step][:N_CELLS].copy()
    for _ in range(TRAIN_ITERS):
        assign = (x @ cent.T).argmax(axis=1)
        for k in range(len(cent)):
            members = x[assign == k]
            if len(members):
                c = members.mean(axis=0)
                cent[k] = c / np.linalg.norm(c)
    return cent


def _assign_kernel(centroids):
    """mapInPandas kernel: nearest-centroid id per row (one GEMM/batch)."""

    def kernel(batches: Iterator) -> Iterator:
        import numpy as np
        import pandas as pd

        for pdf in batches:
            if pdf.empty:
                continue
            mat = np.vstack(pdf["embedding"].to_numpy()).astype(np.float64)
            mat = mat / np.linalg.norm(mat, axis=1, keepdims=True)
            cells = (mat @ centroids.T).argmax(axis=1)
            yield pd.DataFrame(
                {
                    "vec_id": pdf["vec_id"].to_numpy(),
                    "embedding": pdf["embedding"],
                    "cell": cells.astype("int32"),
                }
            )

    return kernel


@register("similarity_knn_ivf")  # rows-only: ANN recall is approximate by design
def similarity_knn_ivf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF-Flat ANN: k-means coarse quantizer → cell assignment → probe the
    NPROBE nearest cells per query → exact cosine + top-k on survivors.

    Scale: the quadratic stage is gone — each query scores only the rows in
    its probed cells.  The assignment GEMM is embarrassingly parallel, and
    ``repartition(cell)`` makes every probe a partition-pruned read when the
    assigned corpus is persisted bucketed by cell."""
    import numpy as np

    emb = _valid_vectors(load_table(spark, sf_dir, "embeddings"))

    train_rows = _sample_training_rows(emb, emb.count())
    if not train_rows:
        # zero-row input (empty-catalog audit, r17): nothing to train on,
        # nothing to search — an empty typed frame, not a numpy error
        return local_rows_frame(
            spark,
            [],
            "query_id long, neighbor_id long, cosine double, rk long",
        )
    centroids = _train_centroids([r["embedding"] for r in train_rows])

    # -- assign every corpus vector to its cell (Arrow-batched GEMM)
    n_parts = max(8, spark.sparkContext.defaultParallelism // 4)
    assigned = (
        emb.select("vec_id", "embedding")
        .repartition(n_parts, "vec_id")
        .mapInPandas(
            _assign_kernel(centroids),
            schema="vec_id long, embedding array<float>, cell int",
        )
    )

    # -- probe list per query: NPROBE nearest centroids (driver-side; the
    #    query block is N_QUERIES rows, collected separately so it never
    #    depends on the training sample containing them)
    q_rows = sorted(
        emb.select("vec_id", "embedding")
        .where(F.col("vec_id") < N_QUERIES)
        .collect(),
        key=itemgetter("vec_id"),
    )
    q_mat = np.asarray([r["embedding"] for r in q_rows], dtype=np.float64)
    q_mat = q_mat / np.linalg.norm(q_mat, axis=1, keepdims=True)
    probe_rank = (q_mat @ centroids.T).argsort(axis=1)[:, ::-1][:, :NPROBE]
    # LocalRelation (r18): the query×probe fan-out is N_QUERIES·NPROBE
    # rows of driver data — no Python RDD at materialization
    probes = local_rows_frame(
        spark,
        [
            (int(r["vec_id"]), r["embedding"], int(cell))
            for r, cells in zip(q_rows, probe_rank)
            for cell in cells
        ],
        "query_id long, qv array<float>, cell int",
    )

    # -- search only the probed cells: broadcast the probe pairs, exact
    #    cosine on survivors, deterministic top-k
    scored = (
        assigned.join(F.broadcast(probes), "cell")
        .where(F.col("vec_id") != F.col("query_id"))
        .select(
            "query_id",
            F.col("vec_id").alias("neighbor_id"),
            _cosine("qv", "embedding").alias("cos_raw"),
        )
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("cos_raw").desc(), F.col("neighbor_id")
    )
    return (
        scored.withColumn("rk", F.row_number().over(w).cast("long"))
        .where(F.col("rk") <= TOP_K)
        .select(
            "query_id",
            "neighbor_id",
            F.round("cos_raw", 6).alias("cosine"),
            "rk",
        )
    )
