"""Persisted IVF index: train → write cell-partitioned corpus → search
with partition pruning.

``similarity_knn_ivf`` (operators/similarity_ivf.py) proves the IVF
query plan on an in-session assignment; its docstring claims that "at
scale the corpus is written bucketed-by-cell once and every query after
that touches NPROBE/N_CELLS of the data".  This module makes that claim
runnable code:

- :func:`build_ivf_index` — k-means on a bounded sample (the operator's
  own trainer), one assignment GEMM pass, then the corpus written
  partitioned by ``cell`` next to a ``centroids.parquet`` sidecar.  At
  100 TB this is the one full pass the index costs.
- :func:`search_ivf_index` — loads the sidecar (|cells|×dim — driver
  trivial), picks each query's NPROBE nearest cells, and reads ONLY
  those partitions: the ``cell IN (...)`` filter prunes at the file
  listing, so the scan touches nprobe/n_cells of the files — verified
  by plan assertion in tests (PartitionFilters, not a post-scan
  filter).  Survivors get exact cosine + the deterministic top-k
  window.
- :func:`append_ivf_index` / :func:`append_ivfpq_index` — incremental
  shards (r10): new vectors are assigned to the EXISTING centroids (no
  retrain — the production norm; retraining would silently invalidate
  every stored assignment), and the writer runs in append mode, so
  only NEW part-files land inside the touched ``cell=`` directories —
  existing files are never rewritten.  Pinned equal to a one-shot
  assignment of the full corpus under the same quantizer
  (tests/test_ann_index.py).

The search results are pinned identical to the in-session
``similarity_knn_ivf`` operator (same trainer, same probe rule, same
tie order), so the persisted path inherits its pinned recall.
"""

from __future__ import annotations

from operator import itemgetter

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession, Window

from googlecloudstorage_blueprints_spark.functions.columns import (
    cosine_similarity as _cosine,
)
from googlecloudstorage_blueprints_spark.functions.frames import (
    local_rows_frame,
)
from googlecloudstorage_blueprints_spark.operators.similarity_ivf import (
    N_CELLS,
    NPROBE,
    TOP_K,
    _assign_kernel,
    _sample_training_rows,
    _train_centroids,
)
from googlecloudstorage_blueprints_spark.sources.catalog import load_table


# Search plans the probe list driver-side (one row per query), so the
# query frame is collected — fine for a query BATCH, wrong for a
# data-sized frame.  The guard keeps the contract explicit: a caller
# with more queries than this should chunk them (or join query-side,
# at which point it's the operator tiers' problem, not the index's).
SEARCH_QUERY_MAX = 10_000


def _collect_query_batch(queries: DataFrame, fn_name: str) -> list:
    """Pull the caller's query frame ONCE, enforcing the batch ceiling.

    The caller's frame may be a computed plan; a separate guard count
    would evaluate it twice per search (r13 ADVICE).  TakeOrdered of
    SEARCH_QUERY_MAX+1 rows both enforces the ceiling and returns the
    query_id-sorted rows the search kernels need — one job, no global
    sort."""
    rows = (
        queries.orderBy("query_id")
        .limit(SEARCH_QUERY_MAX + 1)
        .collect()
    )
    if len(rows) > SEARCH_QUERY_MAX:
        raise ValueError(
            f"{fn_name}: query frame exceeds the driver-side batch "
            f"ceiling of {SEARCH_QUERY_MAX:,} rows. Chunk the queries "
            "into batches at or under the ceiling and call search per "
            "batch."
        )
    return rows


def _assign_cells(spark: SparkSession, emb: DataFrame, centroids):
    """(vec_id, embedding) → + cell, Arrow-batched against the given
    quantizer — the one code path shared by build and append so an
    appended shard is assigned EXACTLY like the original corpus."""
    n_parts = max(8, spark.sparkContext.defaultParallelism // 4)
    return (
        emb.select("vec_id", "embedding")
        .repartition(n_parts, "vec_id")
        .mapInPandas(
            _assign_kernel(centroids),
            schema="vec_id long, embedding array<float>, cell int",
        )
    )


def _load_centroids(spark: SparkSession, index_path: str):
    import numpy as np

    cent_rows = sorted(
        spark.read.parquet(f"{index_path}/centroids")
        .collect(),  # bounded: the sidecar is ≤ N_CELLS rows by build
        key=itemgetter("cell"),
    )
    return np.asarray(
        [r["centroid"] for r in cent_rows], dtype=np.float64
    )


def build_ivf_index(
    spark: SparkSession, sf_dir: str, index_path: str
) -> int:
    """Train the coarse quantizer and write the cell-partitioned corpus
    plus the centroid sidecar; returns the number of indexed vectors."""
    emb = load_table(spark, sf_dir, "embeddings")
    n_corpus = emb.count()
    train_rows = _sample_training_rows(emb, n_corpus)
    centroids = _train_centroids([r["embedding"] for r in train_rows])

    assigned = _assign_cells(spark, emb, centroids)
    # one file set per cell: the partition column IS the probe key
    assigned.write.mode("overwrite").partitionBy("cell").parquet(
        f"{index_path}/corpus"
    )
    cent_rows = [
        (int(i), [float(x) for x in c]) for i, c in enumerate(centroids)
    ]
    local_rows_frame(
        spark, cent_rows, schema="cell int, centroid array<double>"
    ).coalesce(1).write.mode("overwrite").parquet(
        f"{index_path}/centroids"
    )
    return n_corpus


def _guard_append_overlap(
    spark: SparkSession, index_path: str, new_vectors: DataFrame
) -> None:
    """Refuse an append whose ids collide with the indexed corpus.

    Contract: vec_ids are append-monotone (the CLI's ``--min-vec-id``
    convention), so disjointness reduces to ``min(new) > max(existing)``
    — two column-pruned MIN/MAX scans, no join against the corpus.  A
    duplicated vec_id would silently occupy multiple top-k slots at
    search time."""
    lo = new_vectors.agg(F.min("vec_id")).first()[0]
    hi = (
        spark.read.parquet(f"{index_path}/corpus")
        .agg(F.max("vec_id"))
        .first()[0]
    )
    if lo is not None and hi is not None and lo <= hi:
        raise ValueError(
            f"append overlap: new min vec_id {lo} <= indexed max {hi}; "
            "ids must be append-monotone (or pass guard_overlap=False "
            "and own disjointness)"
        )


def append_ivf_index(
    spark: SparkSession,
    index_path: str,
    new_vectors: DataFrame,
    guard_overlap: bool = True,
) -> int:
    """Append a shard to an existing IVF index: assign ``new_vectors``
    (vec_id long, embedding array<float>) to the EXISTING centroids —
    no retrain, so every prior assignment stays valid — and write in
    append mode: only new part-files are created inside the touched
    ``cell=`` directories; nothing already in the index is rewritten.
    Returns the number of vectors appended.

    Id contract: vec_ids already in the index must NOT reappear in
    ``new_vectors`` — a duplicate would be indexed twice and can occupy
    multiple top-k slots at search time.  With ``guard_overlap`` (the
    default) the append refuses ids at-or-below the indexed maximum
    (the CLI's ``--min-vec-id`` monotone convention); callers with a
    non-monotone id space may pass ``guard_overlap=False`` and own
    disjointness themselves."""
    if guard_overlap:
        _guard_append_overlap(spark, index_path, new_vectors)
    centroids = _load_centroids(spark, index_path)
    assigned = _assign_cells(spark, new_vectors, centroids)
    assigned.write.mode("append").partitionBy("cell").parquet(
        f"{index_path}/corpus"
    )
    return new_vectors.count()


def search_ivf_index(
    spark: SparkSession,
    index_path: str,
    queries: DataFrame,
    k: int = TOP_K,
    nprobe: int = NPROBE,
) -> DataFrame:
    """ANN top-k against a persisted index.  ``queries`` carries
    (query_id long, qv array<float>); only the probed cells' partitions
    are read (filter pushed to the file listing)."""
    import numpy as np

    centroids = _load_centroids(spark, index_path)

    q_rows = _collect_query_batch(queries, "search_ivf_index")
    q_mat = np.asarray(
        [r["qv"] for r in q_rows], dtype=np.float64
    )
    q_mat = q_mat / np.linalg.norm(q_mat, axis=1, keepdims=True)
    probe_rank = (q_mat @ centroids.T).argsort(axis=1)[:, ::-1][:, :nprobe]
    probes = local_rows_frame(
        spark,
        [
            (int(r["query_id"]), r["qv"], int(cell))
            for r, cells in zip(q_rows, probe_rank)
            for cell in cells
        ],
        schema="query_id long, qv array<float>, cell int",
    )
    probed_cells = sorted({int(c) for row in probe_rank for c in row})

    corpus = spark.read.parquet(f"{index_path}/corpus").where(
        F.col("cell").isin(probed_cells)  # partition-pruned read
    )
    scored = (
        corpus.join(F.broadcast(probes), "cell")
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
        .where(F.col("rk") <= k)
        .select(
            "query_id",
            "neighbor_id",
            F.round("cos_raw", 6).alias("cosine"),
            "rk",
        )
    )


# ---------------------------------------------------------------------------
# IVF-PQ: codes stored beside the vectors, ADC scan over probed cells
# ---------------------------------------------------------------------------

def _full_row_encode_kernel(books):
    """(vec_id, embedding, cell) → + PQ codes, vectors kept (the
    persisted corpus serves both the ADC scan — codes only, column-
    pruned — and the exact re-rank — embeddings by vec_id)."""

    def kernel(batches):
        import numpy as np
        import pandas as pd

        from googlecloudstorage_blueprints_spark.operators.similarity_pq import (
            M_SUBSPACES,
        )

        dsub = books.shape[2]
        for pdf in batches:
            if pdf.empty:
                continue
            mat = np.vstack(pdf["embedding"].to_numpy()).astype(np.float64)
            mat = mat / np.linalg.norm(mat, axis=1, keepdims=True)
            codes = np.empty((len(mat), M_SUBSPACES), dtype=np.int32)
            for m in range(M_SUBSPACES):
                xm = mat[:, m * dsub : (m + 1) * dsub]
                cent = books[m]
                d2 = (cent * cent).sum(axis=1)[None, :] - 2.0 * (
                    xm @ cent.T
                )
                codes[:, m] = d2.argmin(axis=1)
            yield pd.DataFrame(
                {
                    "vec_id": pdf["vec_id"].to_numpy(),
                    "embedding": pdf["embedding"],
                    "codes": list(codes),
                    "cell": pdf["cell"].to_numpy(),
                }
            )

    return kernel


def build_ivfpq_index(
    spark: SparkSession, sf_dir: str, index_path: str
) -> int:
    """Train coarse quantizer + PQ codebooks on the same bounded sample,
    write the corpus (vectors AND ~5-byte codes) partitioned by cell,
    plus centroid and codebook sidecars; returns the vector count."""
    import numpy as np

    from googlecloudstorage_blueprints_spark.operators.similarity_pq import (
        _train_codebooks,
    )

    emb = load_table(spark, sf_dir, "embeddings")
    n_corpus = emb.count()
    train_rows = _sample_training_rows(emb, n_corpus)
    train = [r["embedding"] for r in train_rows]
    centroids = _train_centroids(train)
    books = _train_codebooks(train)

    encoded = _assign_cells(spark, emb, centroids).mapInPandas(
        _full_row_encode_kernel(books),
        schema=(
            "vec_id long, embedding array<float>, codes array<int>, "
            "cell int"
        ),
    )
    encoded.write.mode("overwrite").partitionBy("cell").parquet(
        f"{index_path}/corpus"
    )
    local_rows_frame(
        spark,
        [
            (int(i), [float(x) for x in c])
            for i, c in enumerate(centroids)
        ],
        schema="cell int, centroid array<double>",
    ).coalesce(1).write.mode("overwrite").parquet(
        f"{index_path}/centroids"
    )
    m_dim, k_dim, dsub = books.shape
    local_rows_frame(
        spark,
        [
            (int(m), int(k), [float(x) for x in books[m, k]])
            for m in range(m_dim)
            for k in range(k_dim)
        ],
        schema="m int, k int, codeword array<double>",
    ).coalesce(1).write.mode("overwrite").parquet(
        f"{index_path}/codebooks"
    )
    return n_corpus


def _load_codebooks(spark: SparkSession, index_path: str):
    import numpy as np

    book_rows = sorted(
        spark.read.parquet(f"{index_path}/codebooks")
        .collect(),  # bounded: sidecar is M_SUBSPACES × 256 rows by build
        key=itemgetter("m", "k"),
    )
    m_dim = max(r["m"] for r in book_rows) + 1
    k_dim = max(r["k"] for r in book_rows) + 1
    dsub = len(book_rows[0]["codeword"])
    books = np.empty((m_dim, k_dim, dsub))
    for r in book_rows:
        books[r["m"], r["k"]] = r["codeword"]
    return books


def append_ivfpq_index(
    spark: SparkSession,
    index_path: str,
    new_vectors: DataFrame,
    guard_overlap: bool = True,
) -> int:
    """Append a shard to an existing IVF-PQ index: assign + PQ-encode
    ``new_vectors`` against the EXISTING centroid and codebook sidecars
    (no retrain) and append-write — only new part-files land in the
    touched ``cell=`` directories.  Returns the appended count.

    Same id contract as :func:`append_ivf_index`: duplicates of already
    indexed vec_ids are refused under ``guard_overlap`` (min(new) must
    exceed the indexed max); pass ``guard_overlap=False`` only if the
    caller guarantees disjointness."""
    if guard_overlap:
        _guard_append_overlap(spark, index_path, new_vectors)
    centroids = _load_centroids(spark, index_path)
    books = _load_codebooks(spark, index_path)
    encoded = _assign_cells(spark, new_vectors, centroids).mapInPandas(
        _full_row_encode_kernel(books),
        schema=(
            "vec_id long, embedding array<float>, codes array<int>, "
            "cell int"
        ),
    )
    encoded.write.mode("append").partitionBy("cell").parquet(
        f"{index_path}/corpus"
    )
    return new_vectors.count()


def search_ivfpq_index(
    spark: SparkSession,
    index_path: str,
    queries: DataFrame,
    k: int = TOP_K,
    nprobe: int = NPROBE,
) -> DataFrame:
    """IVF-PQ search against the persisted index: probe cells
    (partition-pruned read), ADC-scan their CODES (column pruning drops
    the vectors from the scan), exact-re-rank the top-RERANK survivors
    from the stored embeddings — the full production query path with
    nothing held in session state between queries."""
    import numpy as np

    from googlecloudstorage_blueprints_spark.operators.similarity_pq import (
        M_SUBSPACES,
        RERANK,
        _adc_probed_kernel,
    )

    centroids = _load_centroids(spark, index_path)
    books = _load_codebooks(spark, index_path)
    dsub = books.shape[2]

    q_rows = _collect_query_batch(queries, "search_ivfpq_index")
    q_mat = np.asarray([r["qv"] for r in q_rows], dtype=np.float64)
    q_mat = q_mat / np.linalg.norm(q_mat, axis=1, keepdims=True)
    probe_rank = (q_mat @ centroids.T).argsort(axis=1)[:, ::-1][:, :nprobe]
    luts = np.stack(
        [
            np.stack(
                [
                    books[m] @ q[m * dsub : (m + 1) * dsub]
                    for m in range(M_SUBSPACES)
                ]
            )
            for q in q_mat
        ]
    )
    query_ids = [int(r["query_id"]) for r in q_rows]
    probe_cells = {
        qid: {int(c) for c in cells}
        for qid, cells in zip(query_ids, probe_rank)
    }
    all_cells = sorted({c for s in probe_cells.values() for c in s})

    corpus = spark.read.parquet(f"{index_path}/corpus").where(
        F.col("cell").isin(all_cells)  # partition-pruned
    )
    adc = corpus.select("vec_id", "cell", "codes").mapInPandas(
        _adc_probed_kernel(luts, query_ids, probe_cells),
        schema="query_id long, vec_id long, adc double",
    ).where(F.col("vec_id") != F.col("query_id"))

    w_adc = Window.partitionBy("query_id").orderBy(
        F.col("adc").desc(), F.col("vec_id")
    )
    shortlist = (
        adc.withColumn("adc_rk", F.row_number().over(w_adc))
        .where(F.col("adc_rk") <= RERANK)
        .select("query_id", "vec_id")
    )
    probes = local_rows_frame(
        spark,
        [(int(r["query_id"]), r["qv"]) for r in q_rows],
        schema="query_id long, qv array<float>",
    )
    scored = (
        shortlist.join(corpus.select("vec_id", "embedding"), "vec_id")
        .join(F.broadcast(probes), "query_id")
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
        .where(F.col("rk") <= k)
        .select(
            "query_id",
            "neighbor_id",
            F.round("cos_raw", 6).alias("cosine"),
            "rk",
        )
    )
