"""Product-quantization (PQ-ADC) approximate nearest neighbor search.

The fourth tier of the similarity stack (similarity.py: exact bruteforce
/ Arrow GEMM; similarity_rp_lsh: hyperplane buckets; similarity_ivf_*:
coarse-quantizer cells).  PQ attacks a different axis: MEMORY.  Each
vector is compressed to M one-byte-ish codes (here M=8 subspaces ×
KSUB=32 codewords → 8 5-bit codes ≈ 5 bytes for a 64-dim float vector, a
64× compression), and queries score the COMPRESSED corpus through a
per-query lookup table — the asymmetric-distance (ADC) scheme of Jégou,
Douze & Schmid, "Product Quantization for Nearest Neighbor Search"
(TPAMI 2011), re-expressed for Spark:

- **Train** (driver): per-subspace Lloyd k-means on the same BOUNDED
  sample discipline as IVF (`TRAIN_SAMPLE` cap) — codebooks need a
  density sketch, never the corpus.
- **Encode** (executors): one `mapInPandas` pass; per Arrow batch each
  subvector argmins its subspace codebook (a small GEMM per subspace).
  The encoded corpus is (vec_id, M small ints) — at 100 TB this is the
  table that REPLACES the raw vectors for scan-heavy search, shrinking
  both the shuffle and the working set by ~the compression factor.
- **Search** (executors): the per-query LUT — lut[m][k] = ⟨q_m, c_{m,k}⟩
  — is tiny ((N_QUERIES, M, KSUB) float64, broadcast in the kernel
  closure); ADC score = Σ_m lut[m][code_m], a pure take-and-sum over the
  codes, no float vectors touched.  The ADC top-`RERANK` per query then
  re-ranks EXACTLY against the raw embeddings (the standard two-stage
  deployment: compressed scan → exact tail), so emitted cosines are
  true cosines, not quantized estimates.

Determinism: subspace k-means inits at every (n // KSUB)-th sample row
in vec_id order and runs fixed float64 Lloyd iterations (the IVF
convention), so codes, LUTs, ADC scores and the final top-k are
bit-stable across runs (rows-only driver check; recall vs. the exact
bruteforce and determinism are pinned in tests/test_similarity_pq.py).
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
from googlecloudstorage_blueprints_spark.operators.similarity_ivf import (
    _sample_training_rows,
)

N_QUERIES = 5
TOP_K = 10
M_SUBSPACES = 8     # subspaces (64-dim fixture → 8 dims each)
KSUB = 32           # codewords per subspace codebook
TRAIN_ITERS = 5
RERANK = 200        # ADC survivors re-ranked exactly per query


def _train_codebooks(sample: list[list[float]]):
    """Per-subspace Lloyd k-means on the driver sample.  Returns an
    (M, KSUB, dsub) float64 ndarray of codebooks over L2-normalized
    inputs (ADC then approximates the cosine as a sum of subspace dot
    products)."""
    import numpy as np

    x = np.asarray(sample, dtype=np.float64)
    x = x / np.linalg.norm(x, axis=1, keepdims=True)
    dsub = x.shape[1] // M_SUBSPACES
    books = np.empty((M_SUBSPACES, KSUB, dsub))
    for m in range(M_SUBSPACES):
        xm = x[:, m * dsub : (m + 1) * dsub]
        step = max(len(xm) // KSUB, 1)
        cent = xm[::step][:KSUB].copy()
        for _ in range(TRAIN_ITERS):
            # L2 assignment: ||x-c||² = ||x||² - 2<x,c> + ||c||²;
            # argmin over c drops the x term
            d2 = (cent * cent).sum(axis=1)[None, :] - 2.0 * (xm @ cent.T)
            assign = d2.argmin(axis=1)
            for k in range(len(cent)):
                members = xm[assign == k]
                if len(members):
                    cent[k] = members.mean(axis=0)
        books[m] = cent
    return books


def _encode_kernel(books):
    """mapInPandas kernel: PQ codes per row (M small GEMMs per batch)."""

    def kernel(batches: Iterator) -> Iterator:
        import numpy as np
        import pandas as pd

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
                    "codes": list(codes),
                }
            )

    return kernel


def _adc_kernel(luts, query_ids):
    """mapInPandas kernel: ADC scores for every query against each
    encoded row — a take-and-sum over the code columns; the raw vectors
    never appear."""

    def kernel(batches: Iterator) -> Iterator:
        import numpy as np
        import pandas as pd

        for pdf in batches:
            if pdf.empty:
                continue
            codes = np.vstack(pdf["codes"].to_numpy())  # (n, M)
            vec_ids = pdf["vec_id"].to_numpy()
            frames = []
            for qi, qid in enumerate(query_ids):
                # luts[qi]: (M, KSUB); fancy-index per subspace and sum
                score = np.zeros(len(codes))
                for m in range(M_SUBSPACES):
                    score += luts[qi][m][codes[:, m]]
                frames.append(
                    pd.DataFrame(
                        {
                            "query_id": np.int64(qid),
                            "vec_id": vec_ids,
                            "adc": score,
                        }
                    )
                )
            yield pd.concat(frames)

    return kernel


@register("similarity_knn_pq")  # rows-only: ANN recall is approximate by design
def similarity_knn_pq(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PQ-ADC ANN: per-subspace codebooks → ~5-byte codes (8 subspaces
    × 5-bit centroids) → LUT scan of the compressed corpus → exact
    re-rank of the ADC top-RERANK.

    Scale: the scan stage touches only (vec_id, codes) — the compressed
    table is ~64× smaller than the embeddings, so the full-corpus pass
    that bruteforce pays in float GEMMs becomes a byte-table
    take-and-sum; the only float work left is the |RERANK|-row exact
    tail per query.  Composes with IVF at production scale (IVF-PQ:
    probe cells, ADC within them) — kept separate here so each tier's
    recall is pinned independently."""
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
    books = _train_codebooks([r["embedding"] for r in train_rows])

    n_parts = max(8, spark.sparkContext.defaultParallelism // 4)
    encoded = (
        emb.select("vec_id", "embedding")
        .repartition(n_parts, "vec_id")
        .mapInPandas(
            _encode_kernel(books), schema="vec_id long, codes array<int>"
        )
    )

    q_rows = sorted(
        emb.select("vec_id", "embedding")
        .where(F.col("vec_id") < N_QUERIES)
        .collect(),
        key=itemgetter("vec_id"),
    )
    q_mat = np.asarray([r["embedding"] for r in q_rows], dtype=np.float64)
    q_mat = q_mat / np.linalg.norm(q_mat, axis=1, keepdims=True)
    dsub = books.shape[2]
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
    )  # (n_queries, M, KSUB)
    query_ids = [int(r["vec_id"]) for r in q_rows]

    adc = encoded.mapInPandas(
        _adc_kernel(luts, query_ids),
        schema="query_id long, vec_id long, adc double",
    ).where(F.col("vec_id") != F.col("query_id"))

    # ADC shortlist: top-RERANK per query (WindowGroupLimit cuts
    # map-side), deterministic (adc DESC, vec_id) order
    w_adc = Window.partitionBy("query_id").orderBy(
        F.col("adc").desc(), F.col("vec_id")
    )
    shortlist = (
        adc.withColumn("adc_rk", F.row_number().over(w_adc))
        .where(F.col("adc_rk") <= RERANK)
        .select("query_id", "vec_id")
    )

    # exact tail: join the shortlist back to raw embeddings, true cosine
    # LocalRelation (r18): N_QUERIES rows of driver data — no Python
    # RDD at materialization
    probes = local_rows_frame(
        spark,
        [(int(r["vec_id"]), r["embedding"]) for r in q_rows],
        "query_id long, qv array<float>",
    )
    scored = (
        shortlist.join(emb.select("vec_id", "embedding"), "vec_id")
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
        .where(F.col("rk") <= TOP_K)
        .select(
            "query_id",
            "neighbor_id",
            F.round("cos_raw", 6).alias("cosine"),
            "rk",
        )
    )


def ivfpq_topk(
    spark: SparkSession,
    sf_dir: str,
    nprobe: int | None = None,
) -> DataFrame:
    """IVF-PQ composition — the production deployment the two learned
    tiers exist for: IVF's coarse quantizer cuts the SCAN (each query
    probes ``nprobe`` of N_CELLS cells), PQ's codes cut the MEMORY (the
    probed cells are scanned as ~5-byte codes through the ADC LUT), and
    the exact tail re-ranks the survivors.  Library function rather
    than a registered operator: both constituents carry their own
    driver-adjudicated keys and recall pins; this proves they compose
    (tests/test_similarity_pq.py pins the composed recall).

    Scale: cost per query ≈ (nprobe / N_CELLS) × the PQ scan — the two
    reductions multiply.  The corpus is collected nowhere; training
    stays bounded by TRAIN_SAMPLE via both constituents' samplers."""
    import numpy as np

    from googlecloudstorage_blueprints_spark.operators.similarity_ivf import (
        N_CELLS,
        NPROBE,
        _assign_kernel,
        _train_centroids,
    )

    nprobe = NPROBE if nprobe is None else nprobe
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
    train = [r["embedding"] for r in train_rows]
    centroids = _train_centroids(train)
    books = _train_codebooks(train)

    n_parts = max(8, spark.sparkContext.defaultParallelism // 4)
    base = emb.select("vec_id", "embedding").repartition(
        n_parts, "vec_id"
    )
    # one pass assigns the cell, a second encodes the codes; both are
    # map-side Arrow kernels over the same partitioning
    assigned = base.mapInPandas(
        _assign_kernel(centroids),
        schema="vec_id long, embedding array<float>, cell int",
    )
    encoded = assigned.mapInPandas(
        _with_cell_encode_kernel(books),
        schema="vec_id long, cell int, codes array<int>",
    )

    q_rows = sorted(
        emb.select("vec_id", "embedding")
        .where(F.col("vec_id") < N_QUERIES)
        .collect(),
        key=itemgetter("vec_id"),
    )
    q_mat = np.asarray([r["embedding"] for r in q_rows], dtype=np.float64)
    q_mat = q_mat / np.linalg.norm(q_mat, axis=1, keepdims=True)
    probe_rank = (q_mat @ centroids.T).argsort(axis=1)[:, ::-1][:, :nprobe]
    dsub = books.shape[2]
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
    query_ids = [int(r["vec_id"]) for r in q_rows]
    probe_cells = {
        qid: {int(c) for c in cells}
        for qid, cells in zip(query_ids, probe_rank)
    }

    adc = encoded.mapInPandas(
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
    # LocalRelation (r18): N_QUERIES rows of driver data — no Python
    # RDD at materialization
    probes = local_rows_frame(
        spark,
        [(int(r["vec_id"]), r["embedding"]) for r in q_rows],
        "query_id long, qv array<float>",
    )
    scored = (
        shortlist.join(emb.select("vec_id", "embedding"), "vec_id")
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
        .where(F.col("rk") <= TOP_K)
        .select(
            "query_id",
            "neighbor_id",
            F.round("cos_raw", 6).alias("cosine"),
            "rk",
        )
    )


def _with_cell_encode_kernel(books):
    """Encode kernel variant that carries the IVF cell id through."""
    from collections.abc import Iterator as _It  # noqa: F401

    def kernel(batches):
        import numpy as np
        import pandas as pd

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
                    "cell": pdf["cell"].to_numpy(),
                    "codes": list(codes),
                }
            )

    return kernel


def _adc_probed_kernel(luts, query_ids, probe_cells):
    """ADC kernel variant that scores each query ONLY against rows in
    its probed cells — the IVF scan cut applied to the PQ table."""

    def kernel(batches):
        import numpy as np
        import pandas as pd

        for pdf in batches:
            if pdf.empty:
                continue
            codes = np.vstack(pdf["codes"].to_numpy())
            cells = pdf["cell"].to_numpy()
            vec_ids = pdf["vec_id"].to_numpy()
            frames = []
            for qi, qid in enumerate(query_ids):
                mask = np.isin(cells, list(probe_cells[qid]))
                if not mask.any():
                    continue
                sub = codes[mask]
                score = np.zeros(len(sub))
                for m in range(M_SUBSPACES):
                    score += luts[qi][m][sub[:, m]]
                frames.append(
                    pd.DataFrame(
                        {
                            "query_id": np.int64(qid),
                            "vec_id": vec_ids[mask],
                            "adc": score,
                        }
                    )
                )
            if frames:
                yield pd.concat(frames)

    return kernel
