"""Job budgets for the similarity builds, and the driver-side sort of
their bounded collects.

A build is the call that returns an operator's frame.  Its Spark jobs are
counted through a job group and the status tracker, as ``perfbench``
counts them: counts of work, which host noise cannot move.  A build that
sorts a bounded collect with ``orderBy`` (a sampling and a shuffle job
more) or counts rows before collecting them goes over its ceiling."""

from __future__ import annotations

import pytest

from googlecloudstorage_blueprints_spark.operators import all_queries
from googlecloudstorage_blueprints_spark.operators import similarity_ivf
from googlecloudstorage_blueprints_spark.sources.catalog import load_table

# warm build-time jobs at sf0.001 (local[4]); before the driver-side
# sorts and the folded exact-tier guard they were 8 and 3
BUILD_JOB_CEILING = {"similarity_knn_pq": 4, "similarity_knn_pandas": 1}


@pytest.mark.parametrize("op", sorted(BUILD_JOB_CEILING))
def test_warm_build_job_ceiling(spark, sf_dir, op):
    build = all_queries()[op]
    build(spark, sf_dir)  # cold: first load of the catalog table
    sc = spark.sparkContext
    group = f"build-jobs-{op}"
    sc.setJobGroup(group, f"warm {op} build")
    try:
        build(spark, sf_dir)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    n_jobs = len(sc.statusTracker().getJobIdsForGroup(group))
    assert 0 < n_jobs <= BUILD_JOB_CEILING[op]


def test_training_sample_keeps_the_rows_orderby_kept(
    spark, sf_dir, monkeypatch
):
    """Above TRAIN_SAMPLE the sample is cut by ``limit``; collecting and
    sorting on the driver keeps the same rows, in the same order, as
    ``orderBy`` before the collect did, over a multi-partition input."""
    cap = 200
    monkeypatch.setattr(similarity_ivf, "TRAIN_SAMPLE", cap)
    emb = load_table(spark, sf_dir, "embeddings").repartition(4, "vec_id")
    n_corpus = emb.count()
    sampled = emb.select("vec_id", "embedding").sample(
        fraction=min(1.0, cap * 1.2 / n_corpus), seed=42
    )
    assert sampled.count() > cap, "the limit must cut for this to test it"
    rows = similarity_ivf._sample_training_rows(emb, n_corpus)
    assert len(rows) == cap
    assert rows == sampled.limit(cap).orderBy("vec_id").collect()
