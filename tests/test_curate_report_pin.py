"""Fast-lane pins of ``curate_corpus``: the full report, the written rows
and the number of Spark jobs of one warm call.

``tests/test_pipelines.py`` checks the pipeline's invariants but runs only
under ``-m ""``; these keep every ``CurationReport`` field, split counts
included, and the exact data written pinned in the default lane.
"""

from __future__ import annotations

import dataclasses
import hashlib

import pytest

from googlecloudstorage_blueprints_spark.pipelines import curate_corpus

# one warm call over the sf0.001 fixture ran 69 jobs (70 on some calls:
# AQE's stage count can vary) when every stage was a persisted frame
# that later plans re-analysed; with a checkpoint per stage it runs 48,
# and a cold call 50
WARM_JOB_CEILING = 50


@pytest.fixture(scope="module")
def curated(spark, sf_dir, tmp_path_factory):
    out = f"file:{tmp_path_factory.mktemp('curate_pin')}/curated"
    return curate_corpus(spark, sf_dir, out), out


def test_curate_corpus_report_is_pinned(curated):
    report, _ = curated
    assert dataclasses.asdict(report) == {
        "n_input": 500,
        "n_quality": 390,
        "n_deduped": 390,
        "n_near_deduped": 372,
        "n_sem_deduped": 340,
        "n_clean": 149,
        "n_redactions": 0,
        "split_counts": {"train": 123, "val": 10, "test": 16},
    }


def test_curate_corpus_written_rows_are_pinned(spark, curated):
    _, out = curated
    written = spark.read.parquet(out)
    cols = sorted(written.columns)
    rows = sorted(tuple(r) for r in written.select(cols).collect())
    assert len(rows) == 149
    digest = hashlib.md5(repr((cols, rows)).encode()).hexdigest()
    assert digest == "a714f35d7561ffec3ba555b5c64760a4"


def test_curate_corpus_with_no_survivors_reports_zeros(spark, sf_dir, tmp_path):
    """Gates nothing passes: every stage after the input is empty and
    nothing is written, which the report says instead of failing."""
    report = curate_corpus(
        spark, sf_dir, f"file:{tmp_path}/curated", min_chars=10**9
    )
    assert dataclasses.asdict(report) == {
        "n_input": 500,
        "n_quality": 0,
        "n_deduped": 0,
        "n_near_deduped": 0,
        "n_sem_deduped": 0,
        "n_clean": 0,
        "n_redactions": 0,
        "split_counts": {},
    }


def test_warm_curate_corpus_job_ceiling(spark, sf_dir, curated, tmp_path):
    """A warm call (the module fixture made the cold one) stays within
    the job ceiling; jobs are read from the status tracker by group."""
    sc = spark.sparkContext
    group = "curate-job-ceiling"
    sc.setJobGroup(group, "warm curate_corpus call")
    try:
        curate_corpus(spark, sf_dir, f"file:{tmp_path}/curated")
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    n_jobs = len(sc.statusTracker().getJobIdsForGroup(group))
    assert 0 < n_jobs <= WARM_JOB_CEILING
