"""Fast-lane pin of the full ``curate_corpus`` report.

``tests/test_pipelines.py`` checks the pipeline's invariants but runs only
under ``-m ""``; this one call keeps every ``CurationReport`` field,
split counts included, pinned in the default lane.
"""

from __future__ import annotations

import dataclasses

from googlecloudstorage_blueprints_spark.pipelines import curate_corpus


def test_curate_corpus_report_is_pinned(spark, sf_dir, tmp_path):
    report = curate_corpus(spark, sf_dir, f"file:{tmp_path}/curated")
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
