"""Persist hygiene: ops that cache intermediates must free them.

Round-3 verdict defect #3: ``events_hierarchical_rollup`` and
``similarity_rp_lsh`` persisted intermediates and never unpersisted, so
cached partitions accumulated across the driver's 98-query run.  The
repo convention is now: an op may persist intermediates, but it must
eagerly materialize its (result-sized) output and unpersist everything
else before returning — the ONLY cache an op leaves behind is its own
returned result, which the caller can free with ``df.unpersist()``.
"""

from __future__ import annotations

import os
import subprocess
import sys

import pytest

from googlecloudstorage_blueprints_spark.operators import all_queries

SF = "/root/testdata/sf0.001"
REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

# every operator that persists an intermediate frame
PERSISTING_OPS = [
    "minhash_lsh_dedup",
    "ngram_jaccard_dedup",
    "dedup_clusters",
    "pareto_revenue",
    "pareto_revenue_scale",
    "events_hierarchical_rollup",
    "similarity_rp_lsh",
    "benchmark_contamination",
    "source_vocab_overlap",
    "source_unigram_kl",
    "rfm_segments",
    "multimodal_phash_dedup",
    "events_sessionized_funnel",
    "sequence_pack",
    "chunk_dedup",
    "copurchase_pagerank",
]


def _persisted_ids(spark) -> set[int]:
    jmap = spark.sparkContext._jsc.sc().getPersistentRDDs()
    it = jmap.keysIterator()
    ids = set()
    while it.hasNext():
        ids.add(it.next())
    return ids


@pytest.mark.parametrize("name", PERSISTING_OPS)
def test_op_leaves_only_its_result_persisted(spark, name):
    before = _persisted_ids(spark)
    df = all_queries()[name](spark, SF)
    df.collect()
    df.unpersist(blocking=True)
    leaked = _persisted_ids(spark) - before
    assert not leaked, (
        f"{name}: leaked persisted RDD ids {sorted(leaked)} after "
        "result unpersist"
    )


def test_curate_corpus_leaves_nothing_persisted(spark, tmp_path):
    from googlecloudstorage_blueprints_spark.pipelines import curate_corpus

    before = _persisted_ids(spark)
    curate_corpus(spark, SF, f"file:{tmp_path}/curated")
    leaked = _persisted_ids(spark) - before
    assert not leaked, f"curate_corpus leaked RDD ids {sorted(leaked)}"


def test_curate_corpus_failure_leaves_nothing_persisted(
    spark, tmp_path, monkeypatch
):
    """A stage that raises (here the write) must not leave the earlier
    stages' survivor frames persisted for the rest of the session."""
    from googlecloudstorage_blueprints_spark.pipelines import curate

    def failing_write(*args, **kwargs):
        raise OSError("write failed")

    monkeypatch.setattr(curate, "write_partitioned", failing_write)
    before = _persisted_ids(spark)
    with pytest.raises(OSError, match="write failed"):
        curate.curate_corpus(spark, SF, f"file:{tmp_path}/curated")
    leaked = _persisted_ids(spark) - before
    assert not leaked, f"failed curate_corpus leaked RDD ids {sorted(leaked)}"


_CURATE_DRIVER = """
import sys
sys.path.insert(0, {repo!r})
from googlecloudstorage_blueprints_spark.pipelines import curate_corpus
from googlecloudstorage_blueprints_spark.session import get_spark

spark = get_spark(master="local[2]")
curate_corpus(spark, {sf!r}, {out!r})
spark.stop()
"""


def test_curate_corpus_prints_no_checkpoint_release_warning(
    tmp_path, capfd
):
    """Released checkpoint storage logs nothing: ``RDD.unpersist`` WARNs
    for every locally checkpointed RDD (7 lines per call).  The driver
    runs in a subprocess so that its JVM writes to the captured stderr."""
    env = {**os.environ, "SPARK_GRAFT_DRIVER_MEM": "1g"}
    script = _CURATE_DRIVER.format(
        repo=REPO, sf=SF, out=f"file:{tmp_path}/curated")
    subprocess.run([sys.executable, "-c", script], cwd=tmp_path, env=env,
                   timeout=600, check=True)
    err = capfd.readouterr().err
    assert "log4j" in err, "the JVM's stderr was not captured"
    assert err.count("was locally checkpointed") == 0
