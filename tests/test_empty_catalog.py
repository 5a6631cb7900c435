"""Zero-row robustness pins (r17 empty-catalog audit).

The most common botched table copy is an EMPTY one (a move that wrote
the directory but no rows, a backfill that matched nothing) — exactly
the input the `validate` family exists to flag, so the engine must not
crash or silently diverge from the oracle on it.  The full sweep lives
in ``scripts/catalog_audit.py --catalog empty`` (all 318 keys,
standing round-open script); this test pins the 16 keys the r17 sweep found
broken, each fixed one of three ways:

- grouping_rollup/cube/sets: DuckDB (SQL-standard) emits the ()
  grand-total row over zero rows, Spark emits nothing — oracles carry
  HAVING COUNT(*) > 0 (identity on non-empty input).
- date_spine_monthly / revenue_mom_growth: explode_outer over NULL
  month bounds emitted one NULL spine row — since r18 these use plain
  explode, which drops the NULL array outright (identity on non-empty
  input, where bounds are never NULL; the r17 outer+filter form was
  exactly equivalent).
- contamination/dedup sweeps: literal-denominator divisions NULLIF-
  guarded both engines; numpy/driver-solve ops (knn pandas/ivf/pq,
  embedding cosine, kmeans, pc1, pagerank, markov) early-return empty
  typed frames instead of AxisError/ZeroDivision/KeyError.

The companion SINGLE-ROW sweep (``--catalog single``: one row per table,
FK integrity deliberately broken) found four more — every explicit
sample-variance spelling divides by n-1, which a one-member group makes
0 (Spark ANSI throws; the fixture never has one-member label/source
groups).  All four now NULLIF-guard the n-1 factor on both engines —
identity wherever groups have >=2 members.
"""

from __future__ import annotations

import pytest

from googlecloudstorage_blueprints_spark.operators import (
    all_oracles,
    all_queries,
)
from tests.parity import assert_parity, build_catalog, compare

FIXED_KEYS = [
    "contamination_ngram_sensitivity",
    "copurchase_pagerank",
    "date_spine_monthly",
    "dedup_embedding_cosine",
    "dedup_semantic",
    "dedup_threshold_sensitivity",
    "embedding_kmeans_inertia",
    "embedding_pc1_spectrum",
    "events_attribution_markov",
    "grouping_cube",
    "grouping_rollup",
    "grouping_sets",
    "revenue_mom_growth",
    "similarity_knn_ivf",
    "similarity_knn_pandas",
    "similarity_knn_pq",
]


# Degenerate-statistics class (single-row catalog): n-1 = 0 in every
# explicit sample-variance formula — NULLIF-guarded on both engines.
SINGLE_ROW_KEYS = [
    "embedding_dim_stats",
    "embedding_label_separation",
    "embedding_outlier_mahalanobis",
    "length_outlier_zscore",
]


@pytest.fixture(scope="module")
def empty_dir(tmp_path_factory):
    return build_catalog("empty", tmp_path_factory.mktemp("empty_catalog"))


@pytest.fixture(scope="module")
def single_row_dir(tmp_path_factory):
    return build_catalog(
        "single", tmp_path_factory.mktemp("single_row_catalog")
    )


def _run_and_compare(spark, sf_dir, name):
    v = compare(spark, sf_dir, all_queries()[name], all_oracles().get(name))
    assert_parity(v, name)


@pytest.mark.parametrize("name", FIXED_KEYS)
def test_empty_catalog_runs_and_matches_oracle(spark, empty_dir, name):
    _run_and_compare(spark, empty_dir, name)


@pytest.mark.parametrize("name", SINGLE_ROW_KEYS)
def test_single_row_catalog_runs_and_matches_oracle(
    spark, single_row_dir, name
):
    _run_and_compare(spark, single_row_dir, name)
