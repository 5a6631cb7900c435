"""NULL-cell robustness pins (r18 null-catalog audit).

After the empty table, the second classic botched-migration signature
is a NULL-riddled one (failed casts, schema drift, placeholder-writing
loaders).  The fixtures are 100% non-NULL, so none of the oracle
surface had ever been exercised on NULL cells; the full sweep
(``scripts/catalog_audit.py --catalog null`` — all 318 keys, standing
round-open script, ~1/3 of every column's cells NULLed in a deterministic
stagger) found 56 broken keys in five classes, all fixed
identity-on-non-NULL-input:

- NULL-ORDERING divergence: Spark's ASC default is NULLS FIRST,
  DuckDB's NULLS LAST (mirrored for DESC) — every window / top-k /
  rank cut either drops un-orderable NULL-key rows on BOTH engines
  (sequencing ops: an event without a ts has no position) or spells
  NULLS FIRST explicitly in the oracle (pure window ops).
- NULL GROUP KEYS: Spark ``groupBy`` forms one NULL mega-group
  (mega-basket, mega-cluster) where the oracle's self-join or
  dimension join drops NULL keys — basket/shingle/rank frames filter
  NULL entity keys on BOTH engines.
- NULL PROPAGATION: Spark concat propagates NULL, DuckDB concat()
  skips (oracle now uses ``||``); Spark concat_ws over an empty
  collect_set is '' while DuckDB string_agg is NULL (oracle now
  COALESCEs); word_shingles(NULL text) manufactured a [""] shingle on
  Spark only (a 167-doc phantom clique — text filtered both engines).
- ENGINE QUIRK: DuckDB's ASOF JOIN matches a NULL-ts probe
  POSITIONALLY (NULLS LAST puts it after every right row, claiming
  the newest match) — the oracle CASE-guards its outputs on e.ts.
- CRASH class: numpy/Arrow kernels died on None cells
  (np.array/vstack), and a NULL-day group zeroed an ANSI-division
  denominator — vector frames filter NULL vec_id/embedding, the
  division is NULLIF-guarded.

This file pins one representative per class on a SMALL staggered-NULL
catalog; the standing audit re-checks all 318 keys each round.
"""

from __future__ import annotations

import pytest

from googlecloudstorage_blueprints_spark.operators import (
    all_oracles,
    all_queries,
)
from tests.parity import assert_parity, build_catalog, compare

SLICE_ROWS = 150  # small but NULL-dense enough to fire every class

PINNED_KEYS = [
    # NULL-ordering: sequencing drop / NULLS FIRST oracle windows
    "events_sessionize",
    "window_analytic",
    "arg_min_max",
    "weighted_sample_topk",
    "global_row_number",
    # NULL group keys: baskets / shingles / distinct-vs-collect_set
    "part_copurchase_lift",
    "ngram_jaccard_dedup",
    "user_growth_accounting",
    # NULL propagation
    "doc_fingerprint",
    "string_agg_groups",
    # DuckDB ASOF positional NULL-probe quirk
    "join_asof",
    # unbalanced sweep-line deltas
    "orders_inflight_monthly",
    # crash class (rows-only: pin is "runs, typed, no crash")
    "similarity_knn_pandas",
    "embedding_norms",
    "events_new_vs_returning",
]


@pytest.fixture(scope="module")
def null_dir(tmp_path_factory):
    """First SLICE_ROWS rows of every table with the audit's stagger (~1/3
    of every column NULLed, varying which columns go NULL together)."""
    return build_catalog(
        "null", tmp_path_factory.mktemp("null_catalog_small"), rows=SLICE_ROWS
    )


@pytest.mark.parametrize("name", PINNED_KEYS)
def test_null_catalog_runs_and_matches_oracle(spark, null_dir, name):
    v = compare(spark, null_dir, all_queries()[name], all_oracles().get(name))
    assert_parity(v, name)
