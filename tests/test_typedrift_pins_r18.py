"""Physical-type-drift pins (r18 typedrift audit).

The driver REGENERATES fixtures between rounds and their physical
types have drifted before: r5 switched every timestamp from
TIMESTAMP(NANOS) to TIMESTAMP(MICROS, ntz); r14 int32-proofed the
packed pair key against a 32-bit-partkey regen.  The standing sweep is
``scripts/catalog_audit.py --catalog {narrow,nanos,tzaware}`` (three
vintages — int32/large_string, TIMESTAMP(NANOS), tz-aware µs — over
all 318 keys); its first run proved the catalog's
nanos normalization was EVENTS-ONLY, so a NANOS regen crashed every
orders/lineitem consumer with DATATYPE_MISMATCH ("unix_micros(
o_orderdate)" on the bigint the nanosAsLong read produces).  The fix
declares the catalog's logical timestamp columns in
``_TIMESTAMP_COLS`` (sources/catalog.py) and converts ANY of them that
arrives as int64 nanos — this file pins one consumer per table-flavor
so the generalization can't regress to the events-only branch.

The stream readers once kept their own copy of that rule and converted
only ntz columns, so ``streaming_table_digest`` crashed on the same
vintage; since they share the catalog's rule, the digest pin below
replays the nanos catalog as a stream.
"""

from __future__ import annotations

import pytest

from googlecloudstorage_blueprints_spark.operators import (
    all_oracles,
    all_queries,
)
from tests.parity import assert_parity, build_catalog, compare, duck_con

# one consumer per drifted-timestamp table: orders (the column the
# events-only branch missed), lineitem, events, plus a two-table join
NANOS_KEYS = [
    "date_spine_monthly",       # orders.o_orderdate
    "ship_latency_quarterly",   # orders ⋈ lineitem, both date columns
    "events_sessionize",        # events.ts (the originally-handled path)
    "join_asof",                # events.ts ⋈ orders.o_orderdate
]


@pytest.fixture(scope="module")
def nanos_dir(tmp_path_factory):
    """The r5-original vintage: every timestamp[us] stored as
    TIMESTAMP(NANOS)."""
    return build_catalog("nanos", tmp_path_factory.mktemp("nanos_catalog"))


@pytest.mark.parametrize("name", NANOS_KEYS)
def test_nanos_vintage_matches_oracle(spark, nanos_dir, name):
    with duck_con(nanos_dir, utc=True) as con:
        v = compare(
            spark, nanos_dir, all_queries()[name], all_oracles()[name], con
        )
    assert_parity(v, name)


@pytest.mark.parametrize("table", ["events", "lineitem"])
def test_nanos_vintage_stream_digest_matches_batch(spark, nanos_dir, table):
    """The stream reader applies the catalog's timestamp rule: replaying a
    NANOS table through ``streaming_table_digest`` merges to exactly the
    batch ``digest_frame`` row (it used to die on ``unix_micros`` over
    the bigint the nanosAsLong read produces)."""
    from googlecloudstorage_blueprints_spark.operators.audit import (
        digest_frame,
    )
    from googlecloudstorage_blueprints_spark.streaming import (
        merge_digest_rows,
        run_stream_to_memory,
        streaming_table_digest,
    )

    rows = run_stream_to_memory(
        streaming_table_digest(spark, nanos_dir, table=table),
        f"nanos_tdigest_{table}",
    ).collect()
    batch = digest_frame(spark, nanos_dir, [table]).collect()[0]
    assert batch["n_rows"] > 0
    assert merge_digest_rows(rows) == (
        batch["n_rows"],
        batch["digest"],
        batch["digest_sum"],
    ), table
