"""Planted-input cross-engine tests for oracle ops whose driver pass is
(or contains) a vacuous zero (r7 verdict item 7).

Audit of the full 159-oracle surface through DuckDB (r8, both driver
SFs): the only zero-ROW oracles are ``join_anti`` (every fixture
customer has orders), ``dedup_cross_source_matrix`` and
``length_outlier_mad`` (both already covered by planted tests in
test_dedup_cap.py / test_divzero_parity.py); ``volume_shipping`` is
empty at sf0.001 only (date-range filter), non-empty at the driver's
sf0.01.  The r7 verdict's other candidates — ``fk_orphan_check``,
``events_change_points``, ``doc_lang_mismatch`` — return rows at
sf0.01, but ``fk_orphan_check`` is the sharper case: it ALWAYS emits 6
rows while every ``n_orphan`` is 0 on the clean fixtures, so the
orphan-DETECTION path has never been driver-exercised.

This module plants the missing inputs and re-runs the driver-style
hash compare on both engines:

- ``join_anti``: a customer with no orders must surface, identically.
- ``fk_orphan_check``: a lineitem row pointing at a nonexistent order
  must be counted as an orphan on the ``lineitem.order`` edge,
  identically, while the other five edges stay clean.
"""

from __future__ import annotations

import os

import pyarrow as pa
import pyarrow.parquet as pq
import pytest

from googlecloudstorage_blueprints_spark.operators import (
    all_oracles,
    all_queries,
)
from googlecloudstorage_blueprints_spark.sources.catalog import TABLES
from tests.parity import assert_parity, compare

SF_SRC = "/root/testdata/sf0.001"

_GHOST_CUSTKEY = 77_000_001
_GHOST_ORDERKEY = 999_999_999


def _planted_dir(tmp_path_factory) -> str:
    """sf0.001 with one order-less customer and one orphan lineitem.

    Unmodified tables are symlinked (both engines follow file: links);
    customer gains a ghost row with no orders, lineitem gains a copy of
    its first row re-keyed to a nonexistent l_orderkey."""
    out = tmp_path_factory.mktemp("planted_sf")

    cust = pq.read_table(f"{SF_SRC}/customer.parquet")
    first = cust.slice(0, 1).to_pydict()
    first["c_custkey"] = [_GHOST_CUSTKEY]
    first["c_name"] = ["Customer#ghost-no-orders"]
    pq.write_table(
        pa.concat_tables(
            [cust, pa.Table.from_pydict(first, schema=cust.schema)]
        ),
        out / "customer.parquet",
    )

    li = pq.read_table(f"{SF_SRC}/lineitem.parquet")
    orphan = li.slice(0, 1).to_pydict()
    orphan["l_orderkey"] = [_GHOST_ORDERKEY]
    pq.write_table(
        pa.concat_tables(
            [li, pa.Table.from_pydict(orphan, schema=li.schema)]
        ),
        out / "lineitem.parquet",
    )

    for t in TABLES:
        if t in ("customer", "lineitem"):
            continue
        os.symlink(f"{SF_SRC}/{t}.parquet", out / f"{t}.parquet")
    return str(out)


@pytest.fixture(scope="module")
def planted_dir(tmp_path_factory):
    return _planted_dir(tmp_path_factory)


def _compare(spark, name: str, sf_dir: str):
    v = compare(spark, sf_dir, all_queries()[name], all_oracles()[name])
    assert_parity(v, f"{name}: cross-engine divergence on planted corpus")
    return v.rows


def test_join_anti_planted_orderless_customer(spark, planted_dir):
    """The fixture pass is 0 == 0 rows — prove the anti-join actually
    emits when an order-less customer exists, identically on both."""
    rows = _compare(spark, "join_anti", planted_dir)
    assert len(rows) == 1 and rows[0][0] == _GHOST_CUSTKEY


@pytest.fixture(scope="module")
def trade_dir(tmp_path_factory):
    """sf0.001 plus one NATION_1-supplier → NATION_2-customer trade.

    ``volume_shipping`` is EMPTY at sf0.001 (no supplier sits in
    NATION_1 there), so the local parity replica's pass is a vacuous
    0 == 0 — plant the full chain (supplier in nation 1, order by the
    nation-2 customer, one lineitem wiring them) and pin the revenue."""
    import datetime

    out = tmp_path_factory.mktemp("trade_sf")

    supp = pq.read_table(f"{SF_SRC}/supplier.parquet")
    ghost_s = pa.Table.from_pydict(
        {
            "s_suppkey": [90_000_001],
            "s_name": ["Supplier#ghost-n1"],
            "s_nationkey": [1],
            "s_acctbal": [0.0],
        },
        schema=supp.schema,
    )
    pq.write_table(pa.concat_tables([supp, ghost_s]), out / "supplier.parquet")

    orders = pq.read_table(f"{SF_SRC}/orders.parquet")
    ghost_o = pa.Table.from_pydict(
        {
            "o_orderkey": [_GHOST_ORDERKEY],
            "o_custkey": [0],  # customer 0 sits in NATION_2 at sf0.001
            "o_orderstatus": ["F"],
            "o_totalprice": [100.0],
            "o_orderdate": [datetime.datetime(1997, 5, 1)],
            "o_orderpriority": ["3-MEDIUM"],
        },
        schema=orders.schema,
    )
    pq.write_table(pa.concat_tables([orders, ghost_o]), out / "orders.parquet")

    li = pq.read_table(f"{SF_SRC}/lineitem.parquet")
    ghost_l = li.slice(0, 1).to_pydict()
    ghost_l.update(
        l_orderkey=[_GHOST_ORDERKEY],
        l_suppkey=[90_000_001],
        l_extendedprice=[100.0],
        l_discount=[0.10],
        l_shipdate=[datetime.datetime(1997, 6, 1)],
    )
    pq.write_table(
        pa.concat_tables(
            [li, pa.Table.from_pydict(ghost_l, schema=li.schema)]
        ),
        out / "lineitem.parquet",
    )

    for t in TABLES:
        if t in ("supplier", "orders", "lineitem"):
            continue
        os.symlink(f"{SF_SRC}/{t}.parquet", out / f"{t}.parquet")
    return str(out)


def test_volume_shipping_planted_nation_pair_trade(spark, trade_dir):
    """Empty at sf0.001 on the clean fixture — prove the symmetric
    nation-pair filter and the year rollup actually emit, identically
    on both engines, when a qualifying trade exists."""
    rows = _compare(spark, "volume_shipping", trade_dir)
    assert ("NATION_1", "NATION_2", 1997, 90.0) in {tuple(r) for r in rows}


def test_fk_orphan_check_planted_orphan_lineitem(spark, planted_dir):
    """Every fixture n_orphan is 0 — prove a dangling l_orderkey is
    counted on the lineitem.order edge on BOTH engines, and that the
    ghost CUSTOMER row registers as +1 n_child (not an orphan: the
    orders.customer edge audits orders' keys, not customers')."""
    rows = _compare(spark, "fk_orphan_check", planted_dir)
    by_edge = {r[0]: (r[1], r[2]) for r in rows}
    base_li = pq.read_metadata(f"{SF_SRC}/lineitem.parquet").num_rows
    assert by_edge["lineitem.order"] == (base_li + 1, 1)
    assert all(
        v[1] == 0 for k, v in by_edge.items() if k != "lineitem.order"
    )


def test_id_ts_inversions_planted_backwards_clock(spark, tmp_path):
    """Every fixture day has n_inversions == 0 (event_id assignment is
    clock-ordered in the generator), so the detection path is vacuous —
    plant a user whose second-assigned event_id carries an EARLIER
    timestamp and prove exactly one inversion lands on the day of the
    inverted (current-row) timestamp, identically on both engines."""
    import datetime

    ghost_user = 999_999_999
    t_late = datetime.datetime(2024, 1, 2, 12, 0, 0)
    t_early = datetime.datetime(2024, 1, 2, 11, 0, 0)

    ev = pq.read_table(f"{SF_SRC}/events.parquet")
    base_rows = _compare(spark, "events_id_ts_inversions", SF_SRC)
    base = {r[0]: (r[1], r[2]) for r in base_rows}
    assert all(inv == 0 for _, inv in base.values()), (
        "fixture no longer vacuous — planted test can be retired"
    )

    planted = ev.slice(0, 2).to_pydict()
    planted["event_id"] = [1_000_000, 1_000_001]
    planted["ts"] = [t_late, t_early]  # id order inverts ts order
    planted["user_id"] = [ghost_user] * 2
    pq.write_table(
        pa.concat_tables(
            [ev, pa.Table.from_pydict(planted, schema=ev.schema)]
        ),
        tmp_path / "events.parquet",
    )
    for t in TABLES:
        if t != "events":
            os.symlink(f"{SF_SRC}/{t}.parquet", tmp_path / f"{t}.parquet")

    got_rows = _compare(spark, "events_id_ts_inversions", str(tmp_path))
    got = {r[0]: (r[1], r[2]) for r in got_rows}
    day = (t_early - datetime.datetime(1970, 1, 1)).days
    base_pairs, _ = base.get(day, (0, 0))
    # the ghost pair is the only new pair, and it inverts
    assert got[day] == (base_pairs + 1, 1)
    assert sum(inv for _, inv in got.values()) == 1


def test_linenumber_audit_planted_violations(spark, tmp_path):
    """The fixture's counters fire naturally (its linenumbers are not
    contiguous — the known (l_orderkey, l_linenumber) non-uniqueness
    trap), so pin DELTAS instead: planting one duplicate line into a
    known-contiguous ghost order and one offset-start order must move
    each counter by exactly the planted amount, identically on both
    engines."""
    cols = ["n_orders", "n_dup_linenumbers", "n_bad_start", "n_noncontiguous"]
    base = dict(
        zip(
            cols,
            _compare(spark, "lineitem_linenumber_audit", SF_SRC)[0],
        )
    )

    li = pq.read_table(f"{SF_SRC}/lineitem.parquet")
    # ghost order A: lines 1,1 → duplicate (and thereby non-contiguous)
    dup_a = li.slice(0, 2).to_pydict()
    dup_a["l_orderkey"] = [_GHOST_ORDERKEY] * 2
    dup_a["l_linenumber"] = [1, 1]
    # ghost order B: single line starting at 5 → bad start
    off_b = li.slice(0, 1).to_pydict()
    off_b["l_orderkey"] = [_GHOST_ORDERKEY + 1]
    off_b["l_linenumber"] = [5]
    pq.write_table(
        pa.concat_tables(
            [
                li,
                pa.Table.from_pydict(dup_a, schema=li.schema),
                pa.Table.from_pydict(off_b, schema=li.schema),
            ]
        ),
        tmp_path / "lineitem.parquet",
    )
    for t in TABLES:
        if t != "lineitem":
            os.symlink(f"{SF_SRC}/{t}.parquet", tmp_path / f"{t}.parquet")

    got = dict(
        zip(
            cols,
            _compare(spark, "lineitem_linenumber_audit", str(tmp_path))[0],
        )
    )
    assert got["n_orders"] == base["n_orders"] + 2
    assert got["n_dup_linenumbers"] == base["n_dup_linenumbers"] + 1
    assert got["n_bad_start"] == base["n_bad_start"] + 1
    assert got["n_noncontiguous"] == base["n_noncontiguous"] + 2
