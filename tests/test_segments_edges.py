"""Planted-input cross-engine tests for the r8 operators' degenerate
paths — the cases the driver fixtures never produce:

- ``orders_decile_report`` with fewer orders than deciles AND duplicate
  prices: the bucket-ledger rank must equal the oracle's global
  ROW_NUMBER under ties (the (price, orderkey) total order is what
  makes the decomposition deterministic), and the ((rn-1)·10) div N
  formula must agree on sparse deciles.
- ``supplier_abc_class`` with two equal-revenue suppliers landing a
  cumulative share EXACTLY on the 50% boundary: the integer-space cut
  (cum4·100 ≤ total4·50) must classify identically — the case a float
  boundary would flip.
- ``part_price_size_slope`` with a single-size brand: the OLS
  denominator is exactly 0 → NULLIF must yield NULL on both engines
  (never NULL-vs-inf).
- ``events_hour_autocorr`` with a constant-rate type: zero variance in
  both lag series → NULL on both engines.
"""

from __future__ import annotations

import pyarrow as pa
import pyarrow.parquet as pq
import pytest

from googlecloudstorage_blueprints_spark.operators import (
    all_oracles,
    all_queries,
)
from tests.parity import assert_parity, compare

SF_SRC = "/root/testdata/sf0.001"


def _write_from_template(src_table: str, out_dir, columns: dict) -> None:
    """Write a tiny table with the fixture's exact schema: replicate the
    template's first row N times, then override the given columns."""
    tmpl = pq.read_table(f"{SF_SRC}/{src_table}.parquet")
    n = len(next(iter(columns.values())))
    base = pa.concat_tables([tmpl.slice(0, 1)] * n).to_pydict()
    for col, vals in columns.items():
        base[col] = list(vals)
    pq.write_table(
        pa.Table.from_pydict(base, schema=tmpl.schema),
        out_dir / f"{src_table}.parquet",
    )


def _compare(spark, name: str, sf_dir):
    v = compare(spark, str(sf_dir), all_queries()[name], all_oracles()[name])
    assert_parity(v, f"{name}: cross-engine divergence on planted corpus")
    return v.rows


def test_decile_report_sparse_and_tied(spark, tmp_path):
    prices = [100.0, 100.0, 100.0, 200.0, 200.0, 300.0, 400.0]
    _write_from_template(
        "orders",
        tmp_path,
        {
            "o_orderkey": list(range(1, 8)),
            "o_custkey": [1] * 7,
            "o_totalprice": prices,
        },
    )
    rows = _compare(spark, "orders_decile_report", tmp_path)
    by_decile = {r[0]: r[1] for r in rows}
    # 7 rows over 10 deciles: rn 1..7 -> decile (rn-1)*10 div 7 + 1
    assert by_decile == {1: 1, 2: 1, 3: 1, 5: 1, 6: 1, 8: 1, 9: 1}
    assert sum(by_decile.values()) == 7


def test_supplier_abc_exact_boundary_tie(spark, tmp_path):
    # two suppliers, identical revenue: supplier 1's cumulative share is
    # EXACTLY 0.5 -> class A by the <= cut; supplier 2 lands in C
    _write_from_template(
        "lineitem",
        tmp_path,
        {
            "l_orderkey": [1, 2],
            "l_suppkey": [1, 2],
            "l_extendedprice": [100.0, 100.0],
            "l_discount": [0.0, 0.0],
        },
    )
    rows = _compare(spark, "supplier_abc_class", tmp_path)
    classes = {r[0]: r[1] for r in rows}
    assert classes == {"A": 1, "C": 1}, (
        "exact-boundary supplier must be class A on both engines"
    )


def test_price_size_slope_single_size_brand_is_null(spark, tmp_path):
    _write_from_template(
        "part",
        tmp_path,
        {
            "p_partkey": [1, 2, 3],
            "p_brand": ["EdgeBrand"] * 3,
            "p_size": [10, 10, 10],
            "p_retailprice": [100.0, 150.0, 200.0],
        },
    )
    rows = _compare(spark, "part_price_size_slope", tmp_path)
    assert len(rows) == 1 and rows[0][2] is None, (
        "zero OLS denominator must be NULL, not inf/NaN"
    )


def test_hour_autocorr_constant_rate_is_null(spark, tmp_path):
    import datetime

    base = datetime.datetime(2024, 1, 1)
    ts = [base + datetime.timedelta(hours=h) for h in range(6)]
    _write_from_template(
        "events",
        tmp_path,
        {
            "event_id": list(range(1, 7)),
            "ts": ts,
            "user_id": [1] * 6,
            "event_type": ["flat"] * 6,
        },
    )
    rows = _compare(spark, "events_hour_autocorr", tmp_path)
    assert len(rows) == 1 and rows[0][1] == 5 and rows[0][2] is None, (
        "zero-variance series must be NULL autocorr on both engines"
    )


def test_cluster_size_histogram_planted_duplicates(spark, tmp_path):
    """The driver fixtures contain ZERO exact duplicates, so the
    fixture pass only ever sees the copies=1 row — plant 2- and
    3-copy clusters and pin the histogram across engines."""
    texts = (
        ["unique %d" % i for i in range(5)]
        + ["twice over"] * 2
        + ["thrice over"] * 3
    )
    _write_from_template(
        "documents",
        tmp_path,
        {
            "doc_id": list(range(1, len(texts) + 1)),
            "text": texts,
            "source": ["planted"] * len(texts),
            "n_chars": [len(t) for t in texts],
        },
    )
    rows = _compare(
        spark, "dedup_cluster_size_histogram", tmp_path)
    assert {r[0]: (r[1], r[2]) for r in rows} == {
        1: (5, 5),
        2: (1, 2),
        3: (1, 3),
    }


def test_funnel_conversion_time_no_entries_is_null(spark, tmp_path):
    """A corpus with no funnel-entry events must yield n_entered=0 and
    a NULL conversion_rate on BOTH engines (Spark NULL vs DuckDB NaN
    would hash-diverge without the NULLIF guard)."""
    import datetime

    base = datetime.datetime(2024, 1, 1)
    _write_from_template(
        "events",
        tmp_path,
        {
            "event_id": [1, 2, 3],
            "ts": [base + datetime.timedelta(hours=h) for h in range(3)],
            "user_id": [1, 1, 2],
            "event_type": ["view", "click", "view"],
        },
    )
    rows = _compare(
        spark, "events_funnel_conversion_time", tmp_path)
    assert len(rows) == 1
    n_entered, n_converted, rate = rows[0][0], rows[0][1], rows[0][2]
    assert (n_entered, n_converted, rate) == (0, 0, None)
