"""Planted half-cent-boundary parity (r9 — retires the ROUND(...,2) class).

The r8 audit named the legacy ``ROUND(SUM(price*(1-disc)), 2)`` revenue
outputs the last ops that "can hit half-cent ties at regenerated
fixtures": the discount products carry exactly 4 decimals, so a group
sum can land EXACTLY on a .xx5 half-cent boundary where the two engines'
(and, across runs, one engine's partial-agg) summation orders tiebreak
differently.  Round 9 converted the class to the r6 4dp rule (and
``sum_charge`` — a 6-decimal product — to the r7 BIGINT fixed-point
rule).  This test plants a lineitem whose group sums sit exactly ON the
old boundaries and pins:

- the 4dp outputs equal the exact rational totals (rounding TARGETS,
  no decision boundary left), and
- the full driver-style canonical compare matches across engines.
"""

from __future__ import annotations

import datetime

import pyarrow as pa
import pyarrow.parquet as pq
import pytest

from googlecloudstorage_blueprints_spark.operators import (
    all_oracles,
    all_queries,
)
from tests.parity import assert_parity, compare

_SHIP = datetime.datetime(1998, 1, 1)

# (qty, price, disc, tax, returnflag, linestatus)
#   group (B, F): disc-price terms 2.01*0.50 = 1.0050 and 100.00*1.0
#   = 100.0000 -> sum 101.0050, exactly ON the old 2dp half-cent
#   boundary; charge adds a 10% tax on the first term -> 1.1055 +
#   100.0000 = 101.1055, a 6-decimal-capable product summing to an
#   exact 1e-4 multiple (itself an old-rule boundary).
_ROWS = [
    (1.0, 2.01, 0.50, 0.10, "B", "F"),
    (2.0, 100.00, 0.00, 0.00, "B", "F"),
    # control group (A, F): plain values nowhere near a boundary
    (3.0, 10.00, 0.10, 0.05, "A", "F"),
    (4.0, 20.00, 0.20, 0.02, "A", "F"),
]


@pytest.fixture(scope="module")
def boundary_dir(tmp_path_factory):
    out = tmp_path_factory.mktemp("boundary_sf")
    n = len(_ROWS)
    tbl = pa.table(
        {
            "l_orderkey": pa.array(range(1, n + 1), pa.int64()),
            "l_partkey": pa.array([1] * n, pa.int64()),
            "l_suppkey": pa.array([1] * n, pa.int64()),
            "l_linenumber": pa.array([1] * n, pa.int32()),
            "l_quantity": pa.array([r[0] for r in _ROWS], pa.float64()),
            "l_extendedprice": pa.array([r[1] for r in _ROWS], pa.float64()),
            "l_discount": pa.array([r[2] for r in _ROWS], pa.float64()),
            "l_tax": pa.array([r[3] for r in _ROWS], pa.float64()),
            "l_returnflag": pa.array([r[4] for r in _ROWS], pa.string()),
            "l_linestatus": pa.array([r[5] for r in _ROWS], pa.string()),
            "l_shipdate": pa.array([_SHIP] * n, pa.timestamp("us")),
        }
    )
    pq.write_table(tbl, out / "lineitem.parquet")
    return str(out)


def test_pricing_summary_on_boundary_sums(spark, boundary_dir):
    v = compare(
        spark,
        boundary_dir,
        all_queries()["pricing_summary"],
        all_oracles()["pricing_summary"],
    )
    assert_parity(v, "cross-engine divergence on a planted boundary sum")
    by_group = {(r[0], r[1]): r for r in v.rows}

    # exact rational totals — 4dp targets, not boundaries
    bf = by_group[("B", "F")]
    assert bf[v.columns.index("sum_disc_price")] == 101.005
    assert bf[v.columns.index("sum_charge")] == 101.1055


def test_revenue_ops_are_4dp_not_2dp():
    """Guard the conversion itself: no oracle may 2dp-round a SUM of the
    4-decimal discount product again (the retired class)."""
    import re

    pat = re.compile(
        r"ROUND\(\s*SUM\([^)]*\*\s*\(1\s*-\s*l?\.?l_discount\)\s*\)\s*,\s*2\)",
        re.IGNORECASE,
    )
    offenders = [
        name for name, sql in all_oracles().items() if pat.search(sql)
    ]
    assert not offenders, (
        f"2dp rounds of 4dp revenue products re-introduced: {offenders}"
    )
