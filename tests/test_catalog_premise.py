"""Premise of every hostile catalog (no Spark): each builder in
``tests.parity.CATALOGS`` really writes the hostile input it is named
for.  A builder that silently wrote a benign catalog — a dropped
stagger, a pyarrow default change writing µs instead of ns — would turn
every pin and audit over it vacuous."""

from __future__ import annotations

import pyarrow as pa
import pyarrow.parquet as pq
import pytest

from googlecloudstorage_blueprints_spark.sources.catalog import TABLES
from tests.parity import CATALOGS, HOSTILE_TEXTS, SRC_SF, build_catalog


def _fields(sf_dir):
    return [
        (t, f) for t in TABLES for f in pq.read_schema(f"{sf_dir}/{t}.parquet")
    ]


def _timestamps(sf_dir):
    ts = [f.type for _t, f in _fields(sf_dir) if pa.types.is_timestamp(f.type)]
    assert ts, "no timestamp column left to drift"
    return ts


def _check_empty(d):
    for t in TABLES:
        assert pq.read_metadata(f"{d}/{t}.parquet").num_rows == 0, t
        assert pq.read_schema(f"{d}/{t}.parquet") == pq.read_schema(
            f"{SRC_SF}/{t}.parquet"
        ), t


def _check_single(d):
    for t in TABLES:
        assert pq.read_metadata(f"{d}/{t}.parquet").num_rows == 1, t


def _check_null(d):
    for t in TABLES:
        tbl = pq.read_table(f"{d}/{t}.parquet")
        for j in range(tbl.num_columns):
            assert abs(tbl.column(j).null_count - tbl.num_rows / 3) <= 1, (t, j)


def _check_narrow(d):
    types = [f.type for _t, f in _fields(d)]
    assert pa.int32() in types and pa.large_string() in types
    assert pa.string() not in types
    # every int64 key column fits 32 bits at sf0.001
    assert pq.read_schema(f"{d}/orders.parquet").field(
        "o_orderkey"
    ).type == pa.int32()


def _check_nanos(d):
    assert all(t == pa.timestamp("ns") for t in _timestamps(d))


def _check_tzaware(d):
    assert all(t == pa.timestamp("us", tz="UTC") for t in _timestamps(d))


def _check_unicode(d):
    docs = pq.read_table(f"{d}/documents.parquet")
    assert docs.column("text").to_pylist() == HOSTILE_TEXTS
    assert docs.column("n_chars").to_pylist() == [len(t) for t in HOSTILE_TEXTS]
    assert docs.schema == pq.read_schema(f"{SRC_SF}/documents.parquet")


PREMISES = {
    "empty": _check_empty,
    "single": _check_single,
    "null": _check_null,
    "narrow": _check_narrow,
    "nanos": _check_nanos,
    "tzaware": _check_tzaware,
    "unicode": _check_unicode,
}


@pytest.mark.parametrize("catalog", list(CATALOGS))
def test_catalog_premise(catalog, tmp_path):
    PREMISES[catalog](build_catalog(catalog, tmp_path))
