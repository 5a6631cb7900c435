"""Driver-style correctness gate: every registered operator runs on Spark
and (when an oracle exists) must match DuckDB on row-count, column names,
and order-insensitive canonicalized values — a local replica of the
driver's CORRECTNESS check so regressions surface before a round ends.
"""

from __future__ import annotations

import os

import pytest

from googlecloudstorage_blueprints_spark.operators import (
    all_oracles,
    all_queries,
)
from tests.parity import assert_parity, compare, duck_con

SF_DIR = os.environ.get("PARITY_SF_DIR", "/root/testdata/sf0.001")

QUERIES = all_queries()
ORACLES = all_oracles()


@pytest.mark.parametrize("name", sorted(ORACLES))
def test_oracle_parity(spark, name):
    assert_parity(compare(spark, SF_DIR, QUERIES[name], ORACLES[name]), name)


def test_oracle_ops_emit_scalar_columns_only(spark):
    """Repo rule (round-1 driver crash): the driver's canonicalizer sorts
    output columns with pandas and cannot hash array/map/struct cells —
    every oracle-backed op must emit atomic columns only (collected sets
    are concat_ws-joined to one string in BOTH engines)."""
    from pyspark.sql.types import ArrayType, MapType, StructType

    offenders = []
    for name in sorted(ORACLES):
        schema = QUERIES[name](spark, SF_DIR).schema
        for f in schema.fields:
            if isinstance(f.dataType, (ArrayType, MapType, StructType)):
                offenders.append(f"{name}.{f.name}: {f.dataType}")
    assert not offenders, f"non-scalar oracle-op outputs: {offenders}"


@pytest.mark.parametrize(
    "name", sorted(set(QUERIES) - set(ORACLES))
)
def test_rows_only_ops_run(spark, name):
    """Ops without an oracle must still run and return a stable schema."""
    assert_parity(compare(spark, SF_DIR, QUERIES[name]), name)


def test_oracle_schema_types_align_cross_engine(spark):
    """Column TYPES must align between each Spark plan and its DuckDB
    oracle (r8 ADVICE class: an int32 label vs a BIGINT-cast oracle
    passes the value hash — values stringify — but a type-aware driver
    schema check could flag it).  Cheap: Spark dtypes come from
    analysis and DuckDB types from relation binding — nothing
    executes."""
    con = duck_con(SF_DIR)
    canon = {
        "BIGINT": {"bigint"},
        "INTEGER": {"int"},
        "SMALLINT": {"smallint"},
        "DOUBLE": {"double"},
        "FLOAT": {"float"},
        "VARCHAR": {"string"},
        "BOOLEAN": {"boolean"},
        "TIMESTAMP": {"timestamp"},
        "TIMESTAMP WITH TIME ZONE": {"timestamp"},
        "DATE": {"date"},
        "HUGEINT": {"decimal(38,0)"},
    }
    bad = []
    for name, sql in ORACLES.items():
        sdt = dict(QUERIES[name](spark, SF_DIR).dtypes)
        rel = con.sql(sql)
        ddt = dict(zip(rel.columns, [str(t) for t in rel.types]))
        if set(sdt) != set(ddt):
            bad.append((name, f"columns {sorted(set(sdt) ^ set(ddt))}"))
            continue
        for c in sdt:
            allowed = canon.get(ddt[c].upper())
            if allowed is None or sdt[c] not in allowed:
                bad.append((name, f"{c}: duck {ddt[c]} vs spark {sdt[c]}"))
    con.close()
    assert not bad, f"cross-engine type drift: {bad}"
