"""Fixture-table catalog: one place that knows how to load every table.

Tables (one parquet each, ``TESTDATA.md``): ``region nation customer
supplier part orders lineitem events documents embeddings``.

The only type quirk is the timestamp columns (``events.ts``,
``orders.o_orderdate``, ``lineitem.l_shipdate``): some fixture vintages
store parquet ``TIMESTAMP(NANOS)``, which Spark's parquet reader rejects
outright (``PARQUET_TYPE_ILLEGAL``).  We set
``spark.sql.legacy.parquet.nanosAsLong`` (runtime-settable) so such a
column arrives as int64 nanoseconds, then convert with **integer
division** ``ts div 1000`` → ``timestamp_micros``.  Integer division
truncates exactly the way DuckDB's reader truncates ns → µs, so the
DuckDB oracle and Spark see bit-identical microsecond timestamps.
(Floating division would round — 1.7e18 exceeds a double's 53-bit
integer range — and drift from the oracle by ±1 µs.)  Which columns are
logically timestamps is declared in ``_TIMESTAMP_COLS`` — the detection
is by ARRIVED dtype, so the current µs-ntz vintage takes the plain read
path untouched.

Scale note: the conversion is a per-row projection fused into the scan by
whole-stage codegen; predicate pushdown on the remaining columns is
unaffected.  At 100 TB the events table would be a partitioned directory —
``load_table`` takes any path the parquet reader takes (directories, globs).
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession

__all__ = ["TABLES", "load_table", "normalize_timestamps", "register_views"]

# Plan cache: (applicationId, sf_dir, table) -> analyzed DataFrame.  A
# DataFrame is an immutable logical plan, so handing the same object to
# every operator is safe and skips the per-call file listing + parquet
# footer/schema-inference read that otherwise lands on the driver for
# EVERY query (the role a metastore's cached table metadata plays on a
# real cluster).  Keyed by applicationId so a restarted session never
# reuses plans bound to a stopped JVM; entries from other app ids are
# pruned on miss, bounding the cache to the live session.
_PLAN_CACHE: dict = {}

TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)

# The catalog's LOGICAL timestamp columns, per table.  A fixture regen
# can flip their physical flavor between vintages (µs-ntz today, the r5
# original was TIMESTAMP(NANOS), tz-adjusted µs is the third plausible
# form); when one arrives as int64 (the nanosAsLong read of a NANOS
# column — the only int64-epoch vintage ever generated) it is converted
# to µs below.  The r18 typedrift audit proved the old events-only
# branch left orders/lineitem consumers crashing on a NANOS regen.
_TIMESTAMP_COLS = {
    "events": ("ts",),
    "orders": ("o_orderdate",),
    "lineitem": ("l_shipdate",),
}


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Load one fixture table as a DataFrame (plan cached per session)."""
    app = spark.sparkContext.applicationId
    key = (app, sf_dir, name)
    cached = _PLAN_CACHE.get(key)
    if cached is not None:
        return cached
    for stale in [k for k in _PLAN_CACHE if k[0] != app]:
        del _PLAN_CACHE[stale]
    if name in _TIMESTAMP_COLS:
        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    path = f"{sf_dir}/{name}.parquet"
    df = normalize_timestamps(spark.read.parquet(path), name)
    _PLAN_CACHE[key] = df
    return df


def normalize_timestamps(df: DataFrame, name: str) -> DataFrame:
    """The catalog's one timestamp rule, shared by the batch loader and
    the stream readers (``streaming.events_stream.read_table_stream``)."""
    dtypes = dict(df.dtypes)
    for c in _TIMESTAMP_COLS.get(name, ()):
        if dtypes.get(c) == "bigint":
            # int64 nanos → µs timestamp, truncating like DuckDB's reader
            df = df.withColumn(
                c, F.timestamp_micros(F.expr(f"{c} div 1000"))
            )
    # Fixture vintages differ: timestamps arrive as TIMESTAMP(MICROS, ntz)
    # in newer testdata (timestamp_ntz in Spark) vs UTC-adjusted micros (or
    # int64 nanos for events.ts) in older ones.  Normalize every ntz column
    # to TIMESTAMP: the session timezone is pinned to UTC
    # (session.RUNTIME_CONF), so the cast relabels the stored microseconds
    # without shifting them — bit-identical to DuckDB's naive read, and it
    # keeps timestamp-only builtins (unix_micros, window(), to_utc_timestamp)
    # working no matter which vintage generated the files.
    for c, t in df.dtypes:
        if t == "timestamp_ntz":
            df = df.withColumn(c, F.col(c).cast("timestamp"))
    return df


def register_views(spark: SparkSession, sf_dir: str) -> None:
    """Register every fixture table as a temp view (for spark.sql use)."""
    for name in TABLES:
        load_table(spark, sf_dir, name).createOrReplaceTempView(name)
