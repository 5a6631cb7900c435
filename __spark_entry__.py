"""Driver contract for the spark-graft builder (PySpark target).

The driver's verify runs ``entry(spark)`` as a smoke check, runs each
``queries()[name]`` at sf=0.01 and compares it against the matching
``oracle_sql()[name]`` via DuckDB (row-count + schema + order-insensitive
value-hash → CORRECTNESS_r{N}.json).

All implementations live in ``googlecloudstorage_blueprints_spark``; this
module only adapts the operator registry to the driver's interface.  The
correctness harness checks keys in dict order with a bounded budget (~50
keys per run), so the one policy this module owns is that order: it is
derived from the ``CORRECTNESS_r{N}.json`` files next to it on every call,
and a new file rotates it with nothing to regenerate (see
:func:`driver_order`).
"""

from __future__ import annotations

import glob
import json
import os
import re
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

from googlecloudstorage_blueprints_spark.operators import (
    all_oracles,
    all_queries,
)

SF_SMOKE_DIR = "/root/testdata/sf0.001"
HISTORY_DIR = os.path.dirname(os.path.abspath(__file__))


def entry(spark: SparkSession) -> DataFrame:
    """Flagship query on /root/testdata/sf0.001; driver checks rows>0.

    TPC-H Q1 (pricing_summary): scan → filter → hash aggregate → sort,
    exercising the full Catalyst path end-to-end."""
    return all_queries()["pricing_summary"](spark, SF_SMOKE_DIR)


def latest_adjudication(history_dir: str = HISTORY_DIR) -> dict[str, int]:
    """Map key -> highest run number N of a CORRECTNESS_r{N} file naming
    it; unreadable or non-JSON files are skipped."""
    latest: dict[str, int] = {}
    for path in glob.glob(os.path.join(history_dir, "CORRECTNESS_r*.json")):
        m = re.search(r"r(\d+)\.json$", path)
        if not m:
            continue
        try:
            with open(path) as fh:
                keys = list(json.load(fh))
        except (OSError, json.JSONDecodeError):
            continue
        for key in keys:
            latest[key] = max(latest.get(key, 0), int(m.group(1)))
    return latest


def driver_order(history_dir: str = HISTORY_DIR) -> list[str]:
    """Every registry key, least recently checked first.

    Never-checked keys lead (run -1), oracle-backed before rows-only: the
    hash check is the stronger contract.  Among keys last checked in the
    same run, rows-only come first: the non-empty-result check is the only
    correctness evidence they have.  Final tie breaks on name."""
    latest = latest_adjudication(history_dir)
    oracles = all_oracles()

    def sort_key(name: str):
        rnd = latest.get(name, -1)
        rows_only = name not in oracles
        return (rnd, rows_only if rnd == -1 else not rows_only, name)

    return sorted(all_queries(), key=sort_key)


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    """One entry per implemented operator from SURVEY.md §2, in
    :func:`driver_order`."""
    qs = all_queries()
    return {name: qs[name] for name in driver_order()}


def oracle_sql() -> dict[str, str]:
    """DuckDB-runnable ANSI SQL twin for every SQL-expressible operator,
    in :func:`driver_order`; ops without an entry get the rows-only
    check."""
    oracles = all_oracles()
    return {name: oracles[name] for name in driver_order() if name in oracles}
