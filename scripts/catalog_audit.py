#!/usr/bin/env python
"""Hostile-catalog robustness audit: rebuild the sf0.001 catalog as one
hostile vintage, run every registered operator on it, and cross-compare
Spark vs DuckDB for the oracle-backed keys.

Why these inputs matter: the engine exists to move tables between
buckets, and botched copies and fixture regens have a few recurring
shapes that the clean fixtures never exercise.  Each ``--catalog`` is
one of them (builders in ``tests/parity.py``):

- ``empty``: every table with its real schema and zero rows — a move
  that wrote the directory but no rows, a backfill that matched nothing.
- ``single``: one row per table — degenerate statistics (n-1 = 0, every
  lag/lead NULL), FK integrity deliberately broken.
- ``null``: ~1/3 of the cells of every column NULLed in a deterministic
  stagger, keys included — NULL ordering (Spark ASC = NULLS FIRST,
  DuckDB = NULLS LAST), NULL propagation (concat vs ``||``), NULL group
  and join keys, and numpy/Arrow kernels crashing on None cells.
- ``narrow``: int64 columns that fit become int32, strings become
  large_string — 32-bit arithmetic traps (ANSI overflow THROWS in
  Spark 4) and reader quirks.
- ``nanos``: every timestamp[us] stored as TIMESTAMP(NANOS), the
  original fixture vintage (read through nanosAsLong, truncated to µs
  exactly like DuckDB's reader).
- ``tzaware``: every timestamp[us] becomes timestamp[us, tz=UTC]; the
  session timezones (Spark pinned UTC, DuckDB set to UTC for the three
  type drifts) must relabel without shifting.
- ``unicode``: documents rebuilt from 24 adversarial texts (emoji/ZWJ,
  astral plane, CJK, RTL + bidi marks, NFC-vs-NFD accents, NUL byte,
  zero-width and exotic whitespace, Turkish dotless-i, sharp-s casing,
  non-ASCII digits, a 10k-char token); the other tables are the fixture
  unchanged, so the non-text families run as a control group.

Usage:
    python scripts/catalog_audit.py [--catalog C] [key ...]
    # default: all seven catalogs over all registered keys.

Output: one line per (catalog, key) — MATCH / MISMATCH / SPARK_ERROR /
DUCK_ERROR / ROWS_ONLY_{OK,ERROR} — and exit 1 if any non-allowlisted
MISMATCH/ERROR appears (2 if the audit itself crashes).
"""

from __future__ import annotations

import argparse
import os
import sys
import tempfile
import traceback

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from tests.parity import (  # noqa: E402
    CATALOGS,
    DRIFTS,
    OK_TAGS,
    build_catalog,
    compare,
    duck_con,
)

# (catalog, key) divergences adjudicated ACCEPTABLE and documented.  Keep
# SHORT — every entry is a known divergence a future fix could retire,
# not a license.
ALLOWLIST: dict[tuple[str, str], str] = {}


def run_catalog(spark, catalog, keys, queries, oracles, bad) -> None:
    sf_dir = build_catalog(
        catalog, tempfile.mkdtemp(prefix=f"{catalog}_catalog_")
    )
    with duck_con(sf_dir, utc=catalog in DRIFTS) as con:
        for name in keys:
            if name not in queries:
                print(f"SKIP {catalog}/{name}: not registered")
                continue
            v = compare(spark, sf_dir, queries[name], oracles.get(name), con)
            print(v.line(f"{catalog}/{name}"))
            if v.tag not in OK_TAGS and (catalog, name) not in ALLOWLIST:
                bad.append((catalog, name, v.tag))


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--catalog", choices=list(CATALOGS), default=None)
    ap.add_argument("keys", nargs="*")
    args = ap.parse_args()

    from googlecloudstorage_blueprints_spark.operators import (
        all_oracles,
        all_queries,
    )
    from googlecloudstorage_blueprints_spark.session import get_spark

    spark = get_spark(app_name="catalog-audit")
    queries = all_queries()
    oracles = all_oracles()
    keys = args.keys or sorted(queries)

    bad: list[tuple[str, str, str]] = []
    for catalog in [args.catalog] if args.catalog else CATALOGS:
        run_catalog(spark, catalog, keys, queries, oracles, bad)

    print(f"\n{len(bad)} non-allowlisted finding(s)")
    for catalog, name, tag in bad:
        print(f"  {tag} {catalog}/{name}")
    return 1 if bad else 0


if __name__ == "__main__":
    try:
        sys.exit(main())
    except Exception:
        traceback.print_exc()
        sys.exit(2)
