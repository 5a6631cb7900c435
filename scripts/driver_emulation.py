#!/usr/bin/env python
"""Driver-contract emulation under a hostile timezone — the round-close
insurance every round has run ad hoc since r9, made standing.

Reproduces what the correctness driver actually does, with the one
deliberately hostile twist: a VANILLA SparkSession (none of the
engine's runtime configs) whose session timezone is America/New_York —
proving the operators' own `apply_runtime_conf` normalization, the ntz
shim, and every timestamp canonicalization hold no matter what session
the host hands us.  Keys are walked in the correctness harness's order
(`__spark_entry__.queries()`), so `--head N` replays exactly the window
the harness checks next.  For each key it runs the Spark query at
the target SF; oracle-backed keys are hash-compared against DuckDB on
row count + sorted column names + order-insensitive canonical values
(the ``tests/parity.py`` compare the oracle-parity tests use); rows-only keys must
return a non-empty schema and at least one row (a zero-row result would
make the rows-only check vacuous).

Usage (from the repo root):

    python scripts/driver_emulation.py                 # full surface, sf0.01
    python scripts/driver_emulation.py --head 50       # the next 50-key window
    python scripts/driver_emulation.py --sf-dir DIR
    python scripts/driver_emulation.py key1 key2 ...   # subset

Exit 1 on any mismatch/error.
"""

from __future__ import annotations

import argparse
import os
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

HOSTILE_TZ = "America/New_York"


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("keys", nargs="*", help="subset of registry keys")
    ap.add_argument("--sf-dir", default="/root/testdata/sf0.01")
    ap.add_argument("--head", type=int, help="only the first N keys")
    args = ap.parse_args()

    from pyspark.sql import SparkSession

    # the driver's session, not the engine's: vanilla builder, hostile tz
    spark = (
        SparkSession.builder.master("local[8]")
        .config("spark.sql.session.timeZone", HOSTILE_TZ)
        .config("spark.ui.enabled", "false")
        .getOrCreate()
    )
    import __spark_entry__ as ent

    entry_rows = ent.entry(spark).collect()
    print(f"entry(): {len(entry_rows)} rows")
    qs, os_ = ent.queries(), ent.oracle_sql()
    assert set(os_) <= set(qs)

    from tests.parity import compare, duck_con

    unknown = [n for n in args.keys if n not in qs]
    if unknown:
        print(f"error: unknown keys {unknown}", file=sys.stderr)
        return 2
    names = [n for n in qs if not args.keys or n in args.keys][: args.head]
    con = duck_con(args.sf_dir)
    fails: list[str] = []
    n_oracle = n_rows_only = 0
    for name in names:
        v = compare(spark, args.sf_dir, qs[name], os_.get(name), con)
        if v.tag == "ROWS_ONLY_OK":
            n_rows_only += 1
            if v.columns and v.rows:
                print(f"  ok   {name} (rows-only, {len(v.rows)})")
                continue
            what = "empty schema" if not v.columns else "zero rows"
        elif v.tag == "MATCH":
            n_oracle += 1
            print(f"  ok   {name} ({len(v.rows)} rows)")
            continue
        else:
            n_oracle += v.tag == "MISMATCH"
            what = f"{v.tag} {v.detail}"
        fails.append(f"{name}: {what}")
        print(f"  FAIL {name}: {what}")
    con.close()
    spark.stop()
    print(
        f"\n{n_oracle} oracle-compared / {n_rows_only} rows-only under "
        f"tz={HOSTILE_TZ}; {len(fails)} failure(s)"
    )
    for f in fails:
        print(f"FAIL: {f}")
    return 1 if fails else 0


if __name__ == "__main__":
    sys.exit(main())
