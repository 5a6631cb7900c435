#!/usr/bin/env python3
"""Zero-column vacuity scan — the r13 method as a standing round-open step.

A driver oracle pass is VACUOUS for any detection path whose fixture
output never exercises it: an all-NULL / all-zero / all-false / all-empty
column (or a zero-row result) hash-matches trivially, so the pass vouches
for nothing.  r7 established the zero-ROW rule; r13 generalized it to
columns and found eight unplanted detection paths in previously-green
ops.  This script runs EVERY oracle (DuckDB side — same SQL the driver
hashes) against the sf0.01 fixtures and reports vacuous columns that are
not in the allowlist of already-pinned paths.

    python scripts/vacuity_scan.py            # scan at /root/testdata/sf0.01
    VACUITY_SF_DIR=... python scripts/vacuity_scan.py

Exit 1 on NEW findings (not allowlisted) — each needs either a planted
cross-engine test pinning the detection path (then add it here, with the
test file that covers it) or a fixture-shape rationale.

Fixtures regenerate between rounds, so rerun this every round: a column
that was exercised last round can go vacuous when the data changes.
"""

from __future__ import annotations

import os
import sys

sys.path.insert(
    0, os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
)

# (op, column) -> why it is allowed to be vacuous on fixtures.
# Every entry must name the planted test that pins the path.
ALLOWLIST: dict[tuple[str, str], str] = {
    # r7 planted zero-row classes
    ("dedup_cross_source_matrix", "*"): "fixture has no cross-source dups; planted in test_dedup_cap.py",
    ("length_outlier_mad", "*"): "fixture has no MAD outliers; planted in test_divzero_parity.py",
    ("global_sales_opportunity", "*"): "fixture output empty at sf<=0.01; planted prospect test (r10)",
    # r8 planted zero/empty paths (test_planted_empty_ops.py)
    ("join_anti", "*"): "every fixture customer has orders; planted orderless customer",
    ("fk_orphan_check", "*"): "all fixture FK edges clean; planted orphan lineitem",
    # r10 planted paths
    ("split_leakage_check", "*"): "corpus has no exact dups; planted cross-split leak (test_new_ops_r10b.py)",
    # r11 planted paths
    ("events_id_ts_inversions", "*"): "fixture inversions zero; planted backwards-clock full-row compare (test_planted_empty_ops.py)",
    ("events_duplicate_check", "*"): "fixture multiplicities all 1; planted double/triple-fire delta (test_new_ops_r11.py)",
    # r12c planted paths (test_new_ops_r12c.py)
    ("user_growth_accounting", "*"): "fixture users never churn/resurrect weekly; planted 3-user pin",
    ("source_epoch_waterfill", "capped"): "fixture budget never caps a source; planted skew pin",
    # r13 planted paths (test_planted_vacuity_r13.py / _r13b.py)
    ("pii_pattern_scan", "*"): "email/digit detectors vacuous on fixtures; test_planted_vacuity_r13.py",
    ("pii_redact", "*"): "same two regexes as the scan; planted redaction counts (test_planted_vacuity_r13.py)",
    ("table_checks", "*"): "all seven violation counters zero on fixtures; test_planted_vacuity_r13.py",
    ("join_asof_tolerance", "*"): "every fixture match staler than the 7-day bound; test_planted_vacuity_r13.py",
    ("events_sessionized_funnel", "*"): "ordered purchase step vacuous; test_planted_vacuity_r13.py",
    ("incremental_dedup", "*"): "corpus has no exact dups; test_planted_vacuity_r13.py",
    ("dedup_rate_by_source", "*"): "corpus has no exact dups; test_planted_vacuity_r13.py",
    ("table_profile", "*"): "null counters zero on fixtures; test_planted_vacuity_r13.py",
    ("packing_efficiency_report", "*"): "underfill counter zero on fixtures; test_planted_vacuity_r13.py",
    ("char_class_profile", "*"): "digit path vacuous on fixtures; test_planted_vacuity_r13b.py",
    ("source_quality_scorecard", "*"): "digit/terminator paths vacuous; test_planted_vacuity_r13b.py",
    ("doc_sentence_stats", "*"): "sentence-terminator path vacuous; test_planted_vacuity_r13b.py",
    # r11/r13 sweep rows that legitimately repeat on fixture data
    ("dedup_threshold_sensitivity", "*"): "fixture near-dups all >0.9 Jaccard; planted 17/19 pair (r11)",
    ("funnel_window_sensitivity", "*"): "fixture 30/90-day rows identical; planted bend pin (r13)",
    ("events_anomaly_mad", "*"): "fixture daily volumes stable, flag path vacuous; planted 10x spike (r13)",
    # r14 scan findings, each pinned or data-shaped (see the test/file)
    ("sequence_pack", "bin_id"): "every sf0.01 source fits one context bin; planted multi-bin source (test_planted_vacuity_r14.py)",
    ("json_extract", "min_k"): "k spans [0,99] and every type hits 0; planted min=5 type (test_planted_vacuity_r14.py)",
    ("part_revenue_concentration", "*"): "share threshold passes no part at sf0.01; cross-engine pin at sf0.001 (test_planted_vacuity_r14.py)",
    ("embedding_norm_label_anova", "norm_anova_r2"): "fixture embeddings unit-norm -> quantized SS_total 0 -> guarded NULL; planted split-scales pin (test_new_ops_r10c.py)",
    # r16 scan finding, planted at landing
    ("table_column_digest", "n_nulls"): "fixture tables carry no NULL cells; planted 2-NULL lang pin (test_new_ops_r16.py)",
}


def _allowed(op: str, col: str) -> bool:
    return (op, col) in ALLOWLIST or (op, "*") in ALLOWLIST


def main() -> int:
    sf = os.environ.get("VACUITY_SF_DIR", "/root/testdata/sf0.01")
    from googlecloudstorage_blueprints_spark.operators import all_oracles
    from tests.parity import duck_con

    oracles = all_oracles()
    con = duck_con(sf)

    new, allowed = [], []
    for name in sorted(oracles):
        try:
            df = con.sql(oracles[name]).df()
        except Exception as exc:  # noqa: BLE001 — report, keep scanning
            new.append((name, "<error>", str(exc).splitlines()[0]))
            continue
        if len(df) == 0:
            tag = (name, "<zero rows>")
            (allowed if _allowed(name, "*") else new).append(
                tag + ("zero-row output",)
            )
            continue
        for col in df.columns:
            s = df[col]
            if s.isna().all():
                kind = "all-NULL"
            else:
                sn = s.dropna()
                if sn.dtype.kind in "iuf" and (sn == 0).all():
                    kind = "all-0"
                elif sn.dtype.kind == "b" and (~sn.astype(bool)).all():
                    kind = "all-false"
                elif sn.dtype.kind == "O" and (
                    sn.astype(str).str.len() == 0
                ).all():
                    kind = "all-empty"
                else:
                    continue
            tag = (name, col, kind)
            (allowed if _allowed(name, col) else new).append(tag)

    print(f"scanned {len(oracles)} oracles at {sf}")
    print(f"allowlisted vacuous paths seen: {len(allowed)}")
    for t in allowed:
        print(f"  ok   {t[0]}.{t[1]} ({t[2]})")
    if new:
        print(f"NEW vacuous paths: {len(new)} — plant a cross-engine test")
        for t in new:
            print(f"  NEW  {t[0]}.{t[1]} ({t[2]})")
        return 1
    print("no new vacuous paths")
    return 0


if __name__ == "__main__":
    sys.exit(main())
