"""Planted pins for the r18 hostile-unicode audit findings.

``scripts/catalog_audit.py --catalog unicode`` (standing since r18)
found three real cross-engine divergences the ASCII-ish fixtures could
never exercise; each fix gets a planted detection-path pin here so a
regression fires red even if the audit is skipped:

1. doc_char_entropy — NEGATIVE ZERO: a single-char alphabet makes
   -SUM(p·log2 p) read -0.0, which DuckDB ROUND preserves and the
   canonicalizer's repr() distinguishes from '0.0'.  Fixed with the
   `+ 0.0` IEEE guard on BOTH engines.
2. multimodal_metadata_agg — BYTES vs CODE POINTS: Spark measures the
   UTF-8 encoding, the oracle used DuckDB length() (code points) —
   identical on ASCII, divergent on any multi-byte text.  Oracle now
   uses strlen().
3. text_normalize_fingerprint — CASE-MAPPING divergence: JVM
   lower('İ') = 'i' + U+0307 (full mapping) vs DuckDB's plain 'i'
   (simple folding), flipping the fingerprint and normalized length.
   Both engines now fold case with ASCII translate() (the new-op rule
   for any lower()/upper() whose output feeds a hash/join/output).
"""

from __future__ import annotations

import hashlib
import re

import pytest

from googlecloudstorage_blueprints_spark.operators import (
    all_oracles,
    all_queries,
)
from tests.parity import build_catalog, duck_con

PLANTED = [
    # (text, lang, source)
    ("a" * 500, "en", "src1"),                       # single-char alphabet
    ("\U0001f600\U0001f600 café 中文", "en", "src1"),  # multibyte
    ("İstanbul ISPARTA köfte", "tr", "src2"),  # Turkish casing
    ("the quick brown fox", "en", "src2"),           # ASCII control
]


@pytest.fixture(scope="module")
def planted_dir(tmp_path_factory):
    return build_catalog(
        "unicode", tmp_path_factory.mktemp("unicode_pins"), docs=PLANTED
    )


def test_char_entropy_negative_zero_guard(spark, planted_dir):
    sdf = all_queries()["doc_char_entropy"](spark, planted_dir)
    srow = {r["doc_id"]: r for r in sdf.collect()}
    # the constant doc reads EXACTLY +0.0 — repr, not just ==, because
    # the canonicalizer stringifies and '-0.0' != '0.0'
    assert repr(srow[0]["char_entropy"]) == "0.0"
    con = duck_con(planted_dir)
    drow = {
        r[0]: r
        for r in con.execute(
            all_oracles()["doc_char_entropy"]
        ).fetchall()
    }
    con.close()
    assert repr(float(drow[0][3])) == "0.0"


def test_metadata_agg_counts_utf8_bytes(spark, planted_dir):
    sdf = all_queries()["multimodal_metadata_agg"](spark, planted_dir)
    srows = {r["source"]: r for r in sdf.collect()}
    expect_src1 = len(PLANTED[0][0].encode("utf-8")) + len(
        PLANTED[1][0].encode("utf-8")
    )
    assert srows["src1"]["total_payload_bytes"] == expect_src1
    con = duck_con(planted_dir)
    drows = {
        r[0]: r
        for r in con.execute(
            all_oracles()["multimodal_metadata_agg"]
        ).fetchall()
    }
    con.close()
    assert drows["src1"][2] == expect_src1
    assert drows["src2"][2] == srows["src2"]["total_payload_bytes"]


def test_fingerprint_ascii_fold_cross_engine(spark, planted_dir):
    sdf = all_queries()["text_normalize_fingerprint"](spark, planted_dir)
    srows = {r["doc_id"]: r for r in sdf.collect()}
    con = duck_con(planted_dir)
    drows = {
        r[0]: r
        for r in con.execute(
            all_oracles()["text_normalize_fingerprint"]
        ).fetchall()
    }
    con.close()
    # cross-engine identical on EVERY planted doc, incl. the Turkish one
    for i in srows:
        assert srows[i]["fp"] == drows[i][2], f"doc {i}"
        assert srows[i]["n_norm_chars"] == drows[i][1], f"doc {i}"
    # closed form: ASCII fold + [a-z0-9 ]-filter + collapse + trim,
    # replicated in pure Python
    def ref(text):
        folded = "".join(
            c.lower() if "A" <= c <= "Z" else c for c in text
        )
        norm = re.sub("  +", " ", re.sub("[^a-z0-9 ]", " ", folded)).strip()
        return norm, hashlib.md5(norm.encode()).hexdigest()

    for i, (text, _l, _s) in enumerate(PLANTED):
        norm, fp = ref(text)
        assert srows[i]["n_norm_chars"] == len(norm), f"doc {i}"
        assert srows[i]["fp"] == fp, f"doc {i}"
