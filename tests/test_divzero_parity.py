"""Cross-engine parity at the divide-by-zero edges (r6 ADVICE items 2-3).

Spark's non-ANSI double division yields NULL at x/0 while DuckDB's IEEE
division yields inf/NaN — a latent hash divergence in any operator whose
denominator CAN be zero, masked only because the driver fixtures never
produce one.  This module regenerates the documents fixture WITH the
pathological sources and re-runs the driver-style hash compare:

- ``word_zipf_slope``: a source with exactly ONE distinct word has a
  zero OLS denominator (n*Sxx - Sx² = 0 since ln(1) = 0); the n>=2
  HAVING guard drops it identically on both engines.
- ``char_class_profile``: a source with ZERO a-z characters divides by
  SUM(alpha_chars) = 0; the NULLIF(.., 0) guard yields NULL on both.
"""

from __future__ import annotations

import pyarrow as pa
import pyarrow.parquet as pq
import pytest

from googlecloudstorage_blueprints_spark.operators import (
    all_oracles,
    all_queries,
)
from tests.parity import assert_parity, compare, duck_con

SF_SRC = "/root/testdata/sf0.001"

EDGE_OPS = ["word_zipf_slope", "char_class_profile"]


@pytest.fixture(scope="module")
def divzero_dir(tmp_path_factory):
    """sf0.001 plus a single-word source and a zero-alpha source."""
    out = tmp_path_factory.mktemp("divzero_sf")
    tbl = pq.read_table(f"{SF_SRC}/documents.parquet")
    extra = pa.table(
        {
            "doc_id": pa.array([20_000_001, 20_000_002], pa.int64()),
            # one distinct word twice: still rank-1 only -> n_ranks = 1
            "text": pa.array(["solo solo", "123 456 789 0"], pa.string()),
            "lang": pa.array(["en", "en"], pa.string()),
            "source": pa.array(
                ["edge_one_word", "edge_no_alpha"], pa.string()
            ),
            "n_chars": pa.array([9, 13], pa.int64()),
        }
    ).cast(tbl.schema)
    pq.write_table(pa.concat_tables([tbl, extra]), out / "documents.parquet")
    return str(out)


@pytest.mark.parametrize("name", EDGE_OPS)
def test_divzero_edges_match(spark, name, divzero_dir):
    v = compare(spark, divzero_dir, all_queries()[name], all_oracles()[name])
    # row count and values must agree at the div-zero edge
    assert_parity(v, name)

    # the pathological sources must actually be exercised, not dropped
    # upstream: char_class_profile keeps edge_no_alpha (NULL ratio);
    # word_zipf_slope drops edge_one_word on BOTH engines via the guard
    srcs = {r[0] for r in v.rows}
    if name == "char_class_profile":
        assert "edge_no_alpha" in srcs
    else:
        assert "edge_one_word" not in srcs


def test_length_outlier_mad_planted_artifact(spark, tmp_path):
    """The driver fixtures produce no MAD outliers (the oracle pass is
    0 == 0 rows there) — plant a scrape artifact and a MAD=0 source and
    pin both paths: the artifact is flagged on BOTH engines with the
    same rounded robust-z, and the zero-MAD source is silently excluded
    (NULLIF guard) instead of diverging NULL-vs-inf."""
    import pandas as pd

    rows = []
    # normal source: lengths spread 100..148, one 50_000-char artifact
    for i in range(25):
        rows.append((i, "x" * (100 + 2 * i), "normal", 100 + 2 * i))
    rows.append((99, "y" * 50_000, "normal", 50_000))
    # degenerate source: every doc identical length -> MAD = 0
    for i in range(10):
        rows.append((200 + i, "z" * 77, "constant", 77))
    pdf = pd.DataFrame(
        {
            "doc_id": [r[0] for r in rows],
            "text": [r[1] for r in rows],
            "lang": "en",
            "source": [r[2] for r in rows],
            "n_chars": [r[3] for r in rows],
        }
    )
    pq.write_table(pa.Table.from_pandas(pdf), tmp_path / "documents.parquet")

    sdf = all_queries()["length_outlier_mad"](spark, str(tmp_path))
    got = {r["doc_id"]: r["robust_z"] for r in sdf.collect()}
    assert 99 in got, "planted artifact not flagged"
    assert all(r != 99 for r in got if got[r] is None)
    assert not any(200 <= d < 210 for d in got), "MAD=0 source leaked"

    with duck_con(str(tmp_path)) as con:
        duck = {
            r[0]: r[3]
            for r in con.execute(
                all_oracles()["length_outlier_mad"]
            ).fetchall()
        }
    assert got == duck, "cross-engine divergence on planted corpus"
