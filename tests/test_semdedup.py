"""Planted-corpus pins for the semantic-dedup operators (r9).

The driver fixture's embedding pairs top out around cosine 0.5, so the
registered ops exercise the tier cut (0.4) but never a REALISTIC
semantic duplicate (cosine ≥ 0.9).  These tests plant one:

- base vectors made exactly orthogonal (QR), so no accidental pair
  crosses the cut — every duplicate pair is a planted one;
- duplicate groups = base + tiny deterministic noise (cosine ≥ 0.99).

Pinned: the exact op's keeper drops exactly the planted higher-id
copies (cross-engine, driver-style canonical compare); the ANN tier's
summary equals the exact tier's on high-cosine dups (the ≥ 0.99
candidate-probability regime the module docstring claims); and the
greedy keeper is dominance, not transitive clustering.
"""

from __future__ import annotations

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq
import pytest

from googlecloudstorage_blueprints_spark.operators import (
    all_oracles,
    all_queries,
)
from googlecloudstorage_blueprints_spark.operators.semdedup import (
    _survivorship_summary,
)
from tests.parity import assert_parity, compare

DIM = 64


@pytest.fixture(scope="module")
def planted_dir(tmp_path_factory):
    """40 orthogonal singletons + 3 duplicate groups (sizes 2, 3, 2)."""
    rng = np.random.default_rng(7)
    base, _ = np.linalg.qr(rng.normal(size=(DIM, DIM)))
    base = base.T[:43]  # orthonormal rows: pairwise cosine exactly 0

    vecs, labels = [], []
    # 40 singletons, labels 0-9 round-robin
    for i in range(40):
        vecs.append(base[i])
        labels.append(i % 10)
    # duplicate groups seeded from base[40..42]; copies get tiny noise
    for g, (seed_row, n_copies) in enumerate(
        [(40, 2), (41, 3), (42, 2)]
    ):
        for c in range(n_copies):
            noise = rng.normal(size=DIM) * 0.02
            v = base[seed_row] + (noise if c else 0.0)
            vecs.append(v / np.linalg.norm(v))
            labels.append(g)  # whole group shares a label

    out = tmp_path_factory.mktemp("semdedup_sf")
    tbl = pa.table(
        {
            "vec_id": pa.array(range(len(vecs)), pa.int64()),
            "embedding": pa.array(
                [list(map(float, v)) for v in vecs],
                pa.list_(pa.float32()),
            ),
            "label": pa.array(labels, pa.int32()),
        }
    )
    pq.write_table(tbl, out / "embeddings.parquet")
    return str(out)


def test_exact_keeper_drops_planted_copies_cross_engine(spark, planted_dir):
    v = compare(
        spark,
        planted_dir,
        all_queries()["dedup_semantic"],
        all_oracles()["dedup_semantic"],
    )
    assert_parity(v, "cross-engine divergence on planted semantic dups")
    by_label = {r[0]: r for r in v.rows}

    # groups of 2/3/2 at labels 0/1/2 → one survivor each: 1/2/1 dropped
    i_drop = v.columns.index("n_dropped")
    assert by_label[0][i_drop] == 1
    assert by_label[1][i_drop] == 2
    assert by_label[2][i_drop] == 1
    # labels 3-9 hold only orthogonal singletons: nothing dropped
    assert all(by_label[lb][i_drop] == 0 for lb in range(3, 10))


def test_ann_tier_matches_exact_on_high_cosine(spark, planted_dir):
    """At cosine ≥ 0.99 the 8×5 SRP config's candidate probability is
    ~1 and the hyperplanes are deterministic — the ANN summary must
    equal the exact one bit-for-bit on this corpus."""
    exact = sorted(
        tuple(r)
        for r in all_queries()["dedup_semantic"](spark, planted_dir).collect()
    )
    ann = sorted(
        tuple(r)
        for r in all_queries()["dedup_semantic_ann"](
            spark, planted_dir
        ).collect()
    )
    assert ann == exact


def test_keeper_is_dominance_not_transitive(spark):
    """Pairs (1,2) and (2,3): both 2 and 3 drop (each has a lower-id
    partner), regardless of 2 itself being dropped — greedy dominance,
    not connected components."""
    emb = spark.createDataFrame(
        [(1, 0), (2, 0), (3, 0)], "vec_id long, label int"
    )
    pairs = spark.createDataFrame(
        [(1, 2, 0.95), (2, 3, 0.95)],
        "vec_a long, vec_b long, cosine double",
    )
    row = _survivorship_summary(emb, pairs, 0.9).collect()[0]
    assert (row["n_vecs"], row["n_dropped"], row["n_kept"]) == (3, 2, 1)
    assert row["drop_rate"] == 2 / 3
