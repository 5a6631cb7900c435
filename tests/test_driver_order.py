"""Pin the key check order derived in ``__spark_entry__``.

The correctness harness walks ``queries()`` in dict order with a ~50-key
budget, so the order is part of the entry-point contract.  It is computed from
the ``CORRECTNESS_r{N}.json`` history on every call; these tests pin the
policy and show that a new history file rotates the order by itself.
"""

from __future__ import annotations

import glob
import json
import shutil

import __spark_entry__ as ent
from googlecloudstorage_blueprints_spark.operators import REGISTRY


def test_order_covers_whole_registry_exactly_once():
    order = ent.driver_order()
    assert sorted(order) == sorted(REGISTRY)
    assert len(order) == len(set(order))


def test_oldest_adjudication_comes_first():
    """Staleness dominates: run numbers are non-decreasing down the list,
    with never-checked keys (run -1) in front."""
    latest = ent.latest_adjudication()
    rounds = [latest.get(n, -1) for n in ent.driver_order()]
    assert rounds == sorted(rounds)


def test_queries_and_oracles_follow_the_order():
    order = ent.driver_order()
    assert list(ent.queries()) == order
    oracles = ent.oracle_sql()
    assert list(oracles) == [
        n for n in order if REGISTRY[n].oracle is not None
    ]
    assert all(oracles[n] == REGISTRY[n].oracle for n in oracles)


def test_empty_history_is_the_never_seen_policy(tmp_path):
    order = ent.driver_order(str(tmp_path))
    assert order == sorted(
        REGISTRY, key=lambda n: (REGISTRY[n].oracle is None, n)
    )


def test_new_history_file_rotates_the_order(tmp_path):
    """No regeneration step: one higher-numbered file naming the head key
    moves it behind every key checked in an earlier run."""
    for src in glob.glob(f"{ent.HISTORY_DIR}/CORRECTNESS_r*.json"):
        shutil.copy(src, tmp_path)
    before = ent.driver_order(str(tmp_path))
    head = before[0]
    top = max(ent.latest_adjudication(str(tmp_path)).values())
    (tmp_path / f"CORRECTNESS_r{top + 1}.json").write_text(
        json.dumps({head: {"rows_match": True}})
    )
    after = ent.driver_order(str(tmp_path))
    assert after == [n for n in before if n != head] + [head]
