"""Smoke test for ``scripts/scale_probe.py``, in-process on the session.

The probe's exponents mean something only if its replicated catalog
keeps join fan-out real: every table with a shifted key grows exactly
N×, the replicas' key ranges are disjoint, and a key join grows N×
(not N²).  The report line must carry a timing per scale and an
exponent, an operator whose exact-tier guard trips reads ``guarded``
without failing the run, and an operator's cached result is freed after
each call so the next one runs the operator again.
"""

from __future__ import annotations

import importlib.util
import os
import re

import pyspark.sql.functions as F

from googlecloudstorage_blueprints_spark.operators import similarity as sim
from googlecloudstorage_blueprints_spark.operators.graph import (
    _persisted_rdd_ids,
)

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
_spec = importlib.util.spec_from_file_location(
    "scale_probe", os.path.join(REPO, "scripts", "scale_probe.py"))
probe = importlib.util.module_from_spec(_spec)
_spec.loader.exec_module(probe)


def test_replicate_keeps_fanout_and_disjoint_keys(spark, sf_dir, tmp_path):
    out = f"{tmp_path}/2x"
    probe.replicate(spark, sf_dir, out, 2)

    def read(d, t):
        return spark.read.parquet(f"{d}/{t}.parquet")

    for t in probe.TABLES:
        base, rep = read(sf_dir, t), read(out, t)
        assert rep.dtypes == base.dtypes, t
        keys = [c for c in base.columns if c in probe.SHIFTED]
        if not keys:  # region, nation: copied unchanged
            assert sorted(rep.collect()) == sorted(base.collect()), t
            continue

        def stats(r):
            # (min, max, count) of each key's values in replica r
            return [f(F.when(F.expr(f"{k} div {probe.STRIDE}") == r, F.col(k)))
                    for k in keys for f in (F.min, F.max, F.count)]

        want = base.agg(*stats(0), F.count(F.lit(1))).first()
        got = rep.agg(*stats(0), *stats(1), F.count(F.lit(1))).first()
        n = want[-1]
        assert got[-1] == 2 * n, t
        # replica r holds exactly the base range shifted by r×STRIDE, and
        # every base key lies below STRIDE: the replicas are disjoint
        shifted = [v + probe.STRIDE if i % 3 < 2 else v
                   for i, v in enumerate(want[:-1])]
        assert list(got[:-1]) == [*want[:-1], *shifted], t
        assert all(c == n for c in want[2:-1:3]), t

    def joined(d):
        li, o = read(d, "lineitem"), read(d, "orders")
        return li.join(o, li.l_orderkey == o.o_orderkey).count()

    assert joined(out) == 2 * joined(sf_dir)


def test_probe_reports_timings_exponent_and_guard(
    spark, sf_dir, monkeypatch, capsys
):
    monkeypatch.setattr(probe, "get_spark", lambda **_: spark)
    monkeypatch.setattr(sim, "EXACT_TIER_MAX_ROWS", 2)
    before = _persisted_rdd_ids(spark.sparkContext)
    # sequence_pack returns a cached result: each call must free it, or
    # the next timed call reads the cache instead of running the operator
    probe.main(["--sf", sf_dir, "--scales", "1,2", "--runs", "1",
                "join_shuffle", "sequence_pack", "similarity_knn_bruteforce"])
    assert not _persisted_rdd_ids(spark.sparkContext) - before
    lines = capsys.readouterr().out.splitlines()
    for op, line in zip(("join_shuffle", "sequence_pack"), lines[-3:]):
        assert re.fullmatch(
            op + r": 1x=\d+\.\d\ds 2x=\d+\.\d\ds exponent=-?\d+\.\d\d",
            line), lines
    assert lines[-1] == ("similarity_knn_bruteforce: 1x=guarded "
                         "2x=guarded exponent=guarded")
