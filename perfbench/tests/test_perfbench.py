"""Tests of the benchmark's own machinery (no Spark session needed).

    python -m pytest perfbench/tests -q
"""

from __future__ import annotations

import hashlib
import json
import os
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
BENCH = os.path.dirname(HERE)
sys.path.insert(0, BENCH)

sys.path.insert(0, os.path.dirname(BENCH))

import gen  # noqa: E402
import run  # noqa: E402
from spans import (  # noqa: E402
    Span,
    Tracer,
    layer_self_times,
    median,
    percentile,
    self_times,
    tail,
    tail_percentile,
)
from workloads import (  # noqa: E402
    EXACT_PER_CYCLE,
    JOBS_PER_SEQUENCE,
    QUERY_OPS,
    WORKLOADS,
)


def _tree_digest(root: str) -> str:
    h = hashlib.sha256()
    for dirpath, dirnames, names in sorted(os.walk(root)):
        dirnames.sort()
        for name in sorted(names):
            path = os.path.join(dirpath, name)
            h.update(os.path.relpath(path, root).encode())
            with open(path, "rb") as handle:
                h.update(handle.read())
    return h.hexdigest()


def _generate(out: str, base: str, seed: int) -> str:
    os.makedirs(out)
    gen.object_tree(os.path.join(out, "tree"), seed, n_groups=2, per_group=16)
    gen.event_parts(base, os.path.join(out, "parts"), seed, 4)
    gen.upsert_batch(base, os.path.join(out, "updates.parquet"), seed, 20, 5)
    with open(os.path.join(out, "order.json"), "w") as handle:
        json.dump(gen.pass_orders(list("abcdefgh"), seed, 3), handle)
    return _tree_digest(out)


def test_generator_is_deterministic_per_seed(tmp_path):
    base_a = gen.write_base_tables(str(tmp_path / "base_a"), 0.001)
    base_b = gen.write_base_tables(str(tmp_path / "base_b"), 0.001)
    assert _tree_digest(base_a) == _tree_digest(base_b)

    first = _generate(str(tmp_path / "s7a"), base_a, 7)
    again = _generate(str(tmp_path / "s7b"), base_a, 7)
    other = _generate(str(tmp_path / "s8"), base_a, 8)
    assert first == again
    assert first != other


def test_object_tree_plants_collisions_and_marker(tmp_path):
    tree = gen.object_tree(str(tmp_path), 3, n_groups=1, per_group=128)
    objs = tree["g0"]
    basenames = [os.path.basename(p) for p in objs]
    assert len(set(basenames)) < len(basenames)  # colliding basenames
    assert basenames.count("marker.dat") == 1
    bigs = [len(v) for k, v in objs.items() if "/big" in k]
    assert sum(bigs) == 20 << 20 and all(4 << 20 <= b <= 16 << 20 for b in bigs)


def test_event_parts_cover_every_row_once(tmp_path):
    base = gen.write_base_tables(str(tmp_path / "base"), 0.001)
    counts = gen.event_parts(base, str(tmp_path / "parts"), 5, 4)
    import pyarrow.parquet as pq

    total = pq.ParquetFile(os.path.join(base, "events.parquet")).metadata.num_rows
    assert sum(counts) == total and min(counts) > 0


def test_metric_names_match_benchmark_json():
    with open(os.path.join(os.path.dirname(BENCH), "BENCHMARK.json")) as handle:
        spec = json.load(handle)
    assert {m["name"]: m["unit"] for m in spec["end_to_end"]} == run.END_TO_END
    assert {m["name"]: m["unit"] for m in spec["per_layer"]} == run.PER_LAYER
    assert {w["name"] for w in spec["workloads"]} == {
        "query-mix", "object-transfer", "ingest-curate"}
    assert spec["command"] == ["python3", "perfbench/run.py"]


def test_result_line_carries_every_metric_of_the_mode():
    for spec in (run.END_TO_END, run.PER_LAYER):
        out = run.result_line({}, spec, attempted=3, failed=0)
        assert set(out) == {"correct", "attempted", "failed", "metrics"}
        assert list(out["metrics"]) == list(spec)
        assert all(m["unit"] == spec[k] for k, m in out["metrics"].items())


def test_unit_rates_are_medians_over_units_of_the_ops_that_count():
    from workloads import Op

    def unit(scale):
        # a transfer (4 records, 2 MB in 1 s) and a move (1 record, no bytes, 1 s)
        return [Op("upload_files", 1.0 * scale, 4, 2_000_000),
                Op("move_files", 1.0 * scale, 1, 0)]

    rates = run.unit_rates([unit(1.0), unit(1.0), unit(4.0)])  # one slow unit
    assert rates == {"ops_per_min": 60.0, "records_per_s": 2.5, "mb_per_s": 2.0}


def test_object_tree_lands_the_same_count_and_bytes_per_group_for_any_seed(tmp_path):
    landed = set()
    for seed in (1, 2, 3):
        tree = gen.object_tree(str(tmp_path / str(seed)), seed, n_groups=2)
        for objs in tree.values():
            names = {os.path.basename(rel) for rel in objs}
            bigs = sum(len(v) for k, v in objs.items() if "/big" in k)
            landed.add((len(objs), len(names), bigs))
    assert landed == {(128, 128 - 125 // 8, 20 << 20)}


def test_tail_percentile_leaves_ten_samples_beyond():
    assert tail_percentile(40) == 76
    assert tail_percentile(100) == 90
    assert tail_percentile(10_000) == 99
    for n in (40, 41, 84, 100, 126, 250, 1000):
        values = list(range(n))
        value, p, count = tail(values)
        assert count == n
        assert sum(v > value for v in values) >= 10, (n, p, value)
        assert sum(v > percentile(values, p + 1) for v in values) < 10


def test_tail_is_the_maximum_below_forty_samples():
    for n in (1, 2, 6, 18, 39):
        values = [float(v) for v in range(n)]
        assert tail(values) == (n - 1, 100, n)


def test_tail_is_not_the_median_at_the_run_sizes():
    units = {w.name: round(10 / w.seconds_per_unit) for w in WORKLOADS.values()}
    assert units == {"query-mix": 1, "object-transfer": 4, "ingest-curate": 1}
    # operations a --seconds 10 run measures
    sizes = {
        "query-mix": units["query-mix"] * len(QUERY_OPS),
        "object-transfer": units["object-transfer"] * (5 + 2 * EXACT_PER_CYCLE),
        "ingest-curate": units["ingest-curate"] * JOBS_PER_SEQUENCE,
    }
    assert sizes == {"query-mix": 18, "object-transfer": 84, "ingest-curate": 6}
    for n in sizes.values():
        values = [0.5 + 0.1 * i for i in range(n)]
        value, p, _n = tail(values)
        assert p > 50 and value > median(values), n


def test_self_time_subtracts_children_once():
    spans = [
        Span(0, "bench.unit", 0.0, 10.0),
        Span(1, "operators.build", 1.0, 3.0, parent=0),
        Span(2, "operators.relational.exec", 2.0, 6.0, parent=0),  # overlaps 1
        Span(3, "sinks.inner", 4.0, 5.0, parent=2),
        Span(4, "fileops.upload_files", 8.0, 12.0, parent=0),  # runs past parent
    ]
    selfs = self_times(spans)
    assert selfs[0] == 10.0 - (6.0 - 1.0) - (10.0 - 8.0)
    assert selfs[1] == 2.0
    assert selfs[2] == 3.0
    assert selfs[3] == 1.0
    assert selfs[4] == 4.0
    layers = layer_self_times(spans)
    assert layers == {"bench": 3.0, "operators": 5.0, "sinks": 1.0, "fileops": 4.0}


def test_tracer_records_parents_and_nothing_when_off():
    on = Tracer(True, "r1")
    with on.span("bench.unit"):
        with on.span("operators.build") as sp:
            sp.count(jobs=2)
    assert [s.name for s in on.spans] == ["bench.unit", "operators.build"]
    assert on.spans[1].parent == 0 and on.spans[0].parent is None
    assert on.spans[1].counts == {"jobs": 2} and on.spans[1].run_id == "r1"
    off = Tracer(False, "r2")
    with off.span("bench.unit") as sp:
        sp.count(jobs=1)
    assert off.spans == []
