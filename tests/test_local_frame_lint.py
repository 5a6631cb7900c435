"""Standing lint: driver-side literal/result frames must be built via
``local_rows_frame`` (r18 verdict item 8, made permanent in r19).

``spark.createDataFrame(python_rows)`` parallelizes the rows into a
PYTHON RDD (plan: ``Scan ExistingRDD``): every materialization pays one
Python-worker handshake per partition, which serializes under
``coalesce(1)`` — the r18 sweep measured 6.66 → 0.94 s on
user_event_pareto from this alone.  ``local_rows_frame`` routes the same
rows through pandas+Arrow into a JVM ``LocalRelation``
(``LocalTableScan``: zero tasks, zero Python at evaluation), values
bit-identical.

A plan-level lint cannot close the class: legitimate JVM scans
(``localCheckpoint`` loop frames) also print ``Scan ExistingRDD``.  So
this audit is a SOURCE lint — the only ``createDataFrame`` call sites
allowed in the package are inside ``functions/frames.py`` (the helper's
own pandas path and its values-identical fallback).  Everything else,
including zero-row early returns (kept uniform so a future copy-paste of
one can't reintroduce the slow path on a hot site), goes through the
helper.
"""

from __future__ import annotations

import ast
import glob
import os

PKG = os.path.join(
    os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
    "googlecloudstorage_blueprints_spark",
)

ALLOWED = {os.path.join("functions", "frames.py")}


def _offenders(root: str) -> list[str]:
    """Real ``createDataFrame(...)`` call nodes under ``root`` outside the
    allowed helper; text in docstrings and comments is not a call."""
    offenders = []
    for path in sorted(
        glob.glob(os.path.join(root, "**", "*.py"), recursive=True)
    ):
        rel = os.path.relpath(path, root)
        if rel in ALLOWED:
            continue
        with open(path) as fh:
            src = fh.read()
        lines = src.splitlines()
        offenders += [
            f"{rel}:{node.lineno}: {lines[node.lineno - 1].strip()}"
            for node in ast.walk(ast.parse(src))
            if isinstance(node, ast.Call)
            and getattr(node.func, "attr", getattr(node.func, "id", None))
            == "createDataFrame"
        ]
    return offenders


def test_lint_flags_calls_not_mentions(tmp_path):
    mod = tmp_path / "mod.py"
    mod.write_text(
        '"""Never call ``spark.createDataFrame(rows)`` directly."""\n'
        "# spark.createDataFrame(rows)\n"
    )
    assert _offenders(str(tmp_path)) == []
    mod.write_text(
        "def f(spark, rows):\n"
        "    return spark.createDataFrame(\n"
        "        rows)\n"
    )
    assert _offenders(str(tmp_path)) == [
        "mod.py:2: return spark.createDataFrame("
    ]


def test_no_direct_createdataframe_outside_frames_helper():
    offenders = _offenders(PKG)
    assert not offenders, (
        "direct createDataFrame call(s) found — route driver-side row "
        "sets through functions.frames.local_rows_frame instead:\n"
        + "\n".join(offenders)
    )
