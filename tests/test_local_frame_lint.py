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

The same walker holds ``applyInPandasWithState`` to one call site, inside
``streaming.stateful.keyed_state``: a keyed-state twin is a row of that
module's spec table, not a new copy of the wiring.
"""

from __future__ import annotations

import ast
import glob
import os

PKG = os.path.join(
    os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
    "googlecloudstorage_blueprints_spark",
)

# call name -> the (file, enclosing def) sites allowed to make it; a
# ``None`` def allows the whole file
ALLOWED = {
    "createDataFrame": {(os.path.join("functions", "frames.py"), None)},
    "applyInPandasWithState": {
        (os.path.join("streaming", "stateful.py"), "keyed_state")
    },
}


def _sites(root: str, call: str) -> list[tuple[str, str | None, str]]:
    """(file, enclosing def, ``file:line: source``) for every real
    ``call(...)`` node under ``root``; text in docstrings and comments is
    not a call."""
    sites = []
    for path in sorted(
        glob.glob(os.path.join(root, "**", "*.py"), recursive=True)
    ):
        rel = os.path.relpath(path, root)
        with open(path) as fh:
            src = fh.read()
        lines = src.splitlines()
        found, stack = [], [(ast.parse(src), None)]
        while stack:
            node, fn = stack.pop()
            for child in ast.iter_child_nodes(node):
                if isinstance(child, ast.Call) and getattr(
                    child.func, "attr", getattr(child.func, "id", None)
                ) == call:
                    found.append((child.lineno, fn))
                is_def = isinstance(
                    child, (ast.FunctionDef, ast.AsyncFunctionDef)
                )
                stack.append((child, child.name if is_def else fn))
        sites += [
            (rel, fn, f"{rel}:{ln}: {lines[ln - 1].strip()}")
            for ln, fn in sorted(found, key=lambda site: site[0])
        ]
    return sites


def _offenders(root: str, call: str = "createDataFrame") -> list[str]:
    """``call(...)`` sites under ``root`` outside its allowed sites."""
    allowed = ALLOWED[call]
    return [
        text
        for rel, fn, text in _sites(root, call)
        if (rel, None) not in allowed and (rel, fn) not in allowed
    ]


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


def test_lint_allows_a_call_only_in_its_def(tmp_path):
    (tmp_path / "streaming").mkdir()
    (tmp_path / "streaming" / "stateful.py").write_text(
        "def keyed_state(g, k):\n"
        "    return g.applyInPandasWithState(k)\n"
        "def twin(g, k):\n"
        "    return g.applyInPandasWithState(k)\n"
    )
    assert _offenders(str(tmp_path), "applyInPandasWithState") == [
        "streaming/stateful.py:4: return g.applyInPandasWithState(k)"
    ]


def test_no_direct_createdataframe_outside_frames_helper():
    offenders = _offenders(PKG)
    assert not offenders, (
        "direct createDataFrame call(s) found — route driver-side row "
        "sets through functions.frames.local_rows_frame instead:\n"
        + "\n".join(offenders)
    )


def test_one_keyed_state_call_site():
    """Every keyed-state twin goes through ``streaming.stateful
    .keyed_state``: its ``applyInPandasWithState`` is the package's
    only one, so a twin is a row of ``STATEFUL_TWINS``, not new wiring."""
    offenders = _offenders(PKG, "applyInPandasWithState")
    assert not offenders, (
        "applyInPandasWithState outside streaming.stateful.keyed_state — "
        "add a STATEFUL_TWINS row instead:\n" + "\n".join(offenders)
    )
    assert len(_sites(PKG, "applyInPandasWithState")) == 1
