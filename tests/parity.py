"""Spark-vs-DuckDB parity harness: one builder table for the hostile
catalogs, one canonicalisation, one DuckDB view set and one compare.

Every cross-engine check in the repo goes through here — the oracle
parity tests (a local replica of the driver's correctness gate), the
catalog pin tests, the planted-input parity tests,
``scripts/catalog_audit.py`` and ``scripts/driver_emulation.py``.

- ``CATALOGS`` maps a catalog name to a builder that rewrites the
  sf0.001 fixture into ``out`` as one hostile vintage (zero rows, one
  row, NULL-riddled cells, three physical-type drifts, hostile unicode
  documents).  ``build_catalog(name, out, **params)`` runs one.
- ``canon_value`` / ``canon_rows``: the driver's order-insensitive cell
  canonicalisation (repr round-trips float64 exactly).
- ``duck_con(sf_dir, utc=False)``: one view per catalog table present in
  the directory.
- ``compare(spark, sf_dir, query, oracle)`` returns a ``Verdict`` whose
  tag is one of ``MATCH``, ``MISMATCH``, ``SPARK_ERROR``, ``DUCK_ERROR``,
  ``ROWS_ONLY_OK``, ``ROWS_ONLY_ERROR``.
"""

from __future__ import annotations

import math
import os
from dataclasses import dataclass, field

import duckdb
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq

from googlecloudstorage_blueprints_spark.sources.catalog import TABLES

SRC_SF = "/root/testdata/sf0.001"

INT32_MIN, INT32_MAX = -(2**31), 2**31 - 1

# Physical-type drifts the fixture regen can plausibly make (the builders
# of the same names below); DuckDB reads them with its session timezone
# pinned to UTC so strftime/epoch on tz-aware columns is host-independent.
DRIFTS = ("narrow", "nanos", "tzaware")
_TIMESTAMP_DRIFT = {
    "nanos": pa.timestamp("ns"),
    "tzaware": pa.timestamp("us", tz="UTC"),
}

HOSTILE_TEXTS = [
    # every invisible/ambiguous char is an explicit escape so the list
    # survives editors, linters, and copy-paste intact
    "the quick brown fox jumps over the lazy dog",  # ASCII control doc
    # emoji tokens (4-byte UTF-8)
    "\U0001f600\U0001f600 \U0001f389\U0001f389\U0001f389 \U0001f600",
    # ZWJ family sequence (grapheme != code point != byte)
    "\U0001f469\u200d\U0001f469\u200d\U0001f467\u200d\U0001f466"
    " family "
    "\U0001f469\u200d\U0001f469\u200d\U0001f467\u200d\U0001f466",
    "\u8fd9\u662f\u4e00\u4e2a\u6d4b\u8bd5\u6587\u6863" * 3,  # CJK
    "\u4e2d\u6587 english \u6df7\u5408 text \u4e2d\u6587",
    # Arabic RTL
    "\u0647\u0630\u0627 \u0646\u0635 \u0639\u0631\u0628\u064a"
    " \u0644\u0644\u0627\u062e\u062a\u0628\u0627\u0631",
    # Hebrew + explicit right-to-left mark (U+200F) between tokens
    "\u05e9\u05dc\u05d5\u05dd \u200f \u05e2\u05d5\u05dc\u05dd"
    " \u05e9\u05dc\u05d5\u05dd",
    # NFD combining accents (e + U+0301) ...
    "cafe\u0301 re\u0301sume\u0301 cafe\u0301",
    # ... vs NFC precomposed (U+00E9) — equal-looking, different bytes
    "caf\u00e9 r\u00e9sum\u00e9 caf\u00e9",
    "line1\nline2\ttabbed\r\nline3",
    "null\x00byte token",
    "a" * 10_000,  # one 10k-char token
    "\U0001d54a\U0001d561\U0001d552\U0001d563\U0001d55c"
    " \U0001d54b\U0001d556\U0001d564\U0001d565",  # astral math letters
    "\u0130stanbul \u0131sparta I\u015eIK \u0131\u0131\u0131",  # Turkish
    "STRASSE stra\u00dfe Stra\u00dfe",  # sharp-s casing
    "word\u200bword\u200bword",  # zero-width space between tokens
    "word\u00a0word word",  # NBSP vs space
    "\u03b1\u03bb\u03c6\u03b1 \u03b2\u03b7\u03c4\u03b1"
    " \u03b3\u03b1\u03bc\u03bc\u03b1 \u03b1\u03bb\u03c6\u03b1",
    "\u0440\u0430y\u0440\u0430l versus paypal",  # Cyrillic lookalikes
    "\u201ccurly\u201d \u2018quotes\u2019 \u2014 em\u2014dash"
    " \u2026 ellipsis",
    "\u0663\u0661\u0664 314 \u0969\u0967\u096a",  # Arabic/Devanagari digits
    "a\u2028b\u2029c",  # line/paragraph separators
    "   ",  # whitespace-only
    "\U0001f0a1\U0001f0a2\U0001f0a3 \U0001f0a1",  # playing-card astral run
]


# ---------------------------------------------------------------------------
# catalog builders: name -> fn(src, out, **params), one parquet per table
# ---------------------------------------------------------------------------


def _write_tables(src: str, out, rewrite) -> None:
    for t in TABLES:
        pq.write_table(rewrite(t, f"{src}/{t}.parquet"), f"{out}/{t}.parquet")


def _with_fields(arrays, fields) -> pa.Table:
    return pa.table(
        dict(zip([f.name for f in fields], arrays)), schema=pa.schema(fields)
    )


def _empty(src, out):
    """Every table present with its real schema and zero rows — the most
    common botched copy (a move that wrote the directory but no rows)."""
    _write_tables(src, out, lambda t, p: pq.read_schema(p).empty_table())


def _single(src, out):
    """One row per table (the fixture's head row) — the degenerate-
    statistics input: n-1 = 0, every lag/lead NULL, one group everywhere.
    FK integrity across tables is NOT preserved."""
    _write_tables(src, out, lambda t, p: pq.read_table(p).slice(0, 1))


def _null(src, out, rows=None):
    """~1/3 of the CELLS of every column NULLed, keys included: cell (row
    i, column ordinal j) is NULL when ``(i*31 + j*17) % 3 == 0`` — a
    deterministic stagger that varies which columns go NULL together.
    ``rows`` keeps only each table's first rows."""

    def rewrite(t, p):
        tbl = pq.read_table(p).slice(0, rows)
        arrays, fields = [], []
        for j, f in enumerate(tbl.schema):
            vals = [
                None if (i * 31 + j * 17) % 3 == 0 else v
                for i, v in enumerate(tbl.column(j).to_pylist())
            ]
            arrays.append(pa.array(vals, f.type))
            fields.append(pa.field(f.name, f.type, nullable=True))
        return _with_fields(arrays, fields)

    _write_tables(src, out, rewrite)


def _drift_type(mode: str, t: pa.DataType, col: pa.ChunkedArray):
    if mode == "narrow":
        if pa.types.is_int64(t):
            mn, mx = pc.min(col).as_py(), pc.max(col).as_py()
            if mn is not None and INT32_MIN <= mn and mx <= INT32_MAX:
                return pa.int32()
        if pa.types.is_string(t):
            return pa.large_string()
    elif pa.types.is_timestamp(t) and t.unit == "us" and t.tz is None:
        return _TIMESTAMP_DRIFT[mode]
    return None


def _drift(mode):
    """``narrow``: every int64 column whose values fit becomes int32 and
    every string becomes large_string (the "generator switched dtypes"
    regen).  ``nanos``: every timestamp[us] becomes TIMESTAMP(NANOS), the
    original fixture vintage.  ``tzaware``: every timestamp[us] becomes
    timestamp[us, tz=UTC], the instant-semantics vintage."""

    def build(src, out):
        def rewrite(t, p):
            tbl = pq.read_table(p)
            arrays, fields = [], []
            for j, f in enumerate(tbl.schema):
                col = tbl.column(j)
                new_t = _drift_type(mode, f.type, col)
                if new_t is not None:
                    col = col.cast(new_t)
                    f = pa.field(f.name, new_t, nullable=True)
                arrays.append(col)
                fields.append(f)
            return _with_fields(arrays, fields)

        _write_tables(src, out, rewrite)

    return build


def _unicode(src, out, docs=None):
    """Documents rebuilt from ``docs`` — (text, lang, source) rows; by
    default the 24 ``HOSTILE_TEXTS`` with the fixture's langs and sources
    cycled.  The schema and the n_chars = code points contract are kept;
    every other table is the fixture unchanged (the control group)."""
    path = f"{src}/documents.parquet"
    if docs is None:
        base = pq.read_table(path)
        langs = base.column("lang").to_pylist()
        sources = base.column("source").to_pylist()
        docs = [
            (text, langs[i % len(langs)], sources[i % len(sources)])
            for i, text in enumerate(HOSTILE_TEXTS)
        ]
    texts = [d[0] for d in docs]
    documents = pa.table(
        {
            "doc_id": pa.array(range(len(docs)), pa.int64()),
            "text": pa.array(texts, pa.string()),
            "lang": pa.array([d[1] for d in docs], pa.string()),
            "source": pa.array([d[2] for d in docs], pa.string()),
            "n_chars": pa.array([len(x) for x in texts], pa.int64()),
        },
        schema=pq.read_schema(path),
    )
    _write_tables(
        src,
        out,
        lambda t, p: documents if t == "documents" else pq.read_table(p),
    )


CATALOGS = {
    "empty": _empty,
    "single": _single,
    "null": _null,
    **{mode: _drift(mode) for mode in DRIFTS},
    "unicode": _unicode,
}


def build_catalog(name: str, out, src: str = SRC_SF, **params) -> str:
    """Write catalog ``name`` into the existing directory ``out``."""
    CATALOGS[name](src, out, **params)
    return str(out)


# ---------------------------------------------------------------------------
# canonicalisation, DuckDB views, compare
# ---------------------------------------------------------------------------


def canon_value(v) -> str:
    if v is None:
        return "NULL"
    if isinstance(v, float):
        if math.isnan(v):
            return "NaN"
        # canonical float text — repr round-trips float64 exactly
        return repr(v)
    if isinstance(v, bool):
        return "true" if v else "false"
    return str(v)


def canon_rows(cols, rows) -> list[tuple]:
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    return sorted(tuple(canon_value(row[i]) for i in order) for row in rows)


def duck_con(sf_dir: str, utc: bool = False) -> duckdb.DuckDBPyConnection:
    """A DuckDB connection with one view per catalog table in ``sf_dir``
    (planted directories may hold only the tables they rewrite)."""
    con = duckdb.connect()
    if utc:
        con.execute("SET TimeZone='UTC'")
    for t in TABLES:
        path = f"{sf_dir}/{t}.parquet"
        if os.path.exists(path):
            con.execute(
                f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{path}')"
            )
    return con


OK_TAGS = ("MATCH", "ROWS_ONLY_OK")


@dataclass
class Verdict:
    tag: str
    detail: str
    columns: list = field(default_factory=list)  # Spark's output columns
    rows: list = field(default_factory=list)  # Spark's collected rows
    error: Exception | None = None

    def line(self, label: str) -> str:
        return f"{self.tag} {label}: {self.detail}"


def _error_text(e: Exception) -> str:
    msg = str(e).splitlines()[0][:160] if str(e) else repr(e)[:160]
    return f"{type(e).__name__}: {msg}"


def compare(spark, sf_dir: str, query, oracle: str | None = None,
            con=None) -> Verdict:
    """Run ``query`` on Spark and, when an oracle exists, ``oracle`` on
    DuckDB (``con``, else a fresh ``duck_con(sf_dir)``), and compare
    sorted column names plus order-insensitive canonical rows."""
    try:
        sdf = query(spark, sf_dir)
        scols = sdf.columns
        srows = [tuple(r) for r in sdf.collect()]
    except Exception as e:
        tag = "SPARK_ERROR" if oracle is not None else "ROWS_ONLY_ERROR"
        return Verdict(tag, _error_text(e), error=e)
    if oracle is None:
        return Verdict("ROWS_ONLY_OK", f"rows={len(srows)}", scols, srows)
    own = con is None
    con = duck_con(sf_dir) if own else con
    try:
        res = con.execute(oracle)
        dcols = [d[0] for d in res.description]
        drows = res.fetchall()
    except Exception as e:
        return Verdict("DUCK_ERROR", _error_text(e), scols, srows, e)
    finally:
        if own:
            con.close()
    if sorted(scols) != sorted(dcols):
        return Verdict(
            "MISMATCH",
            f"columns {sorted(scols)} vs {sorted(dcols)}",
            scols,
            srows,
        )
    s, d = canon_rows(scols, srows), canon_rows(dcols, drows)
    if s != d:
        a, b = next(
            (a, b)
            for a, b in zip(s + [None] * len(d), d + [None] * len(s))
            if a != b
        )
        return Verdict(
            "MISMATCH",
            f"rows {len(s)} vs {len(d)}; first diff "
            f"spark={str(a)[:120]} duck={str(b)[:120]}",
            scols,
            srows,
        )
    return Verdict("MATCH", f"rows={len(s)}", scols, srows)


def assert_parity(v: Verdict, label: str) -> None:
    """Fail a test unless ``v`` is MATCH, or ROWS_ONLY_OK with a non-empty
    schema; an engine exception is re-raised with its own traceback."""
    if v.error is not None:
        raise v.error
    assert v.tag in OK_TAGS and v.columns, v.line(label)
