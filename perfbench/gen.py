"""Seeded input generator for the benchmark.

Two kinds of input:

- **Base tables** (``write_base_tables``): the ten catalog tables in the
  fixture schema (TPC-H-ish star, ``events``, ``documents``,
  ``embeddings``), generated from a FIXED seed so the row counts pinned in
  ``pinned_rows.json`` hold.  They depend only on ``scale`` and are cached
  between runs.
- **Per-run inputs** (everything else), derived from the run's ``--seed``:
  the ``query-mix`` pass orders, the ``object-transfer`` object tree, the
  ``ingest-curate`` event part files (the base ``events`` rows cut at
  seeded boundaries) and its upsert batch.

Every writer is deterministic: the same arguments give byte-identical
files (pyarrow writes no timestamps or host data into parquet footers).
"""

from __future__ import annotations

import os
import shutil

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

BASE_SEED = 42
VOCAB = (
    "a the join hash row batch scan column customer filter small slow merge "
    "order vector line table data agg value key stream window spark part "
    "group big sort query fast"
).split()
LANGS = ("en", "zh", "es", "de", "fr")
LANG_P = (0.44, 0.14, 0.14, 0.14, 0.14)
EMBED_DIM = 64

_EPOCH_1995 = np.datetime64("1995-01-01", "us")
_EPOCH_2024 = np.datetime64("2024-01-01", "us")


def _round2(x: np.ndarray) -> np.ndarray:
    return np.round(x, 2)


def _write(table: pa.Table, path: str) -> None:
    pq.write_table(table, path, compression="snappy")


def _tables(scale: float) -> dict[str, pa.Table]:
    rng = np.random.default_rng(BASE_SEED)
    n_supp = max(10, int(10_000 * scale))
    n_cust = max(150, int(150_000 * scale))
    n_part = max(200, int(200_000 * scale))
    n_ord = max(1_500, int(1_500_000 * scale))
    n_line = max(6_000, int(6_000_000 * scale))
    n_ev = max(1_000, int(1_000_000 * scale))
    n_users = max(150, int(15_000 * scale))
    n_docs = max(500, int(50_000 * scale))
    n_vec = max(500, int(20_000 * scale))

    t: dict[str, pa.Table] = {}
    t["region"] = pa.table({
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"],
    })
    t["nation"] = pa.table({
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
    })
    t["supplier"] = pa.table({
        "s_suppkey": np.arange(n_supp, dtype=np.int64),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": rng.integers(0, 25, n_supp).astype(np.int32),
        "s_acctbal": _round2(rng.uniform(-999.99, 9999.99, n_supp)),
    })
    segments = np.array(
        ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"])
    t["customer"] = pa.table({
        "c_custkey": np.arange(n_cust, dtype=np.int64),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": rng.integers(0, 25, n_cust).astype(np.int32),
        "c_acctbal": _round2(rng.uniform(-999.99, 9999.99, n_cust)),
        "c_mktsegment": segments[rng.integers(0, 5, n_cust)],
    })
    adjs = np.array(["small", "red", "blue", "hot", "cold", "new", "old", "large"])
    nouns = np.array(["ring", "widget", "bolt", "gear", "gizmo", "plate", "rod", "anvil"])
    types = np.array(["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"])
    t["part"] = pa.table({
        "p_partkey": np.arange(n_part, dtype=np.int64),
        "p_name": np.char.add(
            np.char.add(adjs[rng.integers(0, 8, n_part)], " "),
            nouns[rng.integers(0, 8, n_part)],
        ),
        "p_brand": np.char.add("Brand#", rng.integers(1, 26, n_part).astype(str)),
        "p_type": types[rng.integers(0, 6, n_part)],
        "p_size": rng.integers(1, 51, n_part).astype(np.int32),
        "p_retailprice": np.round(900.0 + (np.arange(n_part) % 1000) / 10.0, 1),
    })
    priorities = np.array(
        ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"])
    t["orders"] = pa.table({
        "o_orderkey": np.arange(n_ord, dtype=np.int64),
        "o_custkey": rng.integers(0, n_cust, n_ord).astype(np.int64),
        "o_orderstatus": np.array(["F", "O", "P"])[rng.integers(0, 3, n_ord)],
        "o_totalprice": _round2(rng.uniform(1000.0, 500000.0, n_ord)),
        "o_orderdate": pa.array(
            _EPOCH_1995 + rng.integers(0, 2405, n_ord).astype("timedelta64[D]"),
            pa.timestamp("us"),
        ),
        "o_orderpriority": priorities[rng.integers(0, 5, n_ord)],
    })
    t["lineitem"] = pa.table({
        "l_orderkey": rng.integers(0, n_ord, n_line).astype(np.int64),
        "l_partkey": rng.integers(0, n_part, n_line).astype(np.int64),
        "l_suppkey": rng.integers(0, n_supp, n_line).astype(np.int64),
        "l_linenumber": rng.integers(1, 8, n_line).astype(np.int32),
        "l_quantity": rng.integers(1, 51, n_line).astype(np.float64),
        "l_extendedprice": _round2(rng.uniform(900.0, 105000.0, n_line)),
        "l_discount": rng.integers(0, 11, n_line) / 100.0,
        "l_tax": rng.integers(0, 9, n_line) / 100.0,
        "l_returnflag": np.array(["A", "N", "R"])[rng.integers(0, 3, n_line)],
        "l_linestatus": np.array(["F", "O"])[rng.integers(0, 2, n_line)],
        "l_shipdate": pa.array(
            _EPOCH_1995 + rng.integers(1, 2500, n_line).astype("timedelta64[D]"),
            pa.timestamp("us"),
        ),
    })
    # events: one month of arrivals, exponential gaps, ts strictly ordered
    span_us = 30 * 86_400 * 1_000_000
    gaps = rng.exponential(span_us / n_ev, n_ev)
    ts = np.minimum(np.cumsum(gaps), span_us - 1).astype(np.int64)
    t["events"] = pa.table({
        "event_id": np.arange(n_ev, dtype=np.int64),
        "ts": pa.array(_EPOCH_2024 + ts.astype("timedelta64[us]"), pa.timestamp("us")),
        "user_id": rng.integers(0, n_users, n_ev).astype(np.int64),
        "event_type": np.array(
            ["click", "error", "purchase", "signup", "view"])[rng.integers(0, 5, n_ev)],
        "value": np.maximum(0.01, _round2(rng.exponential(50.0, n_ev))),
        "props": np.char.add(
            np.char.add('{"k": ', rng.integers(0, 100, n_ev).astype(str)), "}"),
    })
    vocab = np.array(VOCAB)
    texts: list[str] = []
    lengths = rng.integers(10, 100, n_docs)
    for i in range(n_docs):
        if i % 20 == 19:
            # planted near-duplicate of an earlier document
            texts.append(texts[int(rng.integers(0, i))] + " dup")
        else:
            texts.append(" ".join(vocab[rng.integers(0, len(vocab), lengths[i])]))
    t["documents"] = pa.table({
        "doc_id": np.arange(n_docs, dtype=np.int64),
        "text": texts,
        "lang": np.array(LANGS)[rng.choice(5, n_docs, p=LANG_P)],
        "source": [f"src{i % 20}" for i in range(n_docs)],
        "n_chars": np.array([len(s) for s in texts], dtype=np.int64),
    })
    centers = rng.normal(size=(10, EMBED_DIM))
    centers /= np.linalg.norm(centers, axis=1, keepdims=True)
    labels = rng.integers(0, 10, n_vec)
    vecs = 0.15 * centers[labels] + rng.normal(scale=1.0 / np.sqrt(EMBED_DIM),
                                               size=(n_vec, EMBED_DIM))
    vecs = (vecs / np.linalg.norm(vecs, axis=1, keepdims=True)).astype(np.float32)
    t["embeddings"] = pa.table({
        "vec_id": np.arange(n_vec, dtype=np.int64),
        "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
        "label": labels.astype(np.int32),
    })
    return t


def write_base_tables(out_dir: str, scale: float) -> str:
    """Write the ten base tables into ``out_dir`` unless already complete.

    The directory is filled under a temporary name and renamed into place,
    so a crashed run never leaves a half-written cache behind."""
    done = os.path.join(out_dir, "_COMPLETE")
    if os.path.exists(done):
        return out_dir
    tmp = out_dir + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    for name, table in _tables(scale).items():
        _write(table, os.path.join(tmp, f"{name}.parquet"))
    open(os.path.join(tmp, "_COMPLETE"), "w").close()
    shutil.rmtree(out_dir, ignore_errors=True)
    os.makedirs(os.path.dirname(out_dir) or ".", exist_ok=True)
    os.rename(tmp, out_dir)
    return out_dir


# ---------------------------------------------------------------------------
# per-run inputs
# ---------------------------------------------------------------------------

def pass_orders(names: list[str], seed: int, n_passes: int) -> list[list[str]]:
    """One seeded shuffle of ``names`` per ``query-mix`` pass."""
    rng = np.random.default_rng([seed, 1])
    return [[names[i] for i in rng.permutation(len(names))] for _ in range(n_passes)]


def object_tree(out_dir: str, seed: int, n_groups: int,
                per_group: int = 128) -> dict[str, dict]:
    """Write the ``object-transfer`` tree: ``g<G>/s<S>/t<T>/<name>``.

    Per group: ``per_group - 3`` small objects (lognormal sizes clamped to
    1-64 KiB), two large ones whose sizes sum to 20 MiB (each 4-16 MiB, so
    every group moves about the same bytes), and one ``marker`` object that
    exercises the single-match move rule.  One small name in eight (a fixed
    count, at seeded positions) reuses a basename from another sub-prefix
    of its group, so flattening uploads collide on purpose and every group
    lands the same number of objects.  Each group has its own random
    stream, so group ``g`` is the same whatever ``n_groups`` is.  Returns
    ``{group: {relpath: bytes}}``."""
    tree: dict[str, dict] = {}
    for g in range(n_groups):
        rng = np.random.default_rng([seed, 2, g])
        group = f"g{g}"
        objs: dict[str, bytes] = {}
        basenames: list[str] = []
        n_small = per_group - 3
        sizes = np.clip(rng.lognormal(np.log(8192), 0.9, n_small), 1024, 65536)
        dups = set(rng.choice(np.arange(1, n_small), n_small // 8, replace=False).tolist())
        for i in range(n_small):
            prefix = f"{group}/s{rng.integers(0, 4)}/t{rng.integers(0, 4)}"
            if i in dups:
                base = basenames[int(rng.integers(0, len(basenames)))]
            else:
                base = f"obj{i:04d}.bin"
                basenames.append(base)
            rel = f"{prefix}/{base}"
            while rel in objs:  # same basename drawn in the same prefix
                prefix = f"{group}/s{rng.integers(0, 4)}/t{rng.integers(0, 4)}"
                rel = f"{prefix}/{base}"
            objs[rel] = rng.bytes(int(sizes[i]))
        big_a = int(rng.integers(4 << 20, (16 << 20) + 1))
        for j, size in enumerate((big_a, (20 << 20) - big_a)):
            objs[f"{group}/s{j}/t0/big{j}.bin"] = rng.bytes(size)
        objs[f"{group}/s3/t3/marker.dat"] = rng.bytes(4096)
        for rel, data in objs.items():
            path = os.path.join(out_dir, rel)
            os.makedirs(os.path.dirname(path), exist_ok=True)
            with open(path, "wb") as handle:
                handle.write(data)
        tree[group] = objs
    return tree


def event_parts(base_dir: str, out_dir: str, seed: int, n_parts: int) -> list[int]:
    """Cut the base ``events`` rows (ts order) into ``n_parts`` files at
    seeded boundaries, ``p<NNN>/events.parquet``, so the catalog's file name
    and a ``p*`` glob select them; returns the row count of each part."""
    events = pq.read_table(os.path.join(base_dir, "events.parquet"))
    n = events.num_rows
    rng = np.random.default_rng([seed, 3])
    # interior cut points spread around the even split, never empty parts
    even = np.linspace(0, n, n_parts + 1)[1:-1]
    jitter = rng.uniform(-0.3, 0.3, n_parts - 1) * (n / n_parts)
    cuts = [0, *np.sort((even + jitter).astype(int)).tolist(), n]
    os.makedirs(out_dir, exist_ok=True)
    counts = []
    for i in range(n_parts):
        part = events.slice(cuts[i], cuts[i + 1] - cuts[i])
        part_dir = os.path.join(out_dir, f"p{i:03d}")
        os.makedirs(part_dir)
        _write(part, os.path.join(part_dir, "events.parquet"))
        counts.append(part.num_rows)
    return counts


def upsert_batch(base_dir: str, path: str, seed: int, n_updates: int,
                 n_inserts: int) -> tuple[int, int]:
    """Write the ``ingest-curate`` upsert batch: ``n_updates`` existing
    event ids with a changed ``value`` plus ``n_inserts`` new event ids.
    Returns ``(n_updates, n_inserts)``."""
    events = pq.read_table(os.path.join(base_dir, "events.parquet"))
    n = events.num_rows
    rng = np.random.default_rng([seed, 4])
    idx = np.sort(rng.choice(n, n_updates, replace=False))
    upd = events.take(pa.array(idx))
    new_value = pa.array(
        np.round(upd.column("value").to_numpy() + 1000.0, 2), pa.float64())
    upd = upd.set_column(upd.schema.get_field_index("value"), "value", new_value)
    ins = events.take(pa.array(rng.choice(n, n_inserts, replace=False)))
    ins = ins.set_column(
        ins.schema.get_field_index("event_id"), "event_id",
        pa.array(np.arange(n, n + n_inserts, dtype=np.int64)))
    _write(pa.concat_tables([upd, ins]), path)
    return n_updates, n_inserts


def corpus_dir(base_dir: str, out_dir: str, n_docs: int) -> int:
    """Write the ``ingest-curate`` corpus: the first ``n_docs`` documents
    and their embeddings (``doc_id == vec_id``).  Returns the doc count."""
    os.makedirs(out_dir, exist_ok=True)
    docs = pq.read_table(os.path.join(base_dir, "documents.parquet")).slice(0, n_docs)
    vecs = pq.read_table(os.path.join(base_dir, "embeddings.parquet")).slice(0, n_docs)
    _write(docs, os.path.join(out_dir, "documents.parquet"))
    _write(vecs, os.path.join(out_dir, "embeddings.parquet"))
    return docs.num_rows

