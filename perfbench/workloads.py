"""The three benchmark workloads.

Each is a closed loop with one client: the next operation starts when the
previous one returns.  A workload provides

- ``prepare``: write its seeded inputs (untimed);
- ``cold``: one untimed cold unit of its own operations, run during set-up;
  it returns the output checks made on it;
- ``unit(index)``: one measured unit (a ``query-mix`` pass, an
  ``object-transfer`` cycle, an ``ingest-curate`` job sequence), returning
  one :class:`Op` per operation;
- ``layer_metrics``: the per-layer figures of a traced run.

The benchmark times the calls it makes into the engine's public functions;
nothing inside the engine is instrumented.
"""

from __future__ import annotations

import hashlib
import os
import shutil
import time
from dataclasses import dataclass, field

import numpy as np
import pyarrow.parquet as pq

import gen
from checks import compare_rows, duck_connection
from spans import median

from googlecloudstorage_blueprints_spark import operators as ops_registry
from googlecloudstorage_blueprints_spark.fileops import (
    FsClient,
    download_files,
    move_files,
    remove_files,
    upload_files,
)
from googlecloudstorage_blueprints_spark.pipelines.curate import curate_corpus
from googlecloudstorage_blueprints_spark.sinks import (
    compact_parquet,
    table_diff,
    upsert_parquet,
)
from googlecloudstorage_blueprints_spark.sources.catalog import TABLES, load_table
from googlecloudstorage_blueprints_spark.streaming import (
    read_events_stream,
    run_stream_to_memory,
    streaming_session_window,
)
from googlecloudstorage_blueprints_spark.streaming.events_stream import (
    run_stream_to_partitioned_parquet,
)


@dataclass
class Op:
    """One measured operation."""

    name: str
    seconds: float
    records: int = 0     # input records the operation consumed
    in_bytes: int = 0    # input bytes the operation consumed
    ok: bool = True
    extra: dict = field(default_factory=dict)


@dataclass
class Check:
    name: str
    ok: bool
    detail: str = ""


def _dir_stats(path: str) -> tuple[int, int]:
    """``(data files, bytes)`` under ``path``, ignoring checksum and
    marker files."""
    files = size = 0
    for root, _dirs, names in os.walk(path):
        for name in names:
            if name.startswith((".", "_")):
                continue
            files += 1
            size += os.path.getsize(os.path.join(root, name))
    return files, size


def _md5(data: bytes) -> str:
    return hashlib.md5(data).hexdigest()


def _file_md5(path: str) -> str:
    with open(path, "rb") as handle:
        return _md5(handle.read())


class Workload:
    name = ""
    # seconds of ``--seconds`` given to one measured unit
    seconds_per_unit = 1.0

    def __init__(self, ctx):
        self.ctx = ctx

    @property
    def spark(self):
        return self.ctx.spark

    @property
    def tr(self):
        return self.ctx.tracer

    def start_tracing(self) -> None:
        """Hook for tracing-only instruments, registered before measuring."""


# ---------------------------------------------------------------------------
# query-mix
# ---------------------------------------------------------------------------

FAMILIES = {
    "relational": ["pricing_summary", "scan_project_filter", "join_shuffle",
                   "multiway_join_agg", "sql_tpch_q5", "agg_distinct",
                   "window_ranking"],
    "events": ["events_sessionize", "events_tumbling_agg", "events_funnel"],
    "semistructured": ["json_extract"],
    "text": ["text_stats", "ngram_topk", "bm25_topk"],
    "dedup": ["exact_dedup", "minhash_lsh_dedup"],
    "similarity": ["similarity_knn_pandas", "similarity_knn_pq"],
}
QUERY_OPS = [op for names in FAMILIES.values() for op in names]
FAMILY_OF = {op: fam for fam, names in FAMILIES.items() for op in names}


class QueryMix(Workload):
    """Seeded-order passes over a family-balanced set of registry
    operators, each written to the ``noop`` sink."""

    name = "query-mix"
    seconds_per_unit = 8.5  # about one pass

    def prepare(self) -> None:
        self.data = self.ctx.base_dir
        queries = ops_registry.all_queries()
        self.fns = {op: queries[op] for op in QUERY_OPS}
        self.oracles = {op: ops_registry.REGISTRY[op].oracle for op in QUERY_OPS}
        self.orders = gen.pass_orders(QUERY_OPS, self.ctx.seed, 64)
        self.table_size = {}
        for t in TABLES:
            path = os.path.join(self.data, f"{t}.parquet")
            self.table_size[t] = (pq.ParquetFile(path).metadata.num_rows,
                                  os.path.getsize(path))
        self.inputs: dict[str, tuple[int, int]] = {}

    def _input_of(self, df) -> tuple[int, int]:
        rows = size = 0
        for uri in set(df.inputFiles()):
            name = os.path.basename(uri).removesuffix(".parquet")
            r, b = self.table_size.get(name, (0, 0))
            rows, size = rows + r, size + b
        return rows, size

    def cold(self) -> list[Check]:
        """Fill the catalog plan cache, then run every operator once,
        collect its rows and compare them."""
        for t in TABLES:
            with self.tr.span("sources.load_table"):
                load_table(self.spark, self.data, t)
        results = {}
        for op in self.orders[0]:
            with self.tr.span("operators.build"):
                df = self.fns[op](self.spark, self.data)
            with self.tr.span("operators.collect"):
                rows = df.collect()
            with self.ctx.checking():
                results[op] = (df.columns, rows)
                self.inputs[op] = self._input_of(df)
        with self.ctx.checking():
            return self._check(results)

    def _check(self, results) -> list[Check]:
        pins = self.ctx.pins["query-mix"]
        con = duck_connection(self.data, TABLES)
        out = []
        try:
            for op in QUERY_OPS:
                cols, rows = results[op]
                if self.oracles[op] is not None:
                    res = con.execute(self.oracles[op])
                    dcols = [d[0] for d in res.description]
                    ok, detail = compare_rows(cols, rows, dcols, res.fetchall())
                else:
                    want = pins.get(op)
                    ok = want == len(rows)
                    detail = f"rows {len(rows)} vs pinned {want}"
                out.append(Check(op, ok, detail))
        finally:
            con.close()
        return out

    def unit(self, index: int) -> list[Op]:
        sc = self.spark.sparkContext
        ops = []
        for op in self.orders[index % len(self.orders)]:
            group = f"qm-{index}-{op}"
            if self.tr.enabled:
                with self.tr.overhead():
                    sc.setJobGroup(group, op)
            t0 = t1 = time.perf_counter()
            ok = True
            exec_span = None
            try:
                with self.tr.span("operators.build"):
                    df = self.fns[op](self.spark, self.data)
                t1 = time.perf_counter()
                with self.tr.span(f"operators.{FAMILY_OF[op]}.exec") as exec_span:
                    df.write.format("noop").mode("overwrite").save()
            except Exception as exc:  # a failed op is counted, not fatal
                ok = False
                self.ctx.log(f"{op} failed: {exc!r}")
            t2 = time.perf_counter()
            rows, size = self.inputs.get(op, (0, 0))
            rec = Op(op, t2 - t0, rows, size, ok,
                     {"build": t1 - t0, "exec": t2 - t1})
            if self.tr.enabled:
                with self.tr.overhead():
                    counts = self._job_counts(group)
                rec.extra.update(counts)
                if exec_span is not None:
                    exec_span.count(**counts)
            ops.append(rec)
        return ops

    def _job_counts(self, group: str) -> dict:
        st = self.spark.sparkContext.statusTracker()
        jobs = stages = tasks = failed = 0
        for job in st.getJobIdsForGroup(group):
            info = st.getJobInfo(job)
            if info is None:
                continue
            jobs += 1
            for sid in info.stageIds:
                sinfo = st.getStageInfo(sid)
                if sinfo is None:
                    continue
                stages += 1
                tasks += sinfo.numTasks
                failed += sinfo.numFailedTasks
        return {"jobs": jobs, "stages": stages, "tasks": tasks,
                "failed_tasks": failed}

    def layer_metrics(self, ops: list[Op]) -> dict:
        n = max(1, len(ops))
        m = {
            "operators.build_s": median(o.extra["build"] for o in ops),
            "operators.exec_s": median(o.extra["exec"] for o in ops),
        }
        passes = max(1, round(len(ops) / len(QUERY_OPS)))
        for fam in FAMILIES:
            m[f"operators.{fam}.exec_s"] = sum(
                o.extra["exec"] for o in ops if FAMILY_OF[o.name] == fam
            ) / passes
        for key in ("jobs", "stages", "tasks"):
            m[f"operators.{key}"] = sum(o.extra.get(key, 0) for o in ops) / n
        m["operators.failed_tasks"] = sum(o.extra.get("failed_tasks", 0) for o in ops)
        return m


# ---------------------------------------------------------------------------
# object-transfer
# ---------------------------------------------------------------------------

UPLOAD_RE = r"\.(bin|dat)$"
EXACT_PER_CYCLE = 8


class ObjectTransfer(Workload):
    """The reference's byte-moving surface against a ``file:`` bucket."""

    name = "object-transfer"
    # a cycle takes about 3.3 s; four per 10 s, because this is the cheapest
    # workload to set up and its per-object figures follow host noise
    seconds_per_unit = 2.5

    def prepare(self) -> None:
        work = self.ctx.work
        self.local = os.path.join(work, "local")
        self.bucket = os.path.join(work, "bucket")
        self.dl = os.path.join(work, "download")
        os.makedirs(self.bucket, exist_ok=True)
        self.uri = "file:" + self.bucket
        # one group per cycle: the cold one and each measured one
        n_groups = self.ctx.n_units + 1
        self.tree = gen.object_tree(self.local, self.ctx.seed, n_groups)
        self.groups = [f"g{g}" for g in range(n_groups)]
        self.cycle_no = 0
        self.listing_s: list[float] = []

    def _rel(self, path: str) -> str:
        # upload/download resolve local folders against the working dir
        return os.path.relpath(path, os.getcwd())

    def _expected_landing(self, group: str) -> dict[str, bytes]:
        """Flattened upload: each object keeps its basename; colliding
        basenames overwrite in sorted local-path order (last one wins)."""
        objs = self.tree[group]
        return {os.path.basename(rel): objs[rel] for rel in sorted(objs)}

    def _cycle(self, checks: list[Check] | None) -> list[Op]:
        c = self.cycle_no
        self.cycle_no += 1
        group = self.groups[c % len(self.groups)]
        land, done = f"land/c{c}", f"done/c{c}"
        dl = os.path.join(self.dl, f"c{c}")
        objs = self.tree[group]
        landing = self._expected_landing(group)
        bins = sorted(n for n in landing if n.endswith(".bin"))
        rng = np.random.default_rng([self.ctx.seed, 5, c])
        ops: list[Op] = []
        spark = self.spark

        def call(verb: str, fn, *args, objects=0, nbytes=0, **kw):
            t0 = time.perf_counter()
            ok = True
            try:
                with self.tr.span(f"fileops.{verb}") as sp:
                    sp.count(objects=objects, bytes=nbytes)
                    fn(spark, *args, **kw)
            except Exception as exc:  # counted as a failed operation
                ok = False
                self.ctx.log(f"{verb} failed: {exc!r}")
            ops.append(Op(verb, time.perf_counter() - t0, objects, nbytes, ok,
                          {"exact": kw.get("source_file_name_match_type")
                           == "exact_match"}))

        # 1. upload every object of the group, flattened
        call("upload_files", upload_files, self.uri,
             source_folder_name=self._rel(os.path.join(self.local, group)),
             source_file_name=UPLOAD_RE,
             source_file_name_match_type="regex_match",
             destination_folder_name=land,
             objects=len(objs), nbytes=sum(map(len, objs.values())))
        # 2. download the .bin objects by regex
        call("download_files", download_files, self.uri,
             source_folder_name=land, source_file_name=r"\.bin$",
             source_file_name_match_type="regex_match",
             destination_folder_name=self._rel(dl),
             objects=len(bins), nbytes=sum(len(landing[n]) for n in bins))
        # 3. point lookups: exact-match downloads one small object at a
        #    time (never a large one, so every cycle moves the same bytes)
        smalls = [n for n in bins if not n.startswith("big")]
        picks = [smalls[i] for i in rng.choice(len(smalls), EXACT_PER_CYCLE, replace=False)]
        for name in picks:
            call("download_files", download_files, self.uri,
                 source_folder_name=land, source_file_name=name,
                 source_file_name_match_type="exact_match",
                 destination_folder_name=self._rel(os.path.join(dl, "exact")),
                 objects=1, nbytes=len(landing[name]))
        # 4. move the .bin objects to a second prefix under one
        #    enumerated name, then the lone marker (single-match rule:
        #    no suffix)
        call("move_files", move_files, self.uri, self.uri,
             source_folder_name=land, source_file_name=r"\.bin$",
             source_file_name_match_type="regex_match",
             destination_folder_name=done, destination_file_name="part.bin",
             objects=len(bins))
        call("move_files", move_files, self.uri, self.uri,
             source_folder_name=land, source_file_name=r"marker",
             source_file_name_match_type="regex_match",
             destination_folder_name=done, destination_file_name="marker.dat",
             objects=1)
        moved = {f"{done}/part_{i}.bin": landing[n] for i, n in enumerate(bins, 1)}
        moved[f"{done}/marker.dat"] = landing["marker.dat"]
        if checks is not None:
            with self.ctx.checking():
                self._check_cycle(checks, c, dl, landing, bins, picks, moved)
        # 5. exact-match removes, one object at a time
        doomed = sorted(moved)
        picks_rm = [doomed[i] for i in rng.choice(len(doomed), EXACT_PER_CYCLE,
                                                  replace=False)]
        for rel in picks_rm:
            call("remove_files", remove_files, self.uri,
                 source_folder_name=done,
                 source_file_name=os.path.basename(rel),
                 source_file_name_match_type="exact_match", objects=1)
        # 6. regex remove of the rest
        call("remove_files", remove_files, self.uri,
             source_folder_name=done, source_file_name=".",
             source_file_name_match_type="regex_match",
             objects=len(moved) - len(picks_rm))
        if checks is not None:
            with self.ctx.checking():
                left = self._listing("")
            checks.append(Check(f"c{c}.empty_after_remove", not left,
                                f"{len(left)} objects left"))
        shutil.rmtree(dl, ignore_errors=True)
        return ops

    def _listing(self, prefix: str) -> list[str]:
        t0 = time.perf_counter()
        with self.tr.span("fileops.list_names"):
            names = FsClient(self.spark, self.uri).list_names(prefix)
        self.listing_s.append(time.perf_counter() - t0)
        return names

    def _check_cycle(self, checks, c, dl, landing, bins, picks, moved) -> None:
        bad = [n for n in bins
               if not os.path.exists(os.path.join(dl, n))
               or _file_md5(os.path.join(dl, n)) != _md5(landing[n])]
        checks.append(Check(f"c{c}.download_regex", not bad, f"bad {bad[:3]}"))
        bad = [n for n in picks
               if _file_md5(os.path.join(dl, "exact", n)) != _md5(landing[n])]
        checks.append(Check(f"c{c}.download_exact", not bad, f"bad {bad[:3]}"))
        names = self._listing(f"done/c{c}")
        ok = names == sorted(moved)
        if ok:
            root = self.bucket
            ok = all(_file_md5(os.path.join(root, n)) == _md5(moved[n]) for n in names)
        checks.append(Check(f"c{c}.listing_after_move", ok,
                            f"{len(names)} names vs {len(moved)} expected"))

    def cold(self) -> list[Check]:
        checks: list[Check] = []
        self._cycle(checks)
        return checks

    def unit(self, index: int) -> list[Op]:
        return self._cycle(self.ctx.checks)

    def layer_metrics(self, ops: list[Op]) -> dict:
        m: dict = {"fileops.list_names_s": median(self.listing_s)}
        cycles = max(1, sum(1 for o in ops if o.name == "upload_files"))
        for verb in ("upload", "download", "move", "remove"):
            mine = [o for o in ops if o.name == f"{verb}_files"]
            busy = sum(o.seconds for o in mine)
            objects = sum(o.records for o in mine)
            m[f"fileops.{verb}_files_s"] = busy / cycles
            m[f"fileops.ms_per_object.{verb}"] = 1000 * busy / max(1, objects)
            if verb in ("upload", "download"):
                m[f"fileops.mb_per_s.{verb}"] = (
                    sum(o.in_bytes for o in mine) / 1e6 / busy if busy else 0.0)
        m["fileops.point_lookup_s"] = median(
            o.seconds for o in ops if o.extra.get("exact") and o.name == "download_files")
        return m


# ---------------------------------------------------------------------------
# ingest-curate
# ---------------------------------------------------------------------------

EVENT_PARTS = 2
CORPUS_DOCS = 150
N_UPDATES, N_INSERTS = 200, 50
JOBS_PER_SEQUENCE = 6


class _Progress:
    """Streaming progress collected by a ``StreamingQueryListener``."""

    def __init__(self):
        from pyspark.sql.streaming import StreamingQueryListener

        outer = self

        class Listener(StreamingQueryListener):
            def onQueryStarted(self, event):
                pass

            def onQueryProgress(self, event):
                p = event.progress
                outer.trigger_ms.append(p.durationMs.get("triggerExecution", 0))
                rows = sum(s.numRowsTotal for s in p.stateOperators)
                outer.state_rows = max(outer.state_rows, rows)

            def onQueryIdle(self, event):
                pass

            def onQueryTerminated(self, event):
                outer.terminated += 1

        self.listener = Listener()
        self.trigger_ms: list[float] = []
        self.state_rows = 0
        self.terminated = 0

    def wait_terminated(self, n: int, timeout: float = 10.0) -> None:
        end = time.perf_counter() + timeout
        while self.terminated < n and time.perf_counter() < end:
            time.sleep(0.005)


class IngestCurate(Workload):
    """A nightly job sequence on the write path."""

    name = "ingest-curate"
    seconds_per_unit = 10.0  # about one job sequence

    def prepare(self) -> None:
        work = os.path.join(self.ctx.work, "ingest")
        base = self.ctx.base_dir
        src = os.path.join(work, "src")
        self.n_events = sum(gen.event_parts(base, src, self.ctx.seed, EVENT_PARTS))
        self.src_glob = os.path.join(src, "p*")
        self.batch_dir = os.path.join(work, "batch")
        os.makedirs(self.batch_dir)
        gen.upsert_batch(base, os.path.join(self.batch_dir, "updates.parquet"),
                         self.ctx.seed, N_UPDATES, N_INSERTS)
        self.corpus = os.path.join(work, "corpus")
        gen.corpus_dir(base, self.corpus, CORPUS_DOCS)
        self.src_bytes = _dir_stats(src)[1]
        self.batch_bytes = _dir_stats(self.batch_dir)[1]
        self.corpus_bytes = _dir_stats(self.corpus)[1]
        self.out = os.path.join(work, "out")
        self.seq_no = 0
        self.expected_sessions = _batch_sessions(os.path.join(base, "events.parquet"))
        self.progress = None
        self.sink_files: list[tuple[int, int]] = []
        self.seq_batches: list[int] = []

    def start_tracing(self) -> None:
        self.progress = _Progress()
        self.spark.streams.addListener(self.progress.listener)

    def _sequence(self, checks: list[Check] | None) -> list[Op]:
        s = self.seq_no
        self.seq_no += 1
        seq = os.path.join(self.out, f"s{s}")
        landed = os.path.join(seq, "events_by_type")
        compacted = os.path.join(seq, "events_compacted")
        ops: list[Op] = []
        spark = self.spark
        results: dict = {}
        batches0 = len(self.progress.trigger_ms) if self.progress else 0
        files_out = bytes_out = 0

        def job(name: str, fn, records=0, nbytes=0):
            nonlocal files_out, bytes_out
            t0 = time.perf_counter()
            ok = True
            try:
                with self.tr.span(name) as sp:
                    results[name] = fn()
            except Exception as exc:  # counted as a failed operation
                ok = False
                self.ctx.log(f"{name} failed: {exc!r}")
            ops.append(Op(name, time.perf_counter() - t0, records, nbytes, ok))
            if name in ("sinks.compact_parquet", "sinks.upsert_parquet"):
                f, b = _dir_stats(compacted)
                sp.count(files_out=f, bytes_out=b)
                files_out, bytes_out = files_out + f, bytes_out + b

        def stream_append():
            df = read_events_stream(spark, self.src_glob, max_files_per_trigger=1)
            run_stream_to_partitioned_parquet(df, landed, ["event_type"])

        def stream_sessions():
            df = streaming_session_window(spark, self.src_glob)
            return run_stream_to_memory(df, f"sessions_s{s}").collect()

        def upsert():
            updates = load_table(spark, self.batch_dir, "updates")
            upsert_parquet(spark, compacted, updates, ["event_id"])

        def diff():
            changes = table_diff(spark, landed, compacted, ["event_id"])
            return {r[0]: r[1] for r in changes.groupBy("change_type").count().collect()}

        n_streams0 = self.progress.terminated if self.progress else 0
        # both streams read every event: records_per_s is the events read
        # per second of streaming-job time
        job("streaming.run_stream_to_partitioned_parquet", stream_append,
            self.n_events, self.src_bytes)
        job("streaming.run_stream_to_memory", stream_sessions, self.n_events)
        if self.progress:
            with self.tr.overhead():
                self.progress.wait_terminated(n_streams0 + 2)
        job("sinks.compact_parquet", lambda: compact_parquet(spark, landed, compacted))
        job("sinks.upsert_parquet", upsert, nbytes=self.batch_bytes)
        job("sinks.table_diff", diff)
        job("pipelines.curate_corpus",
            lambda: curate_corpus(spark, self.corpus, os.path.join(seq, "curated")),
            nbytes=self.corpus_bytes)
        self.sink_files.append((files_out, bytes_out))
        if self.progress:
            self.seq_batches.append(len(self.progress.trigger_ms) - batches0)
        if checks is not None:
            with self.ctx.checking():
                self._check(checks, s, results, landed, compacted)
        shutil.rmtree(seq, ignore_errors=True)
        spark.catalog.dropTempView(f"sessions_s{s}")
        return ops

    def _check(self, checks, s, results, landed, compacted) -> None:
        spark = self.spark
        n = spark.read.parquet(landed).count() if os.path.isdir(landed) else -1
        checks.append(Check(f"s{s}.stream_rows", n == self.n_events,
                            f"{n} vs {self.n_events}"))
        sessions = results.get("streaming.run_stream_to_memory") or []
        got = {(r["user_id"], r["start_us"], r["end_us"], r["n_events"]) for r in sessions}
        ok = bool(got) and got <= self.expected_sessions and (
            len(self.expected_sessions) - len(got)
            <= len({k[0] for k in self.expected_sessions}))
        checks.append(Check(f"s{s}.sessions", ok,
                            f"{len(got)} emitted of {len(self.expected_sessions)}"))
        n = spark.read.parquet(compacted).count() if os.path.isdir(compacted) else -1
        want = self.n_events + N_INSERTS
        checks.append(Check(f"s{s}.upsert_rows", n == want, f"{n} vs {want}"))
        d = results.get("sinks.table_diff") or {}
        ok = d == {"updated": N_UPDATES, "inserted": N_INSERTS}
        checks.append(Check(f"s{s}.diff", ok, f"{d}"))
        rep = results.get("pipelines.curate_corpus")
        if rep is None:
            checks.append(Check(f"s{s}.curate", False, "no report"))
            return
        got = {k: getattr(rep, k) for k in (
            "n_input", "n_quality", "n_deduped", "n_near_deduped",
            "n_sem_deduped", "n_clean")}
        want = self.ctx.pins["ingest-curate"]["curation_report"]
        ok = got == want and sum(rep.split_counts.values()) == rep.n_clean
        checks.append(Check(f"s{s}.curate", ok, f"{got} vs {want}"))

    def cold(self) -> list[Check]:
        # the measured sequence is checked; checking this one too would
        # only add Spark jobs to every run
        self._sequence(None)
        return []

    def unit(self, index: int) -> list[Op]:
        return self._sequence(self.ctx.checks)

    def layer_metrics(self, ops: list[Op]) -> dict:
        seqs = max(1, len(ops) // JOBS_PER_SEQUENCE)

        def per_seq(prefix: str) -> float:
            return sum(o.seconds for o in ops if o.name.startswith(prefix)) / seqs

        m = {
            "streaming.run_s": per_seq("streaming."),
            "sinks.compact_parquet_s": per_seq("sinks.compact_parquet"),
            "sinks.upsert_parquet_s": per_seq("sinks.upsert_parquet"),
            "sinks.table_diff_s": per_seq("sinks.table_diff"),
            "sinks.files_out": median(f for f, _ in self.sink_files[-seqs:]),
            "sinks.bytes_out": median(b for _, b in self.sink_files[-seqs:]),
            "pipelines.curate_corpus_s": per_seq("pipelines."),
        }
        if self.progress:
            m["streaming.batches"] = median(self.seq_batches)
            m["streaming.batch_p50_ms"] = median(self.progress.trigger_ms)
            m["streaming.state_rows"] = self.progress.state_rows
        return m


def _batch_sessions(events_path: str) -> set[tuple]:
    """Per-user session windows computed directly from the events file,
    with ``session_window`` semantics (an event at or past ``last + gap``
    opens a new session; a session ends at ``last + gap``): the reference
    the session-window stream's output is checked against."""
    gap_us = 30 * 60 * 1_000_000  # streaming.events_stream.SESSION_GAP
    t = pq.read_table(events_path, columns=["user_id", "ts"])
    users = t.column("user_id").to_numpy()
    ts = t.column("ts").cast("int64").to_numpy()
    order = np.lexsort((ts, users))
    users, ts = users[order], ts[order]
    new = np.ones(len(ts), dtype=bool)
    new[1:] = (users[1:] != users[:-1]) | (ts[1:] - ts[:-1] >= gap_us)
    starts = np.flatnonzero(new)
    ends = np.append(starts[1:], len(ts)) - 1
    return {
        (int(users[a]), int(ts[a]), int(ts[b]) + gap_us, int(b - a + 1))
        for a, b in zip(starts, ends)
    }


WORKLOADS = {w.name: w for w in (QueryMix, ObjectTransfer, IngestCurate)}
