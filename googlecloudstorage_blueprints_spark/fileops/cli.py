"""CLI shims — argument-compatible with the reference's four scripts.

Same flags, same defaults, same enum values as the reference argparse
declarations (``download_file.py:11-41``, ``upload_file.py:15-44``,
``move_file.py:16-47``, ``remove_file.py:16-36``), with the engine's
unified error model: every BlueprintError exits with its canonical code
(200/201/205 — ``exit_codes.py:1-3``), fixing the reference's
download/upload raise-vs-exit inconsistency (SURVEY.md §2.A.6, an allowed
improvement).

The reference's ``--bucket-name`` maps to a root URI: bare names are
treated as ``gs://{name}``; URIs (``file:...``, ``hdfs:...``, ``gs://...``)
pass through — one code path for cloud and local (SURVEY.md §1.2).

Usage:
    python -m googlecloudstorage_blueprints_spark.fileops.cli download \
        --bucket-name file:/tmp/bucket --source-file-name 'a\\.csv' \
        --source-file-name-match-type regex_match
"""

from __future__ import annotations

import argparse
import os
import re
import sys

from pyspark.errors import AnalysisException

from googlecloudstorage_blueprints_spark.errors import BlueprintError
from googlecloudstorage_blueprints_spark.fileops.core import (
    download_files,
    move_files,
    remove_files,
    upload_files,
)
from googlecloudstorage_blueprints_spark.session import get_spark


def _root_uri(bucket_name: str) -> str:
    # anything with a URI scheme (file:, hdfs:/x, s3a://b) passes through;
    # bare names are GCS buckets
    if re.match(r"^[a-zA-Z][a-zA-Z0-9+.-]*:", bucket_name):
        return bucket_name
    return f"gs://{bucket_name}"


def _add_common(p: argparse.ArgumentParser, dest_folder: bool = True) -> None:
    p.add_argument(
        "--source-file-name-match-type",
        dest="source_file_name_match_type",
        default="exact_match",
        choices={"exact_match", "regex_match"},
    )
    p.add_argument("--source-folder-name", dest="source_folder_name", default="")
    p.add_argument("--source-file-name", dest="source_file_name", required=True)
    if dest_folder:
        p.add_argument(
            "--destination-folder-name", dest="destination_folder_name",
            default="",
        )
        p.add_argument(
            "--destination-file-name", dest="destination_file_name",
            default=None,
        )
    p.add_argument("--service-account", dest="service_account", default=None)


def build_parser() -> argparse.ArgumentParser:
    parser = argparse.ArgumentParser(prog="gcs-blueprints-spark")
    sub = parser.add_subparsers(dest="verb", required=True)

    d = sub.add_parser("download")
    d.add_argument("--bucket-name", dest="bucket_name", required=True)
    _add_common(d)

    u = sub.add_parser("upload")
    u.add_argument("--bucket-name", dest="bucket_name", required=True)
    _add_common(u)

    m = sub.add_parser("move")
    m.add_argument(
        "--source-bucket-name", dest="source_bucket_name", required=True
    )
    m.add_argument(
        "--destination-bucket-name", dest="destination_bucket_name",
        required=True,
    )
    _add_common(m)

    r = sub.add_parser("remove")
    r.add_argument("--bucket-name", dest="bucket_name", required=True)
    _add_common(r, dest_folder=False)

    q = sub.add_parser(
        "query", help="run a registered analytics operator"
    )
    q.add_argument("name", nargs="?", default=None,
                   help="operator name (omit to list all)")
    q.add_argument("--sf-dir", dest="sf_dir",
                   default="/root/testdata/sf0.001")
    q.add_argument("--limit", dest="limit", type=int, default=20)
    q.add_argument("--output", dest="output", default=None,
                   help="write full result as parquet instead of printing")
    q.add_argument("--service-account", dest="service_account", default=None)

    v = sub.add_parser(
        "validate",
        help="compare two fixture directories by content fingerprint "
             "(table_row_digest on both sides): exit 0 when every "
             "table's (n_rows, digest) matches, exit 205 on any "
             "mismatch — the post-move integrity check for data the "
             "download/upload/move verbs shipped",
    )
    v.add_argument("--source-dir", dest="source_dir", required=True)
    v.add_argument("--dest-dir", dest="dest_dir", required=True)
    v.add_argument(
        "--tables", dest="tables", default=None,
        help="comma-separated table subset (default: whole catalog)",
    )
    v.add_argument(
        "--by-column", dest="by_column", action="store_true",
        help="compare per-COLUMN fingerprints (table_column_digest) "
             "instead of per-table rows — localizes WHICH column a "
             "flagged table diverged in",
    )
    v.add_argument(
        "--by-day", dest="by_day", action="store_true",
        help="compare per-DAY fingerprints of the events feed "
             "(table_partition_digest) — localizes WHICH day a "
             "backfill mangled after the table digest flags it",
    )
    v.add_argument(
        "--continuous", dest="continuous", action="store_true",
        help="incremental validation of two LIVE feed directories "
             "(flat parquet files landing over time): drive "
             "streaming_table_digest over each side with persistent "
             "checkpoints under --state-dir, merge the newest "
             "per-shard partials, and compare — re-invocations "
             "process only newly-landed files (committed-file skip)",
    )
    v.add_argument(
        "--state-dir", dest="state_dir", default=None,
        help="checkpoint + changelog directory for --continuous "
             "(required with it; reuse the same path across "
             "invocations to validate incrementally)",
    )
    v.add_argument(
        "--table", dest="table", default="documents",
        help="catalog table whose canonical row spelling the "
             "--continuous feeds carry (default: documents)",
    )
    v.add_argument("--service-account", dest="service_account", default=None)

    e = sub.add_parser(
        "explain",
        help="print a registered operator's physical plan without "
             "executing it (the plan-audit loop: PushedFilters, "
             "ReadSchema, exchange count, codegen spans)",
    )
    e.add_argument("name", help="operator name (see 'query' to list)")
    e.add_argument("--sf-dir", dest="sf_dir",
                   default="/root/testdata/sf0.001")
    e.add_argument("--mode", dest="mode", default="formatted",
                   choices={"simple", "extended", "formatted", "cost",
                            "codegen"})
    e.add_argument("--service-account", dest="service_account",
                   default=None)

    s = sub.add_parser(
        "sql",
        help="run free-form SQL over the dataset tables "
             "(region nation customer supplier part orders lineitem "
             "events documents embeddings registered as views)",
    )
    s.add_argument("statement", help="ANSI SQL text")
    s.add_argument("--sf-dir", dest="sf_dir",
                   default="/root/testdata/sf0.001")
    s.add_argument("--limit", dest="limit", type=int, default=20)
    s.add_argument("--output", dest="output", default=None,
                   help="write full result as parquet instead of printing")
    s.add_argument("--service-account", dest="service_account", default=None)

    rep = sub.add_parser(
        "report",
        help="build the per-source corpus health report "
             "(Zipf/KL/diversity/dedup/composition screens joined)",
    )
    rep.add_argument("--sf-dir", dest="sf_dir",
                     default="/root/testdata/sf0.001")
    rep.add_argument("--output", dest="output", default=None,
                     help="also write the report as parquet")
    rep.add_argument("--limit", dest="limit", type=int, default=50)
    rep.add_argument("--service-account", dest="service_account",
                     default=None)

    c = sub.add_parser(
        "curate",
        help="run the corpus curation pipeline "
             "(quality-filter -> dedup -> split -> partitioned write)",
    )
    c.add_argument("--sf-dir", dest="sf_dir",
                   default="/root/testdata/sf0.001")
    c.add_argument("--output", dest="output", required=True,
                   help="destination directory (partitioned by split)")
    c.add_argument("--min-chars", dest="min_chars", type=int, default=150)
    c.add_argument("--min-tokens", dest="min_tokens", type=int, default=30)
    c.add_argument("--max-top-share", dest="max_top_share", type=float,
                   default=0.15)
    c.add_argument("--contam-ngram-len", dest="contam_ngram_len", type=int,
                   default=3,
                   help="decontamination shingle length (3 production; "
                        "8/13 per the contamination_ngram_sensitivity "
                        "sweep)")
    c.add_argument("--service-account", dest="service_account", default=None)

    st = sub.add_parser(
        "stream",
        help="drain a streaming twin over the fixture backlog into "
             "parquet (availableNow; checkpointed exactly-once sink)",
    )
    st.add_argument("name", nargs="?", default=None,
                    help="twin name (omit to list); e.g. latest_snapshot")
    st.add_argument("--sf-dir", dest="sf_dir",
                    default="/root/testdata/sf0.001")
    st.add_argument("--output", dest="output", default=None,
                    help="destination parquet dir (required with a name)")
    st.add_argument("--service-account", dest="service_account",
                    default=None)

    m = sub.add_parser(
        "sessions",
        help="build the behavioral session mart "
             "(sessionize -> per-session features -> day-partitioned "
             "write)",
    )
    m.add_argument("--sf-dir", dest="sf_dir",
                   default="/root/testdata/sf0.001")
    m.add_argument("--output", dest="output", required=True,
                   help="destination directory (partitioned by epoch_day)")
    m.add_argument("--service-account", dest="service_account",
                   default=None)

    gm = sub.add_parser(
        "growth",
        help="build the weekly growth mart "
             "(per-(user, week) new/retained/resurrected class rows, "
             "week-partitioned write)",
    )
    gm.add_argument("--sf-dir", dest="sf_dir",
                    default="/root/testdata/sf0.001")
    gm.add_argument("--output", dest="output", required=True,
                    help="destination directory "
                         "(partitioned by epoch_week)")
    gm.add_argument("--service-account", dest="service_account",
                    default=None)

    ix = sub.add_parser(
        "index",
        help="build or query a persisted ANN index "
             "(cell-partitioned corpus; IVF or IVF-PQ)",
    )
    ix.add_argument("action", choices=["build", "search", "append"])
    ix.add_argument("--index", dest="index", required=True,
                    help="index directory")
    ix.add_argument("--sf-dir", dest="sf_dir",
                    default="/root/testdata/sf0.001",
                    help="fixture dir (build: corpus; search: queries)")
    ix.add_argument("--pq", dest="pq", action="store_true",
                    help="IVF-PQ (codes stored beside vectors)")
    ix.add_argument("--k", dest="k", type=int, default=10)
    ix.add_argument("--n-queries", dest="n_queries", type=int, default=5,
                    help="search: use the first N vec_ids as queries")
    ix.add_argument("--min-vec-id", dest="min_vec_id", type=int,
                    default=None,
                    help="append: shard = fixture vectors with "
                         "vec_id >= N (assigned to the existing "
                         "centroids, no retrain)")
    ix.add_argument("--service-account", dest="service_account",
                    default=None)
    return parser


def _stream_twins() -> dict:
    """Twin name → constructor, derived from the streaming package's
    export list (every ``streaming_*`` callable takes (spark, sf_dir)
    with optional extras)."""
    import googlecloudstorage_blueprints_spark.streaming as streaming

    return {
        name[len("streaming_"):]: getattr(streaming, name)
        for name in streaming.__all__
        if name.startswith("streaming_")
    }


def _run_stream(args) -> int:
    twins = _stream_twins()
    if args.name is None:
        for name in sorted(twins):
            print(name)
        return 0
    if args.name not in twins:
        print(f"error: unknown twin '{args.name}' "
              f"(run 'stream' with no name to list)", file=sys.stderr)
        return 2
    if not args.output:
        print("error: --output is required to drain a twin",
              file=sys.stderr)
        return 2
    spark = get_spark(
        app_name=f"gcs-blueprints-stream-{args.name}",
        service_account=args.service_account,
    )
    df = twins[args.name](spark, args.sf_dir)
    query = (
        df.writeStream.format("parquet")
        .option("path", args.output)
        .option("checkpointLocation", f"{args.output}_checkpoint")
        .trigger(availableNow=True)
        .start()
    )
    query.awaitTermination()
    n = spark.read.parquet(args.output).count()
    print(f"{n} rows written: {args.output}")
    return 0


def _run_growth(args) -> int:
    from googlecloudstorage_blueprints_spark.pipelines import (
        build_growth_mart,
    )

    spark = get_spark(
        app_name="gcs-blueprints-growth",
        service_account=args.service_account,
    )
    r = build_growth_mart(spark, args.sf_dir, args.output)
    print(f"{r.n_rows} (user, week) rows ({r.n_users} users, "
          f"{r.n_weeks} weeks)")
    print(f"classes: {r.n_new} new / {r.n_retained} retained / "
          f"{r.n_resurrected} resurrected; "
          f"{r.n_churn_events} churn events attributed")
    print(f"written: {args.output} (partitioned by epoch_week)")
    return 0


def _run_sessions(args) -> int:
    from googlecloudstorage_blueprints_spark.pipelines import (
        build_session_mart,
    )

    spark = get_spark(
        app_name="gcs-blueprints-sessions",
        service_account=args.service_account,
    )
    report = build_session_mart(spark, args.sf_dir, args.output)
    print(f"{report.n_events} events read")
    print(f"{report.n_sessions} sessions ({report.n_users} users, "
          f"{report.n_bounces} bounces, {report.n_days} days)")
    print(f"written: {args.output} (partitioned by epoch_day)")
    return 0


def _run_index(args) -> int:
    import pyspark.sql.functions as F

    from googlecloudstorage_blueprints_spark.pipelines import (
        append_ivf_index,
        append_ivfpq_index,
        build_ivf_index,
        build_ivfpq_index,
        search_ivf_index,
        search_ivfpq_index,
    )

    spark = get_spark(
        app_name=f"gcs-blueprints-index-{args.action}",
        service_account=args.service_account,
    )
    if args.action == "build":
        build = build_ivfpq_index if args.pq else build_ivf_index
        n = build(spark, args.sf_dir, args.index)
        kind = "IVF-PQ" if args.pq else "IVF"
        print(f"{n} vectors indexed ({kind}): {args.index}")
        return 0
    if args.action == "append":
        if args.min_vec_id is None:
            print("index append requires --min-vec-id")
            return 1
        shard = (
            spark.read.parquet(f"{args.sf_dir}/embeddings.parquet")
            .where(F.col("vec_id") >= args.min_vec_id)
            .select("vec_id", "embedding")
        )
        append = append_ivfpq_index if args.pq else append_ivf_index
        try:
            n = append(spark, args.index, shard)
        except ValueError as exc:
            # the library's overlap guard (r10 ADVICE): duplicated
            # vec_ids would occupy multiple top-k slots at search time
            print(str(exc))
            return 1
        kind = "IVF-PQ" if args.pq else "IVF"
        print(f"{n} vectors appended ({kind}): {args.index}")
        return 0
    emb = spark.read.parquet(f"{args.sf_dir}/embeddings.parquet")
    queries = emb.where(F.col("vec_id") < args.n_queries).select(
        F.col("vec_id").alias("query_id"),
        F.col("embedding").alias("qv"),
    )
    search = search_ivfpq_index if args.pq else search_ivf_index
    search(spark, args.index, queries, k=args.k).show(
        args.k * args.n_queries, truncate=False
    )
    return 0


def _run_query(args) -> int:
    from googlecloudstorage_blueprints_spark.operators import all_queries

    queries = all_queries()
    if args.name is None:
        for name in sorted(queries):
            print(name)
        return 0
    if args.name not in queries:
        print(f"error: unknown operator '{args.name}' "
              f"(run 'query' with no name to list)", file=sys.stderr)
        return 2
    spark = get_spark(
        app_name=f"gcs-blueprints-query-{args.name}",
        service_account=args.service_account,
    )
    df = queries[args.name](spark, args.sf_dir)
    if args.output:
        df.write.mode("overwrite").parquet(args.output)
        print(f"written: {args.output}")
    else:
        df.show(args.limit, truncate=False)
    return 0


def _hadoop_count_files(spark, feed_dir: str, pattern: str) -> int | None:
    """Count files matching ``pattern`` directly under ``feed_dir``
    through the Hadoop FileSystem API — scheme-aware (file:, hdfs://,
    gs://, s3a://), unlike a local ``glob.glob`` which silently sees
    nothing for remote URIs.  Returns None when the directory itself
    does not exist (caller distinguishes 'missing' from 'empty');
    raises for unreachable schemes (no connector / bad credentials)."""
    jvm = spark._jvm
    hconf = spark.sparkContext._jsc.hadoopConfiguration()
    root = jvm.org.apache.hadoop.fs.Path(feed_dir)
    fs = root.getFileSystem(hconf)
    if not fs.exists(root):
        return None
    matched = fs.globStatus(
        jvm.org.apache.hadoop.fs.Path(root, pattern)
    )
    return 0 if matched is None else len(matched)


def _ledger(frame, key, count: str = "n_rows") -> dict:
    """One side of a ``validate`` comparison: ``key`` (a column, or a
    tuple of columns) → ``(count, digest, digest_sum)`` from a digest
    frame."""
    return {
        (r[key] if isinstance(key, str) else tuple(r[k] for k in key)):
            (r[count], r["digest"], r["digest_sum"])
        for r in frame.collect()  # bounded: one row per table, column or day
    }


def _print_compare(src: dict, dst: dict, keys, name, count: str = "n"):
    """Print one ``OK  ``/``FAIL`` line per key with both sides'
    triples (``-`` for a side that lacks the key); return the keys whose
    triples differ."""
    bad = []
    for k in keys:
        match = src.get(k) == dst.get(k)
        if not match:
            bad.append(k)
        sn, sd, ss = src.get(k, ("-", "-", "-"))
        dn, dd, ds = dst.get(k, ("-", "-", "-"))
        print(
            f"{'OK  ' if match else 'FAIL'} {name(k)}: "
            f"src({count}={sn}, digest={sd}, sum={ss}) "
            f"dst({count}={dn}, digest={dd}, sum={ds})"
        )
    return bad


def _run_validate_continuous(args) -> int:
    """Continuous migration validation (``validate --continuous``):
    treat --source-dir and --dest-dir as LIVE feed directories of flat
    parquet files carrying one catalog table's rows, drive
    ``streaming_table_digest`` over each side with a persistent
    checkpoint under --state-dir, merge each side's newest per-shard
    partials (``merge_digest_rows`` — the pinned batch-merge
    equality), and compare the two (n_rows, digest, digest_sum)
    triples.  Re-invoking with the SAME --state-dir processes only the
    files that landed since the last run (the checkpointed file
    source's committed-file skip), so a migration can be re-validated
    after every batch of moved files at incremental cost.  Exit 0 on
    match, 205 (the reference's object-not-found class) on
    divergence."""
    from googlecloudstorage_blueprints_spark.errors import (
        EXIT_CODE_FILE_NOT_FOUND,
    )
    from googlecloudstorage_blueprints_spark.operators.audit import (
        TABLE_DIGEST_SPEC,
    )
    from googlecloudstorage_blueprints_spark.streaming import (
        merge_digest_rows,
        streaming_table_digest,
    )

    if not args.state_dir:
        print(
            "error: --continuous requires --state-dir (checkpoints + "
            "changelog live there across invocations)",
            file=sys.stderr,
        )
        return 2
    if args.table not in TABLE_DIGEST_SPEC:
        print(
            f"error: unknown table {args.table!r} "
            f"(catalog: {sorted(TABLE_DIGEST_SPEC)})",
            file=sys.stderr,
        )
        return 2
    spark = get_spark(
        app_name="gcs-blueprints-validate-continuous",
        service_account=args.service_account,
    )
    # --state-dir is explicitly reusable across invocations, so bind it
    # to ONE table: a changelog/checkpoint built for documents merged
    # into an orders digest would be a garbage comparison with no
    # diagnostic (r17 advice).  Record the table on first use, fail
    # fast on mismatch ever after.
    marker = os.path.join(args.state_dir, "table")
    if os.path.exists(marker):
        bound = open(marker).read().strip()
        if bound != args.table:
            print(
                f"error: state dir {args.state_dir!r} is bound to table "
                f"{bound!r} (first use); re-validating {args.table!r} "
                "needs a fresh --state-dir",
                file=sys.stderr,
            )
            return 2
    else:
        os.makedirs(args.state_dir, exist_ok=True)
        with open(marker, "w") as fh:
            fh.write(args.table)
    merged = {}
    for side, feed_dir in (
        ("source", args.source_dir),
        ("dest", args.dest_dir),
    ):
        sink = f"{args.state_dir}/{side}/changelog"
        ckpt = f"{args.state_dir}/{side}/checkpoint"
        # Probe the feed through Hadoop FS, not a local glob: a local
        # glob sees nothing for gs://, hdfs://, s3a://, or a mistyped
        # path, and 'nothing' used to silently skip the drain — two
        # such sides then compared equal on zero digests, a false pass
        # for a migration validator (r17 advice).  Nonexistent feed
        # dir = usage error; only a CONFIRMED-existing, confirmed-empty
        # directory legitimately digests to zeros.
        try:
            n_files = _hadoop_count_files(spark, feed_dir, "*.parquet")
        except Exception as exc:  # unreachable scheme / no connector
            print(
                f"error: cannot probe feed dir {feed_dir!r}: {exc}",
                file=sys.stderr,
            )
            return 2
        if n_files is None:
            print(
                f"error: feed dir does not exist: {feed_dir!r}",
                file=sys.stderr,
            )
            return 2
        if n_files:
            q = (
                streaming_table_digest(
                    spark, feed_dir, table=args.table, glob="*.parquet"
                )
                .writeStream.format("parquet")
                .option("path", sink)
                .option("checkpointLocation", ckpt)
                .outputMode("append")
                .trigger(availableNow=True)
                .start()
            )
            q.awaitTermination()
        try:
            rows = (
                spark.read.parquet(sink).collect()
            )  # bounded: ≤shards×triggers changelog rows, ver-compacted
        except AnalysisException as exc:
            # only 'no changelog yet' (first run over an empty feed) is
            # a legitimate zero-digest; corrupt files / permissions /
            # bad state dirs must FAIL, not read as 'feeds match'
            # (r17 advice)
            klass = ""
            try:
                klass = exc.getErrorClass() or ""
            except Exception:
                pass
            if "PATH_NOT_FOUND" not in klass and (
                "PATH_NOT_FOUND" not in str(exc)
            ):
                raise
            rows = []  # no emission yet: an empty feed digests to zeros
        merged[side] = merge_digest_rows(
            [r for r in rows if r["table_name"] == args.table]
        )
    if _print_compare(
        {args.table: merged["source"]}, {args.table: merged["dest"]},
        [args.table], str,
    ):
        detail = ""
        if args.table == "events":
            # localize WHICH days diverge (the --by-day comparison,
            # composed onto the continuous path): rescan both feeds'
            # full backlog for per-day digests — a divergence is the
            # rare path, so the rescan only prices the failure case
            from googlecloudstorage_blueprints_spark.operators.audit import (  # noqa: E501
                partition_digest_frame,
            )

            src, dst = (
                _ledger(partition_digest_frame(
                    spark, feed_dir, glob="*.parquet"), "epoch_day")
                for feed_dir in (args.source_dir, args.dest_dir)
            )
            bad_days = [
                d for d in sorted(set(src) | set(dst))
                if src.get(d) != dst.get(d)
            ]
            detail = " on day(s) " + ", ".join(str(d) for d in bad_days)
        print(f"validate: content mismatch{detail}", file=sys.stderr)
        return EXIT_CODE_FILE_NOT_FOUND
    print("validate: feeds match")
    return 0


def _run_validate(args) -> int:
    """Migration validation: fingerprint both directories with the
    registered ``table_row_digest`` computation and compare per table.
    A mismatch exits with the reference's object-not-found code (205 —
    exit_codes.py:3): the destination does not hold the object content
    the source promised, the same failure class as a missing blob.
    Unknown table names exit 2 (usage error, argparse convention)."""
    from googlecloudstorage_blueprints_spark.errors import (
        EXIT_CODE_FILE_NOT_FOUND,
    )
    from googlecloudstorage_blueprints_spark.operators.audit import (
        TABLE_DIGEST_SPEC,
        digest_frame,
    )

    tables = (
        [t.strip() for t in args.tables.split(",") if t.strip()]
        if args.tables
        else None
    )
    if tables:
        unknown = [t for t in tables if t not in TABLE_DIGEST_SPEC]
        if unknown:
            print(
                f"error: unknown table(s) {unknown} "
                f"(catalog: {sorted(TABLE_DIGEST_SPEC)})",
                file=sys.stderr,
            )
            return 2
    modes = [
        m
        for m in ("by_day", "by_column", "continuous")
        if getattr(args, m, False)
    ]
    if len(modes) > 1:
        print(
            "error: --by-day / --by-column / --continuous are "
            "mutually exclusive",
            file=sys.stderr,
        )
        return 2
    if getattr(args, "continuous", False):
        return _run_validate_continuous(args)
    if getattr(args, "by_day", False) and tables not in (None, ["events"]):
        print(
            "error: --by-day applies to the day-partitioned events feed "
            "only (drop --tables or pass --tables events)",
            file=sys.stderr,
        )
        return 2
    spark = get_spark(
        app_name="gcs-blueprints-validate",
        service_account=args.service_account,
    )
    if getattr(args, "by_day", False):
        from googlecloudstorage_blueprints_spark.operators.audit import (
            partition_digest_frame,
        )

        src, dst = (
            _ledger(partition_digest_frame(spark, d), "epoch_day")
            for d in (args.source_dir, args.dest_dir)
        )
        bad_days = _print_compare(
            src, dst, sorted(set(src) | set(dst)),
            lambda d: f"events day {d}",
        )
        if bad_days:
            print(
                "validate: content mismatch on day(s) "
                + ", ".join(str(d) for d in bad_days),
                file=sys.stderr,
            )
            return EXIT_CODE_FILE_NOT_FOUND
        print(f"validate: {len(src)} day(s) match")
        return 0
    if getattr(args, "by_column", False):
        from googlecloudstorage_blueprints_spark.operators.audit import (
            column_digest_frame,
        )

        frame, key, count, unit, name, label = (
            column_digest_frame, ("table_name", "column_name"), "n_nulls",
            "column", ".".join, "nulls",
        )
    else:
        frame, key, count, unit, name, label = (
            digest_frame, "table_name", "n_rows", "table", str, "n",
        )
    src, dst = (
        _ledger(frame(spark, d, tables), key, count)
        for d in (args.source_dir, args.dest_dir)
    )
    if _print_compare(src, dst, sorted(src), name, label):
        print("validate: content mismatch", file=sys.stderr)
        return EXIT_CODE_FILE_NOT_FOUND
    print(f"validate: {len(src)} {unit}(s) match")
    return 0


def _run_explain(args) -> int:
    """Plan audit for a registered operator: builds the DataFrame and
    prints the requested explain mode WITHOUT executing it (eager ops
    that materialize internally still run their build).  This is the
    CLI form of the workflow the repo build docs mandate after every operator —
    check pushdown/pruning/exchanges before trusting a timing."""
    from googlecloudstorage_blueprints_spark.operators import all_queries

    queries = all_queries()
    if args.name not in queries:
        print(f"error: unknown operator '{args.name}' "
              f"(run 'query' with no name to list)", file=sys.stderr)
        return 2
    spark = get_spark(
        app_name=f"gcs-blueprints-explain-{args.name}",
        service_account=args.service_account,
    )
    queries[args.name](spark, args.sf_dir).explain(mode=args.mode)
    return 0


def _run_sql(args) -> int:
    """Free-form SQL over the fixture tables — the "any query they run
    today" surface: the same catalog views the SQL-frontend operators
    (sql_tpch_*) run through, so Catalyst pushdown/pruning applies to
    ad-hoc statements exactly as to registered ones."""
    from googlecloudstorage_blueprints_spark.sources.catalog import (
        register_views,
    )

    spark = get_spark(
        app_name="gcs-blueprints-sql",
        service_account=args.service_account,
    )
    register_views(spark, args.sf_dir)
    try:
        df = spark.sql(args.statement)
    except Exception as exc:  # analysis errors are user errors, not crashes
        print(f"error: {exc}", file=sys.stderr)
        return 2
    if args.output:
        df.write.mode("overwrite").parquet(args.output)
        print(f"written: {args.output}")
    else:
        df.show(args.limit, truncate=False)
    return 0


def _run_report(args) -> int:
    from googlecloudstorage_blueprints_spark.pipelines import corpus_report

    spark = get_spark(
        app_name="gcs-blueprints-report",
        service_account=args.service_account,
    )
    report = corpus_report(spark, args.sf_dir, args.output)
    report.show(args.limit, truncate=False)
    if args.output:
        print(f"written: {args.output}")
    return 0


def _run_curate(args) -> int:
    from googlecloudstorage_blueprints_spark.pipelines import curate_corpus

    spark = get_spark(
        app_name="gcs-blueprints-curate",
        service_account=args.service_account,
    )
    report = curate_corpus(
        spark,
        args.sf_dir,
        args.output,
        min_chars=args.min_chars,
        min_tokens=args.min_tokens,
        max_top_share=args.max_top_share,
        contam_ngram_len=args.contam_ngram_len,
    )
    print(f"{report.n_input} documents read")
    print(f"{report.n_quality} passed quality gates")
    print(f"{report.n_deduped} after exact dedup")
    print(f"{report.n_near_deduped} after near-dup removal")
    print(f"{report.n_sem_deduped} after semantic dedup")
    for split in sorted(report.split_counts):
        print(f"  {split}: {report.split_counts[split]} rows")
    print(f"written: {args.output} (partitioned by split)")
    return 0


def main(argv: list[str] | None = None) -> int:
    args = build_parser().parse_args(argv)
    if args.verb == "query":
        return _run_query(args)
    if args.verb == "explain":
        return _run_explain(args)
    if args.verb == "validate":
        return _run_validate(args)
    if args.verb == "sql":
        return _run_sql(args)
    if args.verb == "report":
        return _run_report(args)
    if args.verb == "stream":
        return _run_stream(args)
    if args.verb == "sessions":
        return _run_sessions(args)
    if args.verb == "growth":
        return _run_growth(args)
    if args.verb == "index":
        return _run_index(args)
    if args.verb == "curate":
        return _run_curate(args)
    # resolve credentials here so the tempfile an inline-JSON key creates
    # is deleted on exit (download_file.py:274-276 parity)
    from googlecloudstorage_blueprints_spark.session import (
        resolve_service_account,
    )

    tmp_key = resolve_service_account(args.service_account)
    spark = get_spark(app_name=f"gcs-blueprints-{args.verb}")
    try:
        if args.verb == "download":
            written = download_files(
                spark,
                _root_uri(args.bucket_name),
                source_folder_name=args.source_folder_name,
                source_file_name=args.source_file_name,
                source_file_name_match_type=args.source_file_name_match_type,
                destination_folder_name=args.destination_folder_name,
                destination_file_name=args.destination_file_name,
            )
        elif args.verb == "upload":
            written = upload_files(
                spark,
                _root_uri(args.bucket_name),
                source_folder_name=args.source_folder_name,
                source_file_name=args.source_file_name,
                source_file_name_match_type=args.source_file_name_match_type,
                destination_folder_name=args.destination_folder_name,
                destination_file_name=args.destination_file_name,
            )
        elif args.verb == "move":
            written = move_files(
                spark,
                _root_uri(args.source_bucket_name),
                _root_uri(args.destination_bucket_name),
                source_folder_name=args.source_folder_name,
                source_file_name=args.source_file_name,
                source_file_name_match_type=args.source_file_name_match_type,
                destination_folder_name=args.destination_folder_name,
                destination_file_name=args.destination_file_name,
            )
        else:
            written = remove_files(
                spark,
                _root_uri(args.bucket_name),
                source_folder_name=args.source_folder_name,
                source_file_name=args.source_file_name,
                source_file_name_match_type=args.source_file_name_match_type,
            )
    except BlueprintError as exc:
        print(f"error ({exc.exit_code}): {exc.message}", file=sys.stderr)
        return exc.exit_code
    finally:
        if tmp_key and os.path.exists(tmp_key):
            os.remove(tmp_key)
    n = len(written)
    print(f"{n} file{'s' if n != 1 else ''} processed.")
    for path in written:
        print(path)
    return 0


if __name__ == "__main__":
    sys.exit(main())
