"""End-to-end corpus curation: quality-filter → exact dedup → near-dup
removal → eval-set decontamination → split → partitioned write.

The composed form of the training-data operator family
(``operators/pipeline.py``, ``operators/dedup.py``, ``sinks/writers.py``)
— what an LLM-data team actually runs nightly.

Stage boundaries.  The quality, exact-dedup, near-dup and semantic-dedup
survivors each feed several later steps, so each of those four stages
ends in one eager ``localCheckpoint`` job that also counts the stage's
survivors through ``DataFrame.observe`` (the input count rides on the
first one).  The checkpoint cuts the lineage: every later plan starts at
the stored rows, so Spark analyses, optimises and renders a plan one
stage long per job.  A persisted frame keeps its whole upstream plan
instead, and re-planning that pipeline for every later job cost more
driver time than the jobs ran (a warm call over 150 documents ran 69
jobs and 194 stages that way; now 48 and 90).  Within a stage Catalyst
still sees the whole stage.  Decontamination, redaction and split
assignment run inside the write job, and the split counts and the
redaction total are observed on the rows it writes, so nothing is read
back.  Every checkpoint is released when the call returns or raises;
the lineage caveat of released checkpoints is in
``operators.graph.min_label_components``.

Stage order is deliberate and matters at 100 TB:

1. **Quality gates first** (map-only): cheap predicates drop the bulk of
   the corpus before anything shuffles.
2. **Exact dedup second**: the hash-agg shuffle runs on survivors only.
3. **Near-dup removal third**: MinHash-LSH verified pairs over the exact
   survivors (``operators.dedup.minhash_pairs``) → connected components
   (``operators.graph.min_label_components``) → keep the min-doc_id per
   cluster.  After exact dedup because byte-identical copies are gone by
   then — the banding kernel runs once per unique content.
4. **Semantic near-dedup fourth** (SemDeDup; r9): drop documents whose
   EMBEDDING is dominated by a lower-doc_id surviving document at
   cosine ≥ ``sem_tau`` — catches paraphrases and template rewrites
   that lexical MinHash misses.  After lexical dedup so the pair stage
   runs on the smallest lexical-survivor set; pair generation is the
   exact GEMM tier at fixture scale (``dedup_embedding_cosine``,
   EXACT_TIER_MAX_ROWS-guarded) and swaps to the LSH candidate tier
   (``dedup_semantic_ann``'s pair stage) beyond it.  ``sem_tau=None``
   disables the stage (corpora without an embedding column).
5. **Decontamination fifth**: drop corpus docs sharing 3-gram spans with
   the held-out eval slice (inverted-index anti-join; the eval index is
   ~1% of the corpus and broadcastable) — last of the filters so the
   shingle join runs on the smallest surviving set.
6. **PII redaction** (map-only regex transform, the ``pii_redact``
   operator's scrub applied to the text itself): runs on final
   survivors only — redacting dropped rows is wasted work — and BEFORE
   split assignment so no un-scrubbed byte reaches any output split.
   After dedup deliberately: redaction collapses distinct originals
   ("call 555-0100" / "call 555-0199" both become "call [NUM]"), and
   dedup must key on what was actually crawled.
7. **Split assignment** (map-only projection) after all filters so
   neither replicate, near-replicate, nor eval-overlapping documents can
   straddle train/test (leakage).
8. **Partitioned write** via the layout-aware writer (repartition-first,
   bounded file counts per split).
"""

from __future__ import annotations

from dataclasses import dataclass

import pyspark.sql.functions as F
from pyspark.sql import Column, DataFrame, Observation, SparkSession

from googlecloudstorage_blueprints_spark.functions.columns import (
    shingle_structs,
)
from googlecloudstorage_blueprints_spark.operators.dedup import minhash_pairs
from googlecloudstorage_blueprints_spark.operators.graph import (
    _checkpoint_observed,
    _persisted_rdd_ids,
    _release_rdds,
    min_label_components,
)
from googlecloudstorage_blueprints_spark.operators.semdedup import SEM_TAU
from googlecloudstorage_blueprints_spark.operators.similarity import (
    dedup_embedding_cosine,
)
from googlecloudstorage_blueprints_spark.operators.text import (
    _SCAN_DIGITS,
    _SCAN_EMAIL,
)
from googlecloudstorage_blueprints_spark.operators.training import (
    CONTAM_EVAL_MOD,
)
from googlecloudstorage_blueprints_spark.sinks import write_partitioned
from googlecloudstorage_blueprints_spark.sources.catalog import load_table

MIN_CHARS = 150
MIN_TOKENS = 30
MAX_TOP_SHARE = 0.15
SPLITS = ("train", "val", "test")


@dataclass(frozen=True)
class CurationReport:
    n_input: int
    n_quality: int      # after quality gates
    n_deduped: int      # after exact dedup
    n_near_deduped: int  # after near-dup cluster keeper selection
    n_sem_deduped: int  # after embedding-space (SemDeDup) keeper
    n_clean: int        # after eval-set decontamination
    n_redactions: int   # PII placeholders substituted across the corpus
    split_counts: dict  # split -> rows written


def _rows() -> Column:
    return F.count(F.lit(1))


def _with_quality_metrics(docs: DataFrame, min_chars: int) -> DataFrame:
    """Attach n_tokens and top_token_share without leaving the JVM.

    Same metrics as ``quality_filter_funnel`` but computed via the
    explode/groupBy/join shape ONCE and joined back, so the curated rows
    keep their full payload.  Every document keeps its row (a left
    join), so a count above the join sees the whole input.  Only
    documents that can pass the length gate are tokenised; the rest,
    NULL-text documents included (the operator's explicit ``text IS NOT
    NULL`` semantics), get NULL metrics and fail the token gates."""
    words = docs.where(
        F.col("text").isNotNull() & (F.col("n_chars") >= min_chars)
    ).select("doc_id", F.explode_outer(F.split("text", " ")).alias("w"))
    per = words.groupBy("doc_id", "w").agg(F.count(F.lit(1)).alias("cnt"))
    metrics = per.groupBy("doc_id").agg(
        F.sum("cnt").alias("n_tokens"),
        (F.max("cnt").cast("double") / F.sum("cnt")).alias(
            "top_token_share"
        ),
    )
    return docs.join(metrics, "doc_id", "left")


def curate_corpus(
    spark: SparkSession,
    sf_dir: str,
    out_path: str,
    min_chars: int = MIN_CHARS,
    min_tokens: int = MIN_TOKENS,
    max_top_share: float = MAX_TOP_SHARE,
    sem_tau: float | None = SEM_TAU,
    contam_ngram_len: int = 3,
) -> CurationReport:
    """Run the full curation pipeline over ``documents`` and write the
    result partitioned by split; returns per-stage survivor counts.

    Dedup keeps the smallest doc_id per exact content hash (deterministic
    keeper, same convention as the ``exact_dedup`` operator); the
    semantic stage keeps the smallest doc_id per embedding neighborhood
    (the ``dedup_semantic`` greedy-dominance keeper, restricted to
    lexical survivors; ``sem_tau=None`` disables it).  Split is the
    ``stratified_split`` operator's multiplicative-hash 80/10/10.
    ``contam_ngram_len`` sets the decontamination shingle length
    (default 3, the production scan; 8/13 are the Brown et al./GPT-3
    conventions — pick one from ``contamination_ngram_sensitivity``'s
    sweep before an eval release)."""
    sc = spark.sparkContext
    ids_before = _persisted_rdd_ids(sc)
    try:
        return _curate(
            spark, sf_dir, out_path, min_chars, min_tokens, max_top_share,
            sem_tau, contam_ngram_len,
        )
    finally:
        # every stage checkpoint (invisible to DataFrame.unpersist), and
        # anything a stage left persisted, whether the call returns or raises
        _release_rdds(sc, _persisted_rdd_ids(sc) - ids_before)


def _curate(
    spark: SparkSession,
    sf_dir: str,
    out_path: str,
    min_chars: int,
    min_tokens: int,
    max_top_share: float,
    sem_tau: float | None,
    contam_ngram_len: int,
) -> CurationReport:
    docs = load_table(spark, sf_dir, "documents")
    # the input count is observed above the join, not on its docs side:
    # adaptive execution replaces a join that meets an empty side by an
    # empty relation, and an observation inside it would never report
    input_seen = Observation()
    scored = _with_quality_metrics(docs, min_chars).observe(
        input_seen, _rows().alias("n")
    )
    # quality survivors feed dedup's keeper and its join: store them
    quality, n_quality = _checkpoint_observed(
        scored.where(
            (F.col("n_chars") >= min_chars)
            & (F.col("n_tokens") >= min_tokens)
            & (F.col("top_token_share") <= max_top_share)
        ),
        _rows(),
    )

    # exact dedup: one hash-agg on the digest, deterministic min keeper
    keeper = (
        quality.groupBy(F.md5("text").alias("content_md5"))
        .agg(F.min("doc_id").alias("doc_id"))
        .select("doc_id")
    )
    # deduped feeds the MinHash pairs, the label nodes and the keeper join
    deduped, n_deduped = _checkpoint_observed(
        quality.join(keeper, "doc_id"), _rows()
    )

    # near-dup removal: verified MinHash pairs over the exact survivors,
    # connected components, keep the min doc_id per cluster.  Docs with
    # no near-dup edge are their own component and survive untouched.
    pairs = minhash_pairs(deduped.select("doc_id", "text"))
    labels = min_label_components(
        deduped.select(F.col("doc_id").alias("node")), pairs
    )
    near_keepers = labels.where(
        F.col("node") == F.col("label")
    ).select(F.col("node").alias("doc_id"))
    near_deduped, n_near_deduped = _checkpoint_observed(
        deduped.join(near_keepers, "doc_id"), _rows()
    )
    pairs.unpersist()

    # semantic near-dedup (SemDeDup): a doc is dropped iff a LOWER-id
    # doc that SURVIVED the lexical stages dominates it at cosine ≥
    # sem_tau — pairs from the exact GEMM tier (guarded; the LSH tier
    # substitutes beyond 500k rows), keeper identical to dedup_semantic
    # restricted to survivors.  doc_id ↔ vec_id (FIXTURES.md: the
    # embeddings table is per-document).
    if sem_tau is not None:
        epairs = dedup_embedding_cosine(spark, sf_dir).where(
            F.col("cosine") >= sem_tau
        )
        surv_a = near_deduped.select(F.col("doc_id").alias("vec_a"))
        sem_dropped = (
            epairs.join(surv_a, "vec_a", "left_semi")
            .select(F.col("vec_b").alias("doc_id"))
            .distinct()
        )
        sem_deduped, n_sem_deduped = _checkpoint_observed(
            near_deduped.join(sem_dropped, "doc_id", "left_anti"), _rows()
        )
    else:
        sem_deduped, n_sem_deduped = near_deduped, n_near_deduped

    # decontamination: anti-join deduped survivors against the held-out
    # eval slice's distinct 3-gram index (same shingles and eval rule as
    # the benchmark_contamination operator); a doc sharing ANY eval
    # shingle is dropped before split assignment
    def shingles_of(frame: DataFrame) -> DataFrame:
        k = contam_ngram_len
        return frame.select(
            "doc_id", F.explode_outer(shingle_structs("text", k)).alias("p")
        ).select(
            "doc_id",
            F.concat_ws(" ", *[f"p.{i}" for i in range(k)]).alias("s"),
        )

    eval_index = (
        shingles_of(
            docs.where(
                F.col("text").isNotNull()
                & (F.col("doc_id") % CONTAM_EVAL_MOD == 0)
            )
        )
        .select("s")
        .distinct()
    )
    contaminated = (
        shingles_of(sem_deduped.where(F.col("doc_id") % CONTAM_EVAL_MOD != 0))
        .join(eval_index, "s", "left_semi")
        .select("doc_id")
        .distinct()
    )
    clean = sem_deduped.where(
        F.col("doc_id") % CONTAM_EVAL_MOD != 0
    ).join(contaminated, "doc_id", "left_anti")

    # PII redaction on the final survivors (same patterns and
    # email-before-digits order as the pii_redact operator — emails
    # contain digits, so the opposite order changes counts)
    email_red = F.regexp_replace("text", _SCAN_EMAIL, "[EMAIL]")
    n_red = F.regexp_count("text", F.lit(_SCAN_EMAIL)) + F.regexp_count(
        email_red, F.lit(_SCAN_DIGITS)
    )
    redacted = clean.withColumn(
        "n_redactions", n_red.cast("long")
    ).withColumn(
        "text", F.regexp_replace(email_red, _SCAN_DIGITS, "[NUM]")
    )

    train, val, test = SPLITS
    bucket = F.expr("((doc_id % 1000003) * 2654435761) % 100")
    split = (
        F.when(bucket < 80, F.lit(train))
        .when(bucket < 90, F.lit(val))
        .otherwise(F.lit(test))
    )
    # the written stats must describe the written text: n_chars/n_tokens
    # are recomputed map-side post-redaction (redaction shortens rows —
    # "call 555-0100" → "call [NUM]").  top_token_share would need the
    # full explode/groupBy again, so it keeps the PRE-redaction value the
    # quality gate actually used, renamed orig_* so consumers can't
    # mistake it for a property of the written text.
    curated = redacted.withColumn("split", split).select(
        "doc_id",
        "text",
        "lang",
        "source",
        F.length("text").cast("long").alias("n_chars"),
        F.size(F.split("text", " ")).cast("long").alias("n_tokens"),
        F.col("top_token_share").alias("orig_top_token_share"),
        "n_redactions",
        "split",
    )

    # the written rows are counted per split while the write runs
    written_seen = Observation()
    write_partitioned(
        curated.observe(
            written_seen,
            *[F.count_if(F.col("split") == s).alias(s) for s in SPLITS],
            F.sum("n_redactions").alias("n_redactions"),
        ),
        out_path,
        ["split"],
    )
    # the observation sits below the writer's repartition: adaptive
    # execution replaces that shuffle by an empty relation when it finds
    # no rows, and the observation then reports no row at all
    written = written_seen.get if written_seen._jo.getRow().length() else {}
    split_counts = {s: written[s] for s in SPLITS if written.get(s)}
    # eval-slice docs themselves are held out of the written corpus along
    # with anything sharing a 3-gram with them, so rows written == n_clean
    return CurationReport(
        n_input=input_seen.get["n"],
        n_quality=n_quality,
        n_deduped=n_deduped,
        n_near_deduped=n_near_deduped,
        n_sem_deduped=n_sem_deduped,
        n_clean=sum(split_counts.values()),
        n_redactions=int(written.get("n_redactions") or 0),
        split_counts=split_counts,
    )
