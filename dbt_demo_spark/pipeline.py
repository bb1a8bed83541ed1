"""End-to-end corpus-preparation pipeline: the composition a training-data
user actually runs, wired from the package's own operators —

    ingest -> exact dedup (keep-first) -> repetition filter
           -> [optional LM perplexity band, on RAW text]
           -> [optional classifier quality band (X110), on RAW text]
           -> [optional DSIR importance-weight band (X114), on RAW text]
           -> [optional eval-set decontamination, on RAW text]
           -> [optional cross-batch boilerplate strip (X109) vs the
               persisted hot-line census]
           -> [optional passage dedup] -> PII redaction
           -> [optional source-weighted sampling] -> incremental near-dup
           vs the persisted fingerprint index -> train/val/test split

Per-stage funnel counts use ``DataFrame.observe`` (the Observation API):
each stage's row count is collected by a job the funnel runs anyway — no
count() pass per stage.  The row-local prefix (ingest, exact dedup and
the repetition/LM/classifier/DSIR bands) is materialized ONCE
(``localCheckpoint``), so the batch's input is scanned by that one job
and its taps fire there.  The later actions all read the materialization:

  * decontamination: its contaminated-id set (operators/decontaminate.py);
  * boilerplate: the census ingest and its commit;
  * incremental near-dup: the feature write to staging, the cross-pair,
    dropped-id and already-indexed materializations, and the index commit
    (operators/dedup.incremental_minhash_dedup);
  * the caller's write (or the ``sink``), where the later taps fire.

None of them exists for observability; each is a stage's own work.

Every stage is an operator tested on its own (tests/test_text_filters.py,
tests/test_dedup_incremental.py); this module's tests pin the composition:
funnel counts consistent, ordering stable, re-ingest inert.
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, Observation

from .operators.decontaminate import decontaminate
from .operators.dedup import exact_dedup_keep_first, incremental_minhash_dedup
from .queries.llm_pipeline import _SPLIT_MULT
from .queries.text_filters import (EMAIL_RE, IPV4_RE, repetition_filter,
                                   source_weighted_sample)
from .functions.text import HASH_P


def split_column(doc_id, train_pct: int = 80, val_pct: int = 10):
    """The text_stable_split assignment as a reusable column: deterministic
    integer-hash bucket -> 'train' / 'val' / 'test'."""
    bucket = ((doc_id % HASH_P) * _SPLIT_MULT) % HASH_P % 100
    return (F.when(bucket < train_pct, "train")
            .when(bucket < train_pct + val_pct, "val")
            .otherwise("test"))


def clean_corpus(new_docs: DataFrame, index_dir: str, *,
                 threshold: float = 0.5, max_bucket: int | None = 64,
                 max_dup_trigram_frac: float = 0.3,
                 min_uniq_token_frac: float = 0.2,
                 rates: dict[str, float] | None = None,
                 eval_docs: DataFrame | None = None,
                 min_matched: int = 1,
                 sink=None,
                 shard_spec=None, shards_dir: str | None = None,
                 shard_literals: dict | None = None,
                 lm_table: list | None = None,
                 max_bits_per_char: float | None = None,
                 min_bits_per_char: float | None = None,
                 dedup_passages: bool = False,
                 passage_width: int | None = None,
                 boilerplate_census_dir: str | None = None,
                 boilerplate_min_docs: int = 3,
                 boilerplate_batch_id: int | None = None,
                 quality_model: tuple | None = None,
                 min_quality_margin: float | None = None,
                 dsir_table: list | None = None,
                 min_dsir_logweight: float | None = None,
                 ) -> tuple[DataFrame, dict[str, Observation]]:
    """Run the full preparation funnel over an ingest batch.

    Returns ``(clean, observations)``: ``clean`` is the accepted rows with
    ``text`` redacted and a ``split`` column appended; ``observations`` maps
    stage name -> Observation whose ``rows`` metric is populated once the
    caller materializes ``clean`` (write/collect).  Stage order — cheap
    row-local filters BEFORE the shuffling dedups — keeps every shuffle as
    small as the filters can make it.

    ``dedup_passages``: rewrite every document to the passages not seen
    earlier in THIS batch (operators/dedup.passage_dedup; first occurrence
    wins), dropping whole-duplicate docs — the repeated-boilerplate cut
    whole-doc dedup cannot make.

    ``boilerplate_census_dir``: enable CROSS-BATCH line-level boilerplate
    removal (X109): the batch folds into the persisted hot-line census at
    that path (operators/boilerplate.ingest_line_census) and is then
    stripped of every line hot across the WHOLE ingest history
    (``boilerplate_min_docs`` documents, ever); docs stripped to empty
    drop.  Pass ``boilerplate_batch_id`` wherever replays are possible —
    the census commit is exactly-once on that id.

    ``quality_model`` = (weights, bias) + ``min_quality_margin``: the
    GPT-3-style classifier band (X110, operators/quality.py) — drop docs
    whose frozen-classifier margin falls below the cut; row-local like
    the LM band.  Pass operators/quality_frozen.py's weights or a
    train_quality_classifier result.

    ``dsir_table`` + ``min_dsir_logweight``: the DSIR importance-weight
    band (X114, operators/dsir.py) — drop docs whose target-vs-raw log
    importance weight falls below the cut (calibrate with
    dsir.logweight_threshold_for_keep_fraction); row-local like the
    other bands.

    ``sink``: optional callable receiving the final (split-annotated)
    accepted rows BEFORE the fingerprint index is appended — the
    exactly-once replay hook for streaming ingest (see
    incremental_minhash_dedup and streaming/ingest.py).  When a sink
    materializes the output itself, the returned handle need not be acted
    on and the observations fire during the sink's job.

    ``shard_spec`` + ``shards_dir``: the TRAINER-FACING output mode — the
    accepted rows are additionally chunked, budget-packed, and written as
    split-partitioned parquet shards under ``shards_dir``
    (operators/shards.write_training_shards).  The shard write happens in
    the sink position, BEFORE the fingerprint-index commit, so it inherits
    the same exactly-once replay story as any other sink: a crash before
    the commit replays into an identical accepted set and the overwrite
    lands the identical shards.  The layout is a FULL SNAPSHOT of this
    call's accepted rows — a second call with the same ``shards_dir``
    overwrites it (correct for replays, destructive for accumulation):
    multi-batch shard ACCUMULATION needs a per-batch partition, either
    via ``shard_literals`` (e.g. ``{"ingest_batch_id": n}``, switching
    the write to a dynamic per-partition overwrite) or the streaming
    twin (streaming/ingest.py), which does exactly that.
    """
    if (shard_spec is None) != (shards_dir is None):
        raise ValueError("shard_spec and shards_dir go together")
    if lm_table is not None and (max_bits_per_char is None
                                 and min_bits_per_char is None):
        raise ValueError("lm_table needs max_bits_per_char and/or "
                         "min_bits_per_char — a model with no band keeps "
                         "everything")
    if lm_table is None and (max_bits_per_char is not None
                             or min_bits_per_char is not None):
        raise ValueError("bits_per_char bounds need lm_table")
    if (quality_model is None) != (min_quality_margin is None):
        raise ValueError("quality_model and min_quality_margin go "
                         "together — a classifier with no cut keeps "
                         "everything, a cut with no model is undefined")
    if (dsir_table is None) != (min_dsir_logweight is None):
        raise ValueError("dsir_table and min_dsir_logweight go "
                         "together — a model with no cut keeps "
                         "everything, a cut with no model is undefined")
    obs: dict[str, Observation] = {}

    def tap(df: DataFrame, name: str) -> DataFrame:
        o = Observation(name)
        obs[name] = o
        return df.observe(o, F.count(F.lit(1)).alias("rows"))

    df = tap(new_docs, "ingested")

    # exact dedup first: it is the cheapest shuffle and near-dup work scales
    # with surviving rows.  keep-first semantics via semi-join on keep_id.
    keep_ids = exact_dedup_keep_first(df).select(
        F.col("keep_id").alias("doc_id"))
    df = tap(df.join(keep_ids, "doc_id", "left_semi"), "after_exact_dedup")

    # row-local hygiene: repetition cut, then in-place PII redaction
    df = tap(repetition_filter(df, max_dup_trigram_frac,
                               min_uniq_token_frac), "after_repetition")

    # perplexity-proxy band (CCNet-style, operators/lm.py): row-local like
    # the repetition cut, so it runs BEFORE anything that broadcasts or
    # shuffles; scoring sees the RAW text (redaction happens later).  Docs
    # too short to score (NULL bits/char) are dropped — no bigram evidence.
    if lm_table is not None:
        from .operators.lm import bits_per_char

        band = bits_per_char(F.col("text"), lm_table)
        cond = band.isNotNull()
        if min_bits_per_char is not None:
            cond = cond & (band >= min_bits_per_char)
        if max_bits_per_char is not None:
            cond = cond & (band <= max_bits_per_char)
        df = tap(df.filter(cond), "after_lm_quality")

    # classifier quality band (X110, operators/quality.py): the
    # GPT-3-style filter — drop documents whose frozen-classifier
    # margin falls below the cut.  Row-local like the LM band (the
    # margin is a token-lookup fold, zero Exchange), so it runs before
    # anything that broadcasts or shuffles; scoring sees RAW text.
    # Docs with no tokens to score (NULL margin) are dropped — no
    # evidence either way, same posture as the LM band's NULL drop.
    if quality_model is not None:
        from .operators.quality import quality_margin

        qw, qb = quality_model
        m = quality_margin(F.col("text"), list(qw), qb)
        df = tap(df.filter(m.isNotNull()
                           & (m >= float(min_quality_margin))),
                 "after_quality_classifier")

    # DSIR importance-weight band (X114, operators/dsir.py): drop docs
    # whose target-vs-raw log importance weight falls below the cut —
    # row-local like the LM/classifier bands (a bigram-lookup fold,
    # zero Exchange), scoring RAW text.  Docs too short to score (NULL
    # weight, < 2 tokens) drop — no feature evidence, same posture as
    # the other bands.
    if dsir_table is not None:
        from .operators.dsir import dsir_logweight

        dw = dsir_logweight(F.col("text"), list(dsir_table))
        df = tap(df.filter(dw.isNotNull()
                           & (dw >= float(min_dsir_logweight))),
                 "after_dsir")

    # ONE materialization of the row-local prefix (ingest, exact-dedup
    # shuffle, repetition and quality folds): every downstream action —
    # the decontamination report, the census ingest, the near-dup
    # featurization's two branches and the final write — reads it instead
    # of re-running the prefix.  The taps above fire in this job with
    # full counts; the taps below fire in the jobs that read it.
    df = df.localCheckpoint(eager=True)

    # eval-set decontamination BEFORE PII redaction: a leaked eval span
    # containing an email/IP must be matched against the eval set's RAW
    # n-grams — redacting first rewrites the corpus side of exactly those
    # grams and lets the leak through.  The eval n-gram set broadcasts, the
    # corpus stays a narrow pipeline, and contaminated docs never reach
    # the Arrow featurization.
    if eval_docs is not None:
        df = tap(decontaminate(df, eval_docs, min_matched=min_matched),
                 "after_decontamination")

    # line-level boilerplate removal (X109, operators/boilerplate.py):
    # fold THIS batch into the persisted cross-batch hot-line census,
    # then strip every line hot in the UPDATED census — chrome repeated
    # across history strips from the very batch that tips it over
    # min_docs.  Runs on RAW text (after decontamination, which must see
    # raw grams; before passage dedup and redaction, which rewrite
    # text).  The ingest is one extra pass that reads the materialized
    # prefix — the same cost class as the dedup internals — and commits
    # via the census's staged swap: pass ``boilerplate_batch_id`` when
    # replays are possible (the streaming twin threads the micro-batch
    # id through) so a replayed batch never double-counts.  Docs whose
    # every line was boilerplate drop here (the RefinedWeb posture),
    # which is what makes `after_boilerplate` a real funnel count.
    if boilerplate_census_dir is not None:
        from .operators.boilerplate import (ingest_line_census,
                                            remove_boilerplate_lines_served)

        census = ingest_line_census(df, boilerplate_census_dir,
                                    batch_id=boilerplate_batch_id)
        stripped = remove_boilerplate_lines_served(
            df, census, min_docs=boilerplate_min_docs)
        df = tap(stripped.filter(F.col("text") != ""),
                 "after_boilerplate")
        if "n_chars" in df.columns:
            df = df.withColumn("n_chars", F.length("text").cast("long"))

    # passage-level dedup (operators/dedup.passage_dedup): rewrite each doc
    # to its surviving passages, drop docs whose every passage repeats.
    # Runs on RAW text (after decontamination, which must also see raw
    # grams; before redaction, which rewrites text).  Scope is THIS batch:
    # cross-batch passage dedup would need a passage-hash index — the same
    # pattern as the doc-level incremental index, not built here.
    if dedup_passages:
        from .operators.dedup import PASSAGE_TOKENS, passage_dedup

        pd_out = passage_dedup(df, width=passage_width or PASSAGE_TOKENS)
        rewritten = (pd_out.filter(F.col("n_kept") > 0)
                     .select("doc_id", F.col("clean_text").alias("text")))
        carried = df.drop("text")
        df = tap(carried.join(rewritten, "doc_id"), "after_passage_dedup")
        if "n_chars" in df.columns:   # keep the length stat honest
            df = df.withColumn("n_chars", F.length("text").cast("long"))

    df = df.withColumn(
        "text", F.regexp_replace(
            F.regexp_replace(F.col("text"), EMAIL_RE, "<EMAIL>"),
            IPV4_RE, "<IP>"))

    if rates is not None:
        df = tap(source_weighted_sample(df, rates), "after_sampling")

    # near-dup last: everything already dropped never reaches the Arrow
    # featurization or the index
    def finalize(accepted: DataFrame) -> DataFrame:
        return accepted.withColumn("split", split_column(F.col("doc_id")))

    def inner_sink(kept: DataFrame) -> None:
        final = finalize(kept)
        # two sinks over the same accepted set = two executions of the
        # funnel after the materialized prefix; persist for the sink's
        # duration so that tail is paid once (r7 self-review finding)
        both = shard_spec is not None and sink is not None
        if both:
            final = final.persist()
        try:
            if shard_spec is not None:
                from .operators.shards import write_training_shards

                write_training_shards(final, shards_dir, shard_spec,
                                      partition_literals=shard_literals)
            if sink is not None:
                sink(final)
        finally:
            if both:
                final.unpersist()

    if shard_spec is None and sink is None:
        inner_sink = None
    df = tap(incremental_minhash_dedup(df, index_dir, threshold,
                                       max_bucket=max_bucket,
                                       sink=inner_sink), "accepted")

    return finalize(df), obs
