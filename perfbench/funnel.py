"""The corpus funnel of the ``workflows`` workload: ``pipeline.clean_corpus``
against one persisted fingerprint index.

Batch 0 is the generated corpus (minus the ``doc_id % 97 = 0`` eval slice)
into an empty index.  Batch 1 re-ingests against the index batch 0
persisted: verbatim re-sends of batch-0 documents under new ids,
which must all drop, plus token-shuffled batch-0 documents (the
tools/make_scale.py scheme), which are new text.  Both batches run the
tools/funnel_scale.py composition: eval-slice decontamination at
``min_matched=50``, the frozen quality band and the boilerplate census.
Batch 1 runs in traced runs only: its ~12 s do not fit the untraced run
budget next to batch 0 and the dbt build.

The expected stage counts are derived here from the generated inputs, not
from the engine: exact dedup keeps one document per text; the generator
makes no repetitive, low-quality or multi-line documents, so those bands
keep everything; decontamination drops documents sharing at least 50
distinct token trigrams with the eval slice; near-dup dedup keeps one
document per base text (the text with its trailing ``dup`` tokens removed)
that is not already in the index.
"""

from __future__ import annotations

import os
import random
import shutil
import time

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

import datagen
import measure

RESENT = 100        # batch-1 verbatim re-sends
SHUFFLED = 100      # batch-1 token-shuffled documents
ID_OFFSET = 1_000_000_000
MIN_MATCHED = 50
STAGES = ("ingested", "after_exact_dedup", "after_repetition",
          "after_quality_classifier", "after_decontamination",
          "after_boilerplate", "accepted")


def make_batch1(run) -> dict:
    """Write ``batch1.parquet`` next to the generated corpus and keep the
    inputs the expected counts are derived from."""
    docs = pq.read_table(os.path.join(run.data, "documents.parquet"))
    ids = docs.column("doc_id").to_pylist()
    texts = docs.column("text").to_pylist()
    corpus = [(i, t) for i, t in zip(ids, texts) if i % 97]
    pick = random.Random(run.seed)
    distinct = list({t: i for i, t in reversed(corpus)}.items())
    resent = pick.sample(distinct, RESENT)
    plain = [(t, i) for t, i in distinct if "dup" not in t.split(" ")]
    shuffled = []
    for text, i in pick.sample(plain, SHUFFLED):
        toks = text.split(" ")
        random.Random(f"1:{i}").shuffle(toks)
        shuffled.append(" ".join(toks))
    b1_texts = [t for t, _ in resent] + shuffled
    b1 = {
        "doc_id": pa.array(np.arange(len(b1_texts), dtype=np.int64)
                           + ID_OFFSET),
        "text": pa.array(b1_texts, pa.string()),
        "lang": pa.array(pick.choices(datagen.LANGS, k=len(b1_texts))),
        "source": pa.array([f"src{k % 20}" for k in range(len(b1_texts))]),
        "n_chars": pa.array([len(t) for t in b1_texts], pa.int64()),
    }
    pq.write_table(pa.table(b1), os.path.join(run.data, "batch1.parquet"))
    run.inputs.update(
        corpus=dict(corpus),
        batch1=dict(zip(b1["doc_id"].to_pylist(), b1_texts)),
        eval=[t for i, t in zip(ids, texts) if i % 97 == 0],
        resent_ids=set(range(ID_OFFSET, ID_OFFSET + RESENT)))
    return {"batch0": len(corpus), "batch1": len(b1_texts)}


def _trigrams(text: str) -> set:
    t = text.split(" ")
    return set(zip(t, t[1:], t[2:]))


def _base(text: str) -> str:
    while text.endswith(" dup"):
        text = text[:-4]
    return text


def expected(docs: dict[int, str], eval_texts: list[str],
             indexed: set[str]) -> tuple[dict[str, int], set[str]]:
    """Stage counts for one batch and the base texts it adds to the index."""
    first: dict[str, int] = {}
    for i in sorted(docs):
        first.setdefault(docs[i], i)
    grams = set().union(*map(_trigrams, eval_texts)) if eval_texts else set()
    clean = [t for t in first if len(_trigrams(t) & grams) < MIN_MATCHED]
    new = {_base(t) for t in clean} - indexed
    n = len(first)
    counts = (len(docs), n, n, n, len(clean), len(clean), len(new))
    return dict(zip(STAGES, counts)), new


def _clean(run, docs, eval_docs, index_dir: str, batch: int, out: str):
    from dbt_demo_spark.operators.quality_frozen import (
        FROZEN_QUALITY_BIAS, FROZEN_QUALITY_WEIGHTS)
    from dbt_demo_spark.pipeline import clean_corpus

    t0 = time.perf_counter()
    with run.span("pipeline.clean_corpus", key=f"batch{batch}"):
        clean, obs = clean_corpus(
            docs, index_dir, eval_docs=eval_docs, min_matched=MIN_MATCHED,
            quality_model=(list(FROZEN_QUALITY_WEIGHTS), FROZEN_QUALITY_BIAS),
            min_quality_margin=0.0,
            boilerplate_census_dir=os.path.join(run.work, "line_census"),
            boilerplate_batch_id=batch)
        clean.write.mode("overwrite").parquet(out)
    wall = time.perf_counter() - t0
    return wall, {name: int(o.get["rows"]) for name, o in obs.items()}


def _check(run, batch: int, got: dict, want: dict, out_ids: set) -> None:
    run.attempted += 1
    if got != want:
        run.fail(f"batch{batch} funnel counts {got} != expected {want}")
    if len(out_ids) != got.get("accepted", -1):
        run.fail(f"batch{batch} wrote {len(out_ids)} rows, "
                 f"funnel says {got.get('accepted')}")


def run(run) -> dict:
    """Batch 0 (and batch 1 when traced); returns batch 0's wall and
    ingested document count."""
    from dbt_demo_spark.queries.text_filters import (DECONTAM_CORPUS_PRED,
                                                     DECONTAM_EVAL_PRED)
    from dbt_demo_spark.sources.parquet import load_table

    spark = run.spark
    t0 = time.perf_counter()
    with run.span("sources.load_table"):
        docs = load_table(spark, run.data, "documents")
        batch1 = load_table(spark, run.data, "batch1")
    run.layer["sources.load_table_s"] = time.perf_counter() - t0
    corpus = docs.filter(DECONTAM_CORPUS_PRED)
    eval_docs = docs.filter(DECONTAM_EVAL_PRED)
    index = os.path.join(run.work, "fp_index")

    profile = None
    if run.trace:
        profile = measure.PlanProfile(spark)
        profile.mark()
    want0, indexed = expected(run.inputs["corpus"], run.inputs["eval"], set())
    want1, _ = expected(run.inputs["batch1"], run.inputs["eval"], indexed)
    walls, counts = [], []
    batches = ((0, corpus, want0), (1, batch1, want1))
    for batch, df, want in batches[:2 if run.trace else 1]:
        out = os.path.join(run.work, f"clean{batch}")
        wall, got = _clean(run, df, eval_docs, index, batch, out)
        walls.append(wall)
        counts.append(got)
        ids = set(pq.read_table(out, columns=["doc_id"])
                  .column("doc_id").to_pylist())
        _check(run, batch, got, want, ids)
        if batch == 1 and ids & run.inputs["resent_ids"]:
            run.fail(f"{len(ids & run.inputs['resent_ids'])} re-sent "
                     "documents were accepted")
    if profile is not None:
        measure.accumulate(run.layer, profile.collect())

    run.detail.update(batch_s=walls, funnel=counts, expected=[want0, want1])
    for batch, wall in enumerate(walls):
        run.layer[f"pipeline.batch{batch}_s"] = wall
    run.layer["pipeline.accept_ratio"] = \
        counts[0]["accepted"] / counts[0]["ingested"]
    for stage in STAGES:
        run.layer[f"pipeline.rows.{stage}"] = counts[0][stage]
    if run.trace:
        _stages(run, corpus, eval_docs, batch1, index)
    return {"cold_s": walls[0], "docs": counts[0]["ingested"]}


def _stages(run, corpus, eval_docs, batch1, index: str) -> None:
    """Each funnel operator alone on the batch-0 input (the incremental
    dedup on the re-ingest batch against a copy of the persisted index)."""
    import pyspark.sql.functions as F

    from dbt_demo_spark.operators.boilerplate import ingest_line_census
    from dbt_demo_spark.operators.decontaminate import decontaminate
    from dbt_demo_spark.operators.dedup import (exact_dedup_keep_first,
                                                incremental_minhash_dedup)
    from dbt_demo_spark.operators.quality import quality_margin
    from dbt_demo_spark.operators.quality_frozen import (
        FROZEN_QUALITY_BIAS, FROZEN_QUALITY_WEIGHTS)
    from dbt_demo_spark.queries.text_filters import repetition_filter

    def noop(df) -> None:
        df.write.format("noop").mode("overwrite").save()

    index_copy = os.path.join(run.work, "fp_index_copy")
    shutil.copytree(index, index_copy)
    margin = quality_margin(F.col("text"), list(FROZEN_QUALITY_WEIGHTS),
                            FROZEN_QUALITY_BIAS)
    stages = {
        "exact_dedup_keep_first": lambda: noop(exact_dedup_keep_first(corpus)),
        "repetition_filter": lambda: noop(repetition_filter(corpus, 0.3, 0.2)),
        "quality_margin": lambda: noop(corpus.filter(margin >= 0.0)),
        "decontaminate": lambda: noop(decontaminate(
            corpus, eval_docs, min_matched=MIN_MATCHED)),
        "ingest_line_census": lambda: ingest_line_census(
            corpus, os.path.join(run.work, "census_copy"), batch_id=0),
        "incremental_minhash_dedup": lambda: noop(incremental_minhash_dedup(
            batch1, index_copy, 0.5, max_bucket=64)),
    }
    for name, fn in stages.items():
        t0 = time.perf_counter()
        with run.span(f"operators.{name}"):
            fn()
        run.layer[f"operators.{name}_s"] = time.perf_counter() - t0
