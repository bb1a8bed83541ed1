"""Behavioral unit tests for the LLM-pipeline operators — properties the
oracle differentials can't express (planted near-dup recovery, Hamming
locality, Pandas-UDF batch plumbing, streaming-vs-batch equivalence)."""

from __future__ import annotations

import os

import pyspark.sql.functions as F
import pytest

from dbt_demo_spark.operators import dedup, multimodal, similarity
from dbt_demo_spark.sources.parquet import load_table
from tests.conftest import SF_SMOKE


@pytest.fixture(scope="module")
def docs(spark):
    return load_table(spark, SF_SMOKE, "documents")


def test_minhash_finds_planted_near_dups(spark, docs):
    """The generator plants near-identical doc pairs (e.g. 8/12 share a long
    prefix); MinHash-LSH must recover them."""
    pairs = {(r.d1, r.d2) for r in dedup.minhash_near_dups(docs, 0.5).collect()}
    assert (8, 12) in pairs
    # and every reported pair really is >= 0.5 exact jaccard (verify step)
    assert all(r.jaccard >= 0.5 for r in
               dedup.minhash_near_dups(docs, 0.5).collect())


def test_simhash_near_dups_have_close_fingerprints(spark, docs):
    fp = {r.doc_id: r.simhash for r in dedup.simhash(docs).collect()}
    near = bin(fp[8] ^ fp[12]).count("1")
    # hamming distance of a planted near-dup pair is far below random (~8)
    assert near <= 3


def test_arrow_shingle_features_integer_identical_to_jvm(spark, docs):
    """The numpy shingle/minhash/band pipeline must produce the exact same
    integers as the JVM expression pipeline — same kept docs, same band
    keys, same distinct shingle sets (order-insensitive: JVM keeps
    first-occurrence order, numpy sorts)."""
    from dbt_demo_spark.operators import shingle_arrow

    jvm_bands = {}
    for r in dedup.band_rows(dedup.doc_shingles(docs)).collect():
        jvm_bands.setdefault(r.doc_id, {})[r.band_id] = r.band_key
    jvm_sets = {r.doc_id: sorted(set(r.sh))
                for r in dedup.doc_shingles(docs).collect()}

    feats = shingle_arrow.shingle_features(docs).collect()
    arrow_bands = {r.doc_id: dict(enumerate(r.bks)) for r in feats}
    arrow_sets = {r.doc_id: list(r.ss) for r in feats}

    assert jvm_bands == arrow_bands
    assert jvm_sets == arrow_sets
    assert all(r.n == len(r.ss) for r in feats)


def test_arrow_shingle_features_unicode_identical_to_jvm(spark):
    """Non-ASCII corpora must not crash the Arrow path (ADVICE r2: the S-dtype
    matrix raised UnicodeEncodeError) and must hash codepoint-identically to
    the JVM ascii() semantics — accented Latin, CJK, Cyrillic, emoji."""
    from dbt_demo_spark.operators import shingle_arrow

    rows = [
        (1, "café au lait était très bon aujourd'hui à paris"),
        (2, "café au lait était très bon aujourd'hui à lyon"),
        (3, "日本語 の 文書 は 三つ の 単語 が 必要"),
        (4, "привет мир это тест русского текста здесь"),
        (5, "mixed ascii and émojis 🚀 rocket ship launch"),
        (6, "plain ascii control row stays byte identical forever"),
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string")

    jvm_bands = {}
    for r in dedup.band_rows(dedup.doc_shingles(docs)).collect():
        jvm_bands.setdefault(r.doc_id, {})[r.band_id] = r.band_key
    jvm_sets = {r.doc_id: sorted(set(r.sh))
                for r in dedup.doc_shingles(docs).collect()}

    feats = shingle_arrow.shingle_features(docs).collect()
    assert {r.doc_id: dict(enumerate(r.bks)) for r in feats} == jvm_bands
    assert {r.doc_id: list(r.ss) for r in feats} == jvm_sets


def test_lsh_bucket_guard_bounds_degenerate_candidates(spark, docs):
    """A planted degenerate cluster (100 identical docs) explodes the
    unguarded candidate count quadratically; max_bucket drops its buckets
    while an ordinary planted near-dup pair (8, 12) survives via its own
    small buckets."""
    base = docs.select("doc_id", "text")
    clones = (spark.range(100).select(
        (F.col("id") + 1_000_000).alias("doc_id"),
        F.lit("the same boilerplate text repeated in every shard of the corpus"
              ).alias("text")))
    corpus = base.unionByName(clones)

    shingled = dedup.doc_shingles(corpus)
    bands = dedup.band_rows(shingled)
    unguarded = dedup.lsh_candidates(bands).count()
    guarded = dedup.lsh_candidates(bands, max_bucket=16).count()
    # the clone cluster alone contributes C(100,2) = 4950 pairs
    assert unguarded >= 4950
    assert guarded <= unguarded - 4950
    guarded_pairs = {(r.d1, r.d2) for r in
                     dedup.minhash_near_dups(corpus, 0.5, max_bucket=16).collect()}
    assert (8, 12) in guarded_pairs
    assert not any(d1 >= 1_000_000 and d2 >= 1_000_000
                   for d1, d2 in guarded_pairs)


def test_ngram_hot_shingle_guard(spark, docs):
    """With a hot-shingle cutoff, boilerplate-only overlap stops matching
    (scores become conservative lower bounds) while the planted near-dup
    pair keeps its exact Jaccard — its shingles are not hot."""
    q = docs.filter(F.col("doc_id").isin(8, 12))
    exact = {(r.qid, r.cid): r.jaccard for r in
             dedup.ngram_jaccard_pairs(q, docs, 0.5).collect()}
    guarded = {(r.qid, r.cid): r.jaccard for r in
               dedup.ngram_jaccard_pairs(q, docs, 0.5, max_doc_freq=50).collect()}
    assert (8, 12) in guarded
    assert guarded[(8, 12)] == exact[(8, 12)]
    # guard can only remove or lower, never add or raise
    assert set(guarded) <= set(exact)
    assert all(guarded[k] <= exact[k] for k in guarded)


def test_xxhash_production_variants(spark, docs):
    """The pluggable production hash (xxhash64): same operator shapes, same
    planted-pair recovery, deterministic output — pytest-only (DuckDB has no
    xxhash64 twin, so no oracle)."""
    from dbt_demo_spark.functions.text import token_hashes_xxhash

    pairs = {(r.d1, r.d2) for r in dedup.minhash_near_dups(
        docs, 0.5, token_hash=token_hashes_xxhash).collect()}
    assert (8, 12) in pairs

    fp = {r.doc_id: r.simhash for r in
          dedup.simhash(docs, token_hash=token_hashes_xxhash).collect()}
    again = {r.doc_id: r.simhash for r in
             dedup.simhash(docs, token_hash=token_hashes_xxhash).collect()}
    assert fp == again
    assert bin(fp[8] ^ fp[12]).count("1") <= 3


def test_exact_dedup_keep_first_on_synthetic_dups(spark):
    df = spark.createDataFrame(
        [(1, "same text"), (2, "same text"), (3, "other")], "doc_id long, text string")
    out = {r.text: r for r in dedup.exact_dedup_keep_first(df).collect()}
    assert out["same text"].keep_id == 1 and out["same text"].n_copies == 2
    assert out["other"].n_copies == 1


def test_brute_force_topk_is_exact_and_ranked(spark):
    emb = load_table(spark, SF_SMOKE, "embeddings")
    out = similarity.brute_force_topk(emb.filter("vec_id = 0"), emb, k=3).collect()
    assert [r.rank for r in out] == [1, 2, 3]
    assert out[0].score >= out[1].score >= out[2].score
    assert all(r.neighbor_id != 0 for r in out)


def test_brute_force_arrow_bit_identical_to_jvm_fold(spark):
    """The Arrow-scored brute force must reproduce the JVM zip_with/
    aggregate path EXACTLY — same (query, neighbor, rank) rows, scores
    equal bit-for-bit — across a multi-query sample, so swapping it into
    the catalog cannot move the oracle hash."""
    emb = load_table(spark, SF_SMOKE, "embeddings")
    q = emb.filter("vec_id % 50 = 0")
    jvm = {(r.query_id, r.neighbor_id, r.rank): r.score
           for r in similarity.brute_force_topk(q, emb, k=5).collect()}
    arrow = {(r.query_id, r.neighbor_id, r.rank): r.score
             for r in similarity.brute_force_topk_arrow(q, emb, k=5).collect()}
    assert set(jvm) == set(arrow)
    assert all(jvm[key] == arrow[key] for key in jvm)  # bit equality


def test_lsh_topk_subset_of_bruteforce_scores(spark):
    """LSH candidates are a subset of the corpus, so each LSH score must
    equal the brute-force score for that same pair (bit-exact pruning, no
    approximation in the scoring itself)."""
    emb = load_table(spark, SF_SMOKE, "embeddings")
    q = emb.filter("vec_id % 100 = 0")
    bf = {(r.query_id, r.neighbor_id): r.score
          for r in similarity.brute_force_topk(q, emb, k=50).collect()}
    lsh = similarity.lsh_topk(q, emb, k=5).collect()
    hits = [p for p in lsh if (p.query_id, p.neighbor_id) in bf]
    assert hits, "LSH should overlap brute-force top-50"
    assert all(bf[(p.query_id, p.neighbor_id)] == p.score for p in hits)


def test_lsh_indexed_serving_equals_inline(spark, tmp_path):
    """build_lsh_index + lsh_topk_indexed (bucket-on-write, the 100 TB
    serving shape — the LSH twin of the IVF/PQ persisted indexes) returns
    row-identical results to the inline lsh_topk, and the serving plan
    carries no mapInPandas over the corpus side (only the small query
    side bucketizes at query time)."""
    emb = load_table(spark, SF_SMOKE, "embeddings")
    q = emb.filter("vec_id % 100 = 0")
    idx = similarity.build_lsh_index(emb, str(tmp_path / "lsh"))
    served = similarity.lsh_topk_indexed(q, idx, k=5)
    inline = similarity.lsh_topk(q, emb, k=5)
    assert sorted(map(tuple, served.collect()), key=lambda t: t[:2]) == \
        sorted(map(tuple, inline.collect()), key=lambda t: t[:2])
    plan = (served._jdf.queryExecution().executedPlan().toString()
            .split("== Initial Plan ==")[0])
    assert plan.count("MapInArrow") == 1  # query side only


def test_embedding_near_dups_indexed_equals_inline(spark, tmp_path):
    """Indexed near-dup serve (r15, VERDICT r14 item 1): candidate pairs
    from the persisted bucket index with an id-only join, vectors gathered
    from the task-resident matrix in the verify pass — rows (including
    cosine doubles) BIT-identical to the inline Arrow-bucketize + JVM-fold
    form, and the plan never carries the vector payload through the pair
    join (no cv attribute, no shuffle exchange, exactly one MapInArrow:
    the verify)."""
    emb = load_table(spark, SF_SMOKE, "embeddings")
    idx = similarity.build_lsh_index(emb, str(tmp_path / "lsh"))
    served = similarity.embedding_near_dups_indexed(idx, threshold=0.3)
    inline = similarity.embedding_near_dups(emb, threshold=0.3)
    got = sorted(map(tuple, served.collect()))
    want = sorted(map(tuple, inline.collect()))
    assert got and got == want          # bit-identical, non-trivial
    plan = (served._jdf.queryExecution().executedPlan().toString()
            .split("== Initial Plan ==")[0])
    assert plan.count("MapInArrow") == 1        # the verify pass only
    assert "MapInPandas" not in plan            # no pandas wrapper cost
    assert "cv#" not in plan                    # payload never rides pairs
    assert "Exchange hashpartitioning" not in plan   # zero-shuffle serve
    assert "Exchange rangepartitioning" not in plan
    assert "BroadcastHashJoin" in plan          # deliberate join strategy


def test_multiprobe_expands_single_probe_candidates(spark):
    """Multi-probe (Hamming-1) candidate pairs are a strict superset of the
    same-bucket pairs, and still a small fraction of the full cross
    product; scores stay bit-exact (checked by
    test_lsh_topk_subset_of_bruteforce_scores)."""
    from dbt_demo_spark.functions.vectors import N_PLANES, probe_buckets

    emb = load_table(spark, SF_SMOKE, "embeddings")
    n = emb.count()
    q = similarity.bucketed_vectors(emb.filter("vec_id % 100 = 0")) \
        .withColumnsRenamed({"vid": "qid", "vec": "qv"})
    c = similarity.bucketed_vectors(emb).withColumnsRenamed(
        {"vid": "cid", "vec": "cv"})
    nq = q.count()

    single = {(r.qid, r.cid) for r in q.join(c, "bucket")
              .filter("qid != cid").select("qid", "cid").collect()}
    probes = q.select("qid", F.explode(probe_buckets(F.col("bucket"))).alias("bucket"))
    multi = {(r.qid, r.cid) for r in probes.join(c, "bucket")
             .filter("qid != cid").select("qid", "cid").collect()}

    assert single <= multi
    assert len(multi) > len(single)
    # pruning: candidates are a small fraction of the |Q| x |C| cross product
    assert len(multi) < 0.25 * nq * n


def test_ivf_topk_scores_exact_and_recall(spark):
    """IVF: returned scores must equal brute-force scores bit-for-bit (the
    approximation is candidate pruning, never the arithmetic); top-1 recall
    on the probed clusters should beat random assignment."""
    from dbt_demo_spark.operators import ivf

    emb = load_table(spark, SF_SMOKE, "embeddings").select("vec_id", "embedding")
    q = emb.filter("vec_id % 100 = 0")
    bf = {(r.query_id, r.neighbor_id): r.score
          for r in similarity.brute_force_topk(q, emb, k=50).collect()}
    out = ivf.ivf_topk(q, emb, k=5, n_clusters=8, nprobe=2).collect()
    assert out, "IVF returned nothing"
    hits = [r for r in out if (r.query_id, r.neighbor_id) in bf]
    assert hits
    assert all(bf[(r.query_id, r.neighbor_id)] == r.score for r in hits)
    pairs = [(r.query_id, r.neighbor_id) for r in out]
    assert len(pairs) == len(set(pairs))  # probe-collisions deduped


def test_ivf_persisted_index_matches_inline_and_prunes(spark, tmp_path):
    """The persisted-index path (train once, corpus written partitioned by
    cluster_id, probes read via dynamic partition pruning) must return
    exactly the in-line path's top-k given the same quantizer, and its
    corpus scan must carry a dynamicpruning PartitionFilter on cluster_id
    (VERDICT r2 item 4: indexes are materializations)."""
    from dbt_demo_spark.operators import ivf

    emb = load_table(spark, SF_SMOKE, "embeddings").select("vec_id", "embedding")
    q = emb.filter("vec_id % 100 = 0")
    model = ivf.train_quantizer(emb, k=8, seed=7)
    idx = ivf.build_index(emb, str(tmp_path / "ivf"), n_clusters=8, model=model)
    inline = {(r.query_id, r.neighbor_id): (r.rank, r.score)
              for r in ivf.ivf_topk(q, emb, k=5, n_clusters=8, nprobe=2,
                                    model=model).collect()}
    out_df = ivf.ivf_topk_indexed(q, idx, k=5, nprobe=2)
    indexed = {(r.query_id, r.neighbor_id): (r.rank, r.score)
               for r in out_df.collect()}
    assert indexed == inline

    plan = out_df._jdf.queryExecution().executedPlan().toString()
    assert "dynamicpruning" in plan, "probe join must drive partition pruning"
    assert "PartitionFilters" in plan

    # the index round-trips through load_index
    reloaded = ivf.load_index(spark, str(tmp_path / "ivf"))
    assert reloaded.centroids == idx.centroids


def test_embedding_near_dups_recovers_planted_duplicates(spark):
    """Planted exact-duplicate and scaled-duplicate embeddings (cosine 1.0)
    must be recovered through the multi-probe LSH self-join; unrelated
    near-random vectors must not pair at a high threshold."""
    emb = load_table(spark, SF_SMOKE, "embeddings").select("vec_id", "embedding")
    dup = (emb.filter("vec_id = 3")
           .selectExpr("CAST(900001 AS BIGINT) AS vec_id", "embedding"))
    scaled = (emb.filter("vec_id = 3")
              .selectExpr("CAST(900002 AS BIGINT) AS vec_id",
                          "transform(embedding, x -> x * CAST(2.0 AS FLOAT)) AS embedding"))
    corpus = emb.unionByName(dup).unionByName(scaled)
    pairs = {(r.d1, r.d2): r.cosine for r in
             similarity.embedding_near_dups(corpus, threshold=0.99).collect()}
    # cosine of identical vectors is 1.0 up to sqrt rounding (last ulp)
    assert (3, 900001) in pairs and abs(pairs[(3, 900001)] - 1.0) < 1e-12
    assert (3, 900002) in pairs          # same direction, scaled -> cosine 1
    assert (900001, 900002) in pairs
    assert all(d1 in (3, 900001) or d2 in (900001, 900002)
               for d1, d2 in pairs), "no unrelated pair may reach 0.99"


def test_arrow_bucket_norm_bit_identical_to_jvm(spark):
    """The vectorized mapInPandas bucket+norm path must be BIT-identical to
    the JVM higher-order-function fold (same sequential-over-dimensions
    accumulation), or LSH candidate sets silently diverge from the oracle."""
    from dbt_demo_spark.functions.vectors import lsh_bucket

    emb = load_table(spark, SF_SMOKE, "embeddings")
    jvm = {r.vid: (r.norm, r.bucket) for r in
           similarity._with_norm(emb, "vec_id", "embedding", "vid", "vec", "norm")
           .withColumn("bucket", lsh_bucket(F.col("vec")))
           .select("vid", "norm", "bucket").collect()}
    arrow = {r.vid: (r.norm, r.bucket) for r in
             similarity._with_norm_bucket_arrow(
                 emb, "vec_id", "embedding", "vid", "vec", "norm", "bucket")
             .select("vid", "norm", "bucket").collect()}
    assert jvm == arrow  # exact float equality, not approx


def test_lsh_topk_has_no_duplicate_neighbors(spark):
    """Probe values are pairwise distinct, so no (query, neighbor) pair may
    be ranked twice."""
    emb = load_table(spark, SF_SMOKE, "embeddings")
    out = similarity.lsh_topk(emb.filter("vec_id % 100 = 0"), emb, k=5).collect()
    pairs = [(r.query_id, r.neighbor_id) for r in out]
    assert len(pairs) == len(set(pairs))


def test_multimodal_decode_batches(spark, docs):
    payloads = multimodal.to_payload_table(docs.limit(20))
    meta = multimodal.decode_metadata(payloads)
    rows = meta.collect()
    assert len(rows) == 20
    r = rows[0]
    assert r.modality == "text" and r.byte_len > 0
    assert len(r.sha256) == 64
    assert 16 <= r.width < 256 and 16 <= r.height < 256 and 1 <= r.n_frames <= 32
    # deterministic: same payload -> same fake decode
    again = multimodal.decode_metadata(payloads).collect()
    assert sorted(map(tuple, rows)) == sorted(map(tuple, again))


def test_multimodal_frame_sampling(spark, docs):
    """sample_frames fans each payload out to n evenly-spaced frames with
    deterministic offsets and bounded frame bytes."""
    payloads = multimodal.to_payload_table(docs.limit(10))
    frames = multimodal.sample_frames(payloads, n_frames=4, frame_len=16).collect()
    assert len(frames) == 40
    by_item = {}
    for r in frames:
        by_item.setdefault(r.item_id, []).append(r)
    for rows in by_item.values():
        assert sorted(r.frame_idx for r in rows) == [0, 1, 2, 3]
        offs = [r.frame_offset for r in sorted(rows, key=lambda r: r.frame_idx)]
        assert offs == sorted(offs) and offs[0] == 0
        assert all(0 < len(r.frame) <= 16 for r in rows)
    again = multimodal.sample_frames(payloads, n_frames=4, frame_len=16).collect()
    assert sorted(map(tuple, frames)) == sorted(map(tuple, again))


def test_multimodal_feature_extraction(spark, docs):
    """extract_features emits long-form numeric features per payload, with
    sane ranges (byte mean/std in [0,255], entropy in [0,4] for 16 bins)."""
    payloads = multimodal.to_payload_table(docs.limit(10))
    feats = multimodal.extract_features(payloads).collect()
    assert len(feats) == 30
    vals = {(r.item_id, r.feature): r.value for r in feats}
    for (item, feat), v in vals.items():
        if feat in ("mean", "std"):
            assert 0 <= v <= 255
        else:
            assert 0 <= v <= 4.0


def test_multimodal_strict_marks_codec_boundary(spark, docs):
    payloads = multimodal.to_payload_table(docs.limit(1))
    with pytest.raises(Exception, match="NotImplementedError|codec"):
        multimodal.decode_metadata(payloads, strict=True).collect()


def test_multimodal_injected_codec_end_to_end(spark, docs):
    """The decoder= seam (r5 item 5): a user-supplied codec callable flows
    through decode_metadata / sample_frames / extract_features without
    editing the operators, and its outputs are what lands in the tables.
    Codecs are defined locally so cloudpickle ships them BY VALUE — the
    same way a user-mounted decoder closure reaches the workers."""
    import numpy as np

    def _stub_meta_codec(payload: bytes) -> tuple[int, int, int]:
        # a "real" decoder stand-in: dimensions from the payload text
        text = payload.decode("utf-8", errors="replace")
        return len(text.split()), len(text), 1 + text.count("\n")

    def _stub_frame_codec(payload: bytes) -> list[bytes]:
        # "decode" the container into word-frames
        return [w.encode() for w in payload.decode("utf-8").split()] or [b""]

    payloads = multimodal.to_payload_table(docs.limit(8))
    raw = {r.item_id: bytes(r.payload) for r in payloads.collect()}

    meta = {r.item_id: r for r in multimodal.decode_metadata(
        payloads, decoder=_stub_meta_codec).collect()}
    assert len(meta) == 8
    for item, r in meta.items():
        w, h, n = _stub_meta_codec(raw[item])
        assert (r.width, r.height, r.n_frames) == (w, h, n)
        # strict=True must NOT raise when a decoder is mounted
    assert multimodal.decode_metadata(
        payloads, strict=True, decoder=_stub_meta_codec).count() == 8

    frames = multimodal.sample_frames(
        payloads, n_frames=3, decoder=_stub_frame_codec).collect()
    assert len(frames) == 24
    for r in frames:
        decoded = _stub_frame_codec(raw[r.item_id])
        # frame_offset indexes the DECODED stream; bytes come from it
        assert bytes(r.frame) == decoded[r.frame_offset]

    def pcm(payload: bytes):
        return np.frombuffer(payload, dtype=np.uint8)[::2]  # "downsample"

    feats = {(r.item_id, r.feature): r.value
             for r in multimodal.extract_features(
                 payloads, decoder=pcm).collect()}
    item = next(iter(raw))
    assert feats[(item, "mean")] == pytest.approx(float(pcm(raw[item]).mean()))


def test_multimodal_payload_stats_match_decode(spark, docs):
    payloads = multimodal.to_payload_table(docs.limit(10))
    jvm = {r.item_id: r for r in multimodal.payload_stats(payloads).collect()}
    py = {r.item_id: r for r in multimodal.decode_metadata(payloads).collect()}
    for k in jvm:
        assert jvm[k].sha256 == py[k].sha256
        assert jvm[k].byte_len == py[k].byte_len


def test_streaming_session_rollup_matches_batch(spark, tmp_path):
    """session_window sessionization: the incremental streaming plan
    (watermark, availableNow backlog replay) must produce exactly the batch
    plan's sessions — merge logic, boundaries, aggregates."""
    from dbt_demo_spark.sources.events import load_events
    from dbt_demo_spark.streaming import read_event_stream, session_rollup

    events_dir = tmp_path / "events_landing"
    events_dir.mkdir()
    (events_dir / "events.parquet").symlink_to(f"{SF_SMOKE}/events.parquet")

    stream = session_rollup(read_event_stream(spark, str(events_dir)))
    q = (stream.writeStream.format("memory").queryName("sessions")
         .outputMode("complete")
         .option("checkpointLocation", str(tmp_path / "ckpt_sess"))
         .trigger(availableNow=True).start())
    q.awaitTermination(120)
    got = {(r.user_id, r.session_start, r.session_end):
           (r.n_events, round(r.total_value, 2))
           for r in spark.sql("SELECT * FROM sessions").collect()}

    ev = load_events(spark, SF_SMOKE).withColumn(
        "ts", F.col("ts").cast("timestamp"))  # session_window wants LTZ
    want = {(r.user_id, r.session_start, r.session_end):
            (r.n_events, round(r.total_value, 2))
            for r in session_rollup(ev, watermark=None).collect()}
    assert got == want
    assert len(want) > 100  # real sessionization, not one blob


def test_streaming_first_seen_dedup_matches_batch(spark, tmp_path):
    """applyInPandasWithState keyed first-seen dedup: the streamed result
    (state across micro-batches, update mode) must equal the batch
    first-event-per-key answer."""
    import pyspark.sql.functions as F

    from dbt_demo_spark.sources.events import load_events
    from dbt_demo_spark.streaming import read_event_stream, streaming_first_seen

    events_dir = tmp_path / "events_landing"
    events_dir.mkdir()
    (events_dir / "events.parquet").symlink_to(f"{SF_SMOKE}/events.parquet")

    stream = streaming_first_seen(read_event_stream(spark, str(events_dir)))
    q = (stream.writeStream.format("memory").queryName("first_seen")
         .outputMode("update")
         .option("checkpointLocation", str(tmp_path / "ckpt_fs"))
         .trigger(availableNow=True).start())
    q.awaitTermination(120)
    # update mode can emit a key several times as counts grow; the final
    # emission per key carries the final counter
    got = {}
    for r in spark.sql("SELECT * FROM first_seen").collect():
        k = (r.user_id, r.event_type)
        if k not in got or r.n_dupes_suppressed > got[k][1]:
            got[k] = (r.first_event_id, r.n_dupes_suppressed)

    ev = load_events(spark, SF_SMOKE).withColumn("ts", F.col("ts").cast("timestamp"))
    w = __import__("pyspark.sql.window", fromlist=["Window"]).Window \
        .partitionBy("user_id", "event_type").orderBy("ts", "event_id")
    first = (ev.withColumn("_rn", F.row_number().over(w)))
    want = {(r.user_id, r.event_type): (r.event_id, r.n - 1) for r in
            first.groupBy("user_id", "event_type")
            .agg(F.min(F.struct("ts", "event_id")).alias("f"),
                 F.count(F.lit(1)).alias("n"))
            .select("user_id", "event_type", F.col("f.event_id").alias("event_id"), "n")
            .collect()}
    assert got == want


def _write_event_file(path, rows, mtime):
    """One micro-batch worth of events as a parquet file matching
    EVENTS_RAW_SCHEMA (ts = int64 epoch-NANOS, like the driver's events
    table); mtime ordering fixes the file-source batch order."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    event_ids, minutes, user_ids, event_types = zip(*rows)
    base_ns = 1_672_531_200_000_000_000  # 2023-01-01T00:00:00Z
    tbl = pa.table({
        "event_id": pa.array(event_ids, pa.int64()),
        "ts": pa.array([base_ns + m * 60_000_000_000 for m in minutes],
                       pa.int64()),
        "user_id": pa.array(user_ids, pa.int64()),
        "event_type": pa.array(event_types, pa.string()),
        "value": pa.array([1.0] * len(rows), pa.float64()),
        "props": pa.array(["{}"] * len(rows), pa.string()),
    })
    pq.write_table(tbl, str(path))
    os.utime(path, (mtime, mtime))


def test_streaming_first_seen_ttl_expires_and_readmits(spark, tmp_path):
    """Event-time TTL (15 min) on the first-seen state: after the watermark
    (10 min) passes a silent key's last event + TTL, its state is removed —
    so the key's NEXT event re-emits as a fresh first with a new
    first_event_id, while duplicates inside the TTL stay suppressed."""
    from dbt_demo_spark.streaming import (read_event_stream,
                                          streaming_first_seen_ttl)

    d = tmp_path / "landing"
    d.mkdir()
    now = 1_700_000_000
    # batch 1: key A first seen at t=0 (+ an in-batch duplicate at t=1)
    _write_event_file(d / "b1.parquet",
                      [(1, 0, 1, "click"), (2, 1, 1, "click")], now)
    # batch 2: other key at t=30 -> watermark advances to 20 > A timeout 16
    _write_event_file(d / "b2.parquet", [(3, 30, 2, "click")], now + 10)
    # batch 3: other key at t=40; A's timeout fires this batch (state gone)
    _write_event_file(d / "b3.parquet", [(4, 40, 3, "click")], now + 20)
    # batch 4: A returns at t=45 -> must re-emit as a FRESH first
    _write_event_file(d / "b4.parquet", [(5, 45, 1, "click")], now + 30)

    stream = streaming_first_seen_ttl(read_event_stream(spark, str(d)),
                                      ttl="15 minutes",
                                      watermark="10 minutes")
    q = (stream.writeStream.format("memory").queryName("fs_ttl")
         .outputMode("update")
         .option("checkpointLocation", str(tmp_path / "ckpt_ttl"))
         .trigger(availableNow=True).start())
    q.awaitTermination(180)

    a_rows = [r for r in spark.sql(
        "SELECT * FROM fs_ttl ORDER BY first_ts").collect()
        if r.user_id == 1]
    firsts = [r.first_event_id for r in a_rows]
    assert 1 in firsts, "pre-expiry emission keeps the original first"
    assert 5 in firsts, "post-expiry event must re-emit as a fresh first"
    pre = [r for r in a_rows if r.first_event_id == 1]
    assert max(r.n_dupes_suppressed for r in pre) == 1  # in-TTL dup suppressed
    post = [r for r in a_rows if r.first_event_id == 5]
    assert all(r.n_dupes_suppressed == 0 for r in post)


def test_interval_ms_accepts_full_spark_interval_syntax(spark):
    """The TTL parameter accepts exactly what withWatermark accepts: any
    Spark interval literal, including day units and compound intervals —
    not just the second/minute/hour unit map (ADVICE r3)."""
    from dbt_demo_spark.streaming.dedup import interval_ms

    assert interval_ms(spark, "90 seconds") == 90_000
    assert interval_ms(spark, "15 minutes") == 900_000
    assert interval_ms(spark, "1 day") == 86_400_000
    assert interval_ms(spark, "1 hour 30 minutes") == 5_400_000


def test_streaming_dedup_within_watermark_readmits_after_eviction(
        spark, tmp_path):
    """dropDuplicatesWithinWatermark twin: duplicates within the delay are
    suppressed; once the watermark evicts the key's state, the same key
    re-emits — the built-in bounded-state dedup contract."""
    from dbt_demo_spark.streaming import (read_event_stream,
                                          streaming_dedup_within_watermark)

    d = tmp_path / "landing"
    d.mkdir()
    now = 1_700_000_000
    _write_event_file(d / "b1.parquet",
                      [(1, 0, 1, "click"), (2, 1, 1, "click")], now)
    _write_event_file(d / "b2.parquet", [(3, 30, 2, "click")], now + 10)
    # spacer batch: state eviction runs at batch END with the watermark
    # derived from PRIOR batches, so the key needs one batch between the
    # watermark passing its expiry and its re-arrival
    _write_event_file(d / "b3.parquet", [(4, 40, 3, "click")], now + 20)
    _write_event_file(d / "b4.parquet", [(5, 45, 1, "click")], now + 30)

    stream = streaming_dedup_within_watermark(
        read_event_stream(spark, str(d)), delay="10 minutes")
    q = (stream.writeStream.format("memory").queryName("ddww")
         .outputMode("append")
         .option("checkpointLocation", str(tmp_path / "ckpt_ddww"))
         .trigger(availableNow=True).start())
    q.awaitTermination(180)

    got = sorted(r.event_id for r in spark.sql(
        "SELECT * FROM ddww").collect() if r.user_id == 1)
    # event 1 emits, its in-delay duplicate (2) is suppressed, and event 5
    # re-emits because the watermark passed event 1 + delay (state evicted)
    assert got == [1, 5]


def test_streaming_rollup_matches_batch(spark, tmp_path):
    from dbt_demo_spark.sources.events import load_events
    from dbt_demo_spark.streaming import read_event_stream, streaming_hourly_rollup

    # the file source tails a directory; stage one with the events file
    events_dir = tmp_path / "events_landing"
    events_dir.mkdir()
    (events_dir / "events.parquet").symlink_to(f"{SF_SMOKE}/events.parquet")

    stream = streaming_hourly_rollup(read_event_stream(spark, str(events_dir)))
    q = (stream.writeStream.format("memory").queryName("hourly")
         .outputMode("complete")
         .option("checkpointLocation", str(tmp_path / "ckpt"))
         .trigger(availableNow=True).start())
    q.awaitTermination(120)

    got = {(r.hour_start, r.event_type): (r.n_events, round(r.total_value, 2))
           for r in spark.sql("SELECT * FROM hourly").collect()}

    ev = load_events(spark, SF_SMOKE)
    # batch side: cast NTZ back to LTZ (session is UTC) to match the
    # streaming window starts
    want = {(r.hour_start, r.event_type): (r.n_events, round(r.total_value, 2))
            for r in ev.groupBy(F.date_trunc("hour", F.col("ts").cast("timestamp")).alias("hour_start"),
                                "event_type")
                       .agg(F.count(F.lit(1)).alias("n_events"),
                            F.sum("value").alias("total_value")).collect()}
    assert got == want


# ---------------------------------------------------------------------------
# As-of join / range join (operators/asof.py)
# ---------------------------------------------------------------------------

def test_asof_join_matches_duckdb_asof(spark):
    """Backward as-of join (latest prior 'view' per 'purchase', per user)
    must match DuckDB's native ASOF LEFT JOIN row-for-row."""
    from dbt_demo_spark.operators import asof
    from dbt_demo_spark.sources.events import load_events
    from dbt_demo_spark.testing import compare, duckdb_connection

    ev = load_events(spark, SF_SMOKE)
    purchases = (ev.filter("event_type = 'purchase'")
                 .select("user_id", "event_id", "ts"))
    views = (ev.filter("event_type = 'view'")
             .groupBy("user_id", "ts")
             .agg(F.max("event_id").alias("view_id")))  # unique (key, ts)
    out = (asof.asof_join(purchases, views, on="user_id")
           .select("event_id", F.col("view_id").alias("anchor_id")))

    con = duckdb_connection(SF_SMOKE)
    res = compare("asof_join", out, con, """
        WITH ev AS (SELECT event_id, user_id, event_type,
                           CAST(ts AS TIMESTAMP) AS ts FROM events),
        p AS (SELECT user_id, event_id, ts FROM ev
              WHERE event_type = 'purchase'),
        v AS (SELECT user_id, ts, MAX(event_id) AS view_id FROM ev
              WHERE event_type = 'view' GROUP BY 1, 2)
        SELECT p.event_id, v.view_id AS anchor_id
        FROM p ASOF LEFT JOIN v
          ON p.user_id = v.user_id AND p.ts >= v.ts
    """)
    assert res.ok, res.detail


def test_asof_join_tolerance_and_plan(spark):
    """Tolerance bounds the lookback like pandas merge_asof; the plan is
    one key-partitioned window over a union — no join node at all."""
    from dbt_demo_spark.operators import asof

    left = spark.createDataFrame(
        [(1, 100), (1, 200), (2, 50)], "k long, ts long")
    right = spark.createDataFrame(
        [(1, 90, "a"), (1, 199, "b"), (2, 10, "c")],
        "k long, ts long, tag string")
    out = asof.asof_join(left, right, on="k", tolerance=F.lit(20))
    got = {(r.k, r.ts): r.tag for r in out.collect()}
    assert got == {(1, 100): "a",     # 90 within 100-20
                   (1, 200): "b",     # 199 within 200-20
                   (2, 50): None}     # 10 older than 50-20 -> masked
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "Join" not in plan
    assert plan.count("Exchange") <= 2  # one key shuffle (+AQE read)


def test_range_join_matches_duckdb_and_plans_equi(spark):
    """Bucketized point-in-interval join (clicks inside the hour after a
    signup, per user) must match DuckDB's inequality join and must plan as
    an EQUI hash join on (key, bucket) — never a nested loop."""
    from dbt_demo_spark.operators import asof
    from dbt_demo_spark.sources.events import load_events
    from dbt_demo_spark.testing import compare, duckdb_connection

    ev = load_events(spark, SF_SMOKE)
    base = ev.select(
        "user_id", "event_id", "event_type",
        F.unix_micros(F.col("ts").cast("timestamp")).alias("us"))
    points = (base.filter("event_type = 'click'")
              .select("user_id", F.col("event_id").alias("click_id"),
                      F.col("us").alias("p")))
    iv = (base.filter("event_type = 'signup'")
          .select("user_id", F.col("event_id").alias("signup_id"),
                  F.col("us").alias("s"),
                  (F.col("us") + 3_600_000_000).alias("e")))
    out = (asof.range_join(points, iv, on="user_id", point_col="p",
                           start_col="s", end_col="e",
                           bucket_width=600_000_000)
           .select("click_id", "signup_id"))

    con = duckdb_connection(SF_SMOKE)
    res = compare("range_join", out, con, """
        WITH ev AS (SELECT event_id, user_id, event_type,
                           epoch_us(CAST(ts AS TIMESTAMP)) AS us
                    FROM events),
        p AS (SELECT user_id, event_id AS click_id, us AS pt FROM ev
              WHERE event_type = 'click'),
        iv AS (SELECT user_id, event_id AS signup_id, us AS s,
                      us + 3600000000 AS e FROM ev
               WHERE event_type = 'signup')
        SELECT click_id, signup_id
        FROM p JOIN iv ON p.user_id = iv.user_id
                      AND p.pt >= iv.s AND p.pt < iv.e
    """)
    assert res.ok, res.detail
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "NestedLoop" not in plan and "CartesianProduct" not in plan
    assert "HashJoin" in plan or "SortMergeJoin" in plan


def test_salted_sessionization_matches_unsalted(spark):
    """Time-range-salted sessionization (events shuffled on (user, bucket),
    local islands, interval-level merge) must produce EXACTLY the plain
    one-shuffle-per-user sessionization — including with buckets far
    smaller than the gap, where every session straddles boundaries and the
    merge pass does all the work."""
    from dbt_demo_spark.operators import sessionize
    from dbt_demo_spark.queries import CATALOG
    from dbt_demo_spark.queries.windows import SESSION_GAP_S

    plain = {(r.user_id, str(r.session_start), r.duration_s, r.n_events)
             for r in CATALOG["events_sessionization"]
             .fn(spark, SF_SMOKE).collect()}

    from dbt_demo_spark.sources.events import load_events
    ev = load_events(spark, SF_SMOKE)
    for bucket_s in (6 * 3600, 600):  # sane bucket, adversarial tiny bucket
        salted = sessionize.sessionize_salted(ev, gap_s=SESSION_GAP_S,
                                              bucket_s=bucket_s)
        got = {(r.user_id, str(r.session_start),
                int((r.session_end - r.session_start).total_seconds()),
                r.n_events)
               for r in salted.collect()}
        assert got == plain, f"bucket_s={bucket_s}"


def test_salted_join_matches_plain_join_under_skew(spark):
    """n_salt-way salted join must be row-identical to the plain join on a
    deliberately skewed input (90% of rows share one key), for inner and
    left joins including unmatched left keys."""
    from dbt_demo_spark.operators import skew

    big = spark.createDataFrame(
        [(("hot" if i % 10 else f"k{i}"), i) for i in range(1000)]
        + [("orphan", -1)],
        "k string, payload long")
    small = spark.createDataFrame(
        [("hot", 1.5), ("k10", 2.5), ("k20", 3.5), ("k30", 4.5)],
        "k string, weight double")

    for how in ("inner", "left"):
        plain = sorted((r.k, r.payload, r.weight) for r in
                       big.join(small, "k", how).collect())
        salted = sorted((r.k, r.payload, r.weight) for r in
                        skew.salted_join(big, small, "k", n_salt=8,
                                         how=how).collect())
        assert salted == plain, how

    # the salted shuffle key includes the salt -> hot key spreads
    plan = (skew.salted_join(big, small, "k", n_salt=8)
            ._jdf.queryExecution().executedPlan().toString())
    assert "_salt" in plan


def test_jsonl_source_modes_and_roundtrip(spark, tmp_path):
    """JSONL source: declared schema (no inference pass), PERMISSIVE
    corrupt-record quarantine, DROPMALFORMED, FAILFAST, and a write/read
    round-trip."""
    from pyspark.sql.types import (LongType, StringType, StructField,
                                   StructType)

    from dbt_demo_spark.sources import jsonl

    p = tmp_path / "in.jsonl"
    p.write_text('{"id": 1, "name": "a"}\n'
                 'not json at all\n'
                 '{"id": 2, "name": "b"}\n')
    schema = StructType([StructField("id", LongType()),
                         StructField("name", StringType())])

    df = jsonl.load_jsonl(spark, str(p), schema)
    clean, quarantine = jsonl.split_corrupt(df)
    assert {(r.id, r.name) for r in clean.collect()} == {(1, "a"), (2, "b")}
    assert [r["_corrupt_record"] for r in quarantine.collect()] \
        == ["not json at all"]

    dropped = jsonl.load_jsonl(spark, str(p), schema, mode="DROPMALFORMED")
    assert dropped.count() == 2

    with pytest.raises(Exception, match="Malformed|FAILFAST"):
        jsonl.load_jsonl(spark, str(p), schema, mode="FAILFAST").collect()

    out = tmp_path / "out"
    jsonl.write_jsonl(clean, str(out))
    back = jsonl.load_jsonl(spark, str(out), schema)
    assert {(r.id, r.name) for r in jsonl.split_corrupt(back)[0].collect()} \
        == {(1, "a"), (2, "b")}


def test_stream_static_enrich_matches_batch(spark, tmp_path):
    """Stream-static broadcast enrichment: the streamed result under
    availableNow must equal the batch left join, including unmatched keys
    keeping NULL dim columns."""
    from dbt_demo_spark.sources.events import load_events
    from dbt_demo_spark.streaming import read_event_stream, stream_static_enrich

    dim = spark.createDataFrame(
        [("click", 1.0), ("view", 0.5), ("purchase", 10.0)],
        "event_type string, weight double")  # signup/error unmatched

    d = tmp_path / "landing"
    d.mkdir()
    (d / "events.parquet").symlink_to(f"{SF_SMOKE}/events.parquet")
    q = (stream_static_enrich(read_event_stream(spark, str(d)), dim)
         .writeStream.format("memory").queryName("enriched")
         .outputMode("append")
         .option("checkpointLocation", str(tmp_path / "ckpt_enr"))
         .trigger(availableNow=True).start())
    q.awaitTermination(120)

    got = {(r.event_id, r.weight) for r in
           spark.sql("SELECT event_id, weight FROM enriched").collect()}
    want = {(r.event_id, r.weight) for r in
            load_events(spark, SF_SMOKE).join(
                F.broadcast(dim), "event_type", "left")
            .select("event_id", "weight").collect()}
    assert got == want


def test_streaming_rollup_warehouse_sink_incremental_exactly_once(
        spark, tmp_path):
    """foreachBatch + dynamic partition overwrite: two incremental
    availableNow runs land cumulative rollups in the parquet warehouse
    with no duplicates — updated (hour, type) groups REPLACE their
    partition (an append sink would double them)."""
    from dbt_demo_spark.streaming import (read_event_stream,
                                          rollup_to_warehouse,
                                          streaming_hourly_rollup)

    d = tmp_path / "landing"
    d.mkdir()
    wh = str(tmp_path / "wh")
    ck = str(tmp_path / "ckpt_wh")
    now = 1_700_000_000

    def run_stream():
        rollup = streaming_hourly_rollup(read_event_stream(spark, str(d)))
        q = (rollup_to_warehouse(rollup, wh, ck)
             .trigger(availableNow=True).start())
        q.awaitTermination(180)

    # run 1: hours 0 and 1
    _write_event_file(d / "b1.parquet",
                      [(1, 5, 1, "click"), (2, 20, 2, "click"),
                       (3, 70, 1, "view")], now)
    run_stream()
    r1 = {(str(r.hour_start), r.event_type): r.n_events
          for r in spark.read.parquet(wh).collect()}
    assert r1[("2023-01-01 00:00:00", "click")] == 2
    assert r1[("2023-01-01 01:00:00", "view")] == 1

    # run 2: more clicks in hour 0 (group UPDATES) + a new hour-2 group
    _write_event_file(d / "b2.parquet",
                      [(4, 30, 3, "click"), (5, 130, 1, "purchase")],
                      now + 10)
    run_stream()
    r2 = {(str(r.hour_start), r.event_type): r.n_events
          for r in spark.read.parquet(wh).collect()}
    assert r2[("2023-01-01 00:00:00", "click")] == 3   # replaced, not doubled
    assert r2[("2023-01-01 01:00:00", "view")] == 1    # untouched partition
    assert r2[("2023-01-01 02:00:00", "purchase")] == 1
    assert len(r2) == 3


def test_chunk_documents_matches_duckdb_and_invariants(spark):
    """Token-window chunking: differential vs DuckDB computing the same
    windows from the same integer arithmetic, plus the coverage
    invariants (every token in some chunk, exact overlap, short tail
    kept)."""
    from dbt_demo_spark.operators import chunk
    from dbt_demo_spark.testing import compare, duckdb_connection

    docs = load_table(spark, SF_SMOKE, "documents")
    C, O, S = 32, 8, 24  # chunk, overlap, stride
    out = chunk.chunk_documents(docs, chunk_tokens=C, overlap=O)

    con = duckdb_connection(SF_SMOKE)
    res = compare("chunk_documents", out, con, f"""
        WITH t AS (SELECT doc_id, string_split(text, ' ') AS toks
                   FROM documents),
        n AS (SELECT doc_id, toks, len(toks) AS n FROM t),
        c AS (SELECT doc_id, toks,
                     GREATEST(1, 1 + CAST(FLOOR((n - {C} + {S} - 1.0) / {S})
                                          AS INT)) AS n_chunks
              FROM n),
        e AS (SELECT doc_id, toks,
                     unnest([x for x in generate_series(1, n_chunks)]) AS i
              FROM c)
        SELECT doc_id,
               CAST(i - 1 AS INT) AS chunk_id,
               CAST(len(list_slice(toks, (i-1)*{S} + 1, (i-1)*{S} + {C}))
                    AS INT) AS n_tokens,
               array_to_string(list_slice(toks, (i-1)*{S} + 1,
                                          (i-1)*{S} + {C}), ' ') AS chunk_text
        FROM e
    """)
    assert res.ok, res.detail

    # invariants on a hand-size doc: full coverage + exact overlap
    one = spark.createDataFrame(
        [(1, " ".join(f"w{i}" for i in range(75)))], "doc_id long, text string")
    rows = sorted(chunk.chunk_documents(one, C, O).collect(),
                  key=lambda r: r.chunk_id)
    seen = [w for r in rows for w in r.chunk_text.split(" ")]
    assert set(seen) == {f"w{i}" for i in range(75)}
    for a, b in zip(rows, rows[1:]):
        shared = set(a.chunk_text.split(" ")) & set(b.chunk_text.split(" "))
        assert len(shared) >= min(O, b.n_tokens)
    assert rows[-1].n_tokens == 75 - 2 * S  # short tail kept


def test_orc_source_roundtrip_with_pushdown(spark, tmp_path):
    """ORC is the other columnar warehouse format Spark reads natively:
    a mart written as ORC must round-trip exactly and serve predicate
    pushdown + column pruning at the scan, same as parquet."""
    docs = load_table(spark, SF_SMOKE, "documents").select("doc_id", "text")
    path = str(tmp_path / "docs_orc")
    docs.write.mode("overwrite").orc(path)

    back = spark.read.orc(path)
    assert sorted((r.doc_id, r.text) for r in back.collect()) \
        == sorted((r.doc_id, r.text) for r in docs.collect())

    pruned = back.filter(F.col("doc_id") < 100).select("doc_id")
    plan = pruned._jdf.queryExecution().executedPlan().toString()
    assert "PushedFilters: [" in plan and "LessThan(doc_id,100)" in plan
    assert "text" not in plan.split("ReadSchema", 1)[1][:200]


def test_pack_chunks_invariants_and_determinism(spark):
    """Sharded FFD sequence packing: every chunk lands in exactly one bin,
    no bin exceeds the budget (unless it holds one oversized chunk), and
    the packing is bit-deterministic across runs for a fixed shard count."""
    from dbt_demo_spark.operators.chunk import chunk_documents
    from dbt_demo_spark.operators.packing import pack_chunks, packing_stats

    BUDGET = 256
    docs = load_table(spark, SF_SMOKE, "documents")
    chunks = chunk_documents(docs, chunk_tokens=64, overlap=8)
    packed = pack_chunks(chunks, BUDGET, n_shards=16)
    rows = packed.collect()

    # exactly one bin per chunk, chunk set preserved
    in_keys = sorted((r.doc_id, r.chunk_id) for r in chunks.collect())
    out_keys = sorted((r.doc_id, r.chunk_id) for r in rows)
    assert out_keys == in_keys

    # budget respected (chunk_tokens 64 <= budget, so no oversize path)
    fills: dict = {}
    for r in rows:
        fills.setdefault((r.shard, r.bin_id), []).append(r.n_tokens)
    assert all(sum(v) <= BUDGET for v in fills.values())

    # FFD actually packs: average utilization well above one-chunk-per-bin
    stats = packing_stats(packed, BUDGET).collect()
    avg_util = sum(s.utilization for s in stats) / len(stats)
    assert avg_util > 0.8, avg_util

    # deterministic: identical assignment on a re-run
    again = sorted((r.shard, r.bin_id, r.doc_id, r.chunk_id)
                   for r in pack_chunks(chunks, BUDGET, n_shards=16).collect())
    assert again == sorted((r.shard, r.bin_id, r.doc_id, r.chunk_id)
                           for r in rows)


def test_pack_chunks_oversized_get_own_bin(spark):
    from dbt_demo_spark.operators.packing import pack_chunks

    chunks = spark.createDataFrame(
        [(1, 0, 500), (1, 1, 100), (2, 0, 90), (3, 0, 40)],
        "doc_id long, chunk_id int, n_tokens int")
    rows = pack_chunks(chunks, budget=128, n_shards=4).collect()
    oversized_bins = [(r.shard, r.bin_id) for r in rows if r.n_tokens == 500]
    assert len(oversized_bins) == 1
    mates = [r for r in rows
             if (r.shard, r.bin_id) == oversized_bins[0] and r.n_tokens != 500]
    assert mates == []  # the oversized chunk shares its bin with nothing


def test_stream_stream_interval_join_matches_batch(spark, tmp_path):
    """Watermarked stream-stream interval join (view->click attribution):
    the streamed result over a 3-file time-ordered backlog must equal the
    batch join exactly — state retention across micro-batches included."""
    from dbt_demo_spark.sources.events import load_events
    from dbt_demo_spark.streaming import interval_join, read_event_stream

    ev = load_events(spark, SF_SMOKE).withColumn("ts", F.col("ts").cast("timestamp"))
    clicks = ev.filter(F.col("event_type") == "click")
    views = ev.filter(F.col("event_type") == "view")
    want = sorted(
        (r.user_id, r.trigger_ts, r.follow_ts, round(r.lag_seconds, 6))
        for r in interval_join(clicks, views, "user_id",
                               max_delay="24 hours").collect())
    assert len(want) > 10  # the smoke slice produces real matches

    # time-ordered 3-file landing dirs (file order == event-time order, so
    # the watermark never evicts a trigger that could still match)
    land_c, land_v = tmp_path / "clicks", tmp_path / "views"
    for df, d in ((clicks, land_c), (views, land_v)):
        d.mkdir()
        parts = df.withColumn(
            "_f", F.ntile(3).over(
                __import__("pyspark.sql.window", fromlist=["Window"])
                .Window.orderBy("ts")))
        for i in range(1, 4):
            (parts.filter(F.col("_f") == i).drop("_f").coalesce(1)
             .write.mode("overwrite").parquet(str(d / f"f{i}")))
        for i in range(1, 4):
            src = next((d / f"f{i}").glob("part-*.parquet"))
            src.rename(d / f"{i:02d}.parquet")

    got_q = interval_join(
        read_event_stream(spark, str(land_c)).filter(F.col("event_type") == "click"),
        read_event_stream(spark, str(land_v)).filter(F.col("event_type") == "view"),
        "user_id", max_delay="24 hours", watermark="48 hours")
    q = (got_q.writeStream.format("memory").queryName("attrib")
         .outputMode("append")
         .option("checkpointLocation", str(tmp_path / "ckpt_ssj"))
         .trigger(availableNow=True).start())
    q.awaitTermination(120)
    got = sorted(
        (r.user_id, r.trigger_ts, r.follow_ts, round(r.lag_seconds, 6))
        for r in spark.sql("SELECT * FROM attrib").collect())
    assert got == want


def test_approx_percentile_tracks_exact_rank_bound(spark):
    """The one-pass 100 TB quantile path (corpus_length_quantiles'
    docstring): approx_percentile is a Greenwald-Khanna sketch with rank
    error <= n/accuracy, mergeable across partitions.  Assert each
    approximate quantile sits inside the guaranteed rank window of the
    per-language sorted lengths."""
    import math

    import pyspark.sql.functions as F

    from tests.conftest import SF_GATE

    docs = load_table(spark, SF_GATE, "documents")
    acc = 100  # rank error <= n/100
    rows = (docs.groupBy("lang").agg(
        F.expr(f"approx_percentile(n_chars, array(0.5, 0.9), {acc})")
        .alias("approx"),
        F.sort_array(F.collect_list("n_chars")).alias("vals")).collect())
    assert rows
    for r in rows:
        n = len(r.vals)
        eps = n / acc
        for p, got in zip((0.5, 0.9), r.approx):
            lo = r.vals[max(0, math.floor(p * n - eps) - 1)]
            hi = r.vals[min(n - 1, math.ceil(p * n + eps))]
            assert lo <= got <= hi, (r.lang, p, got, lo, hi)


def test_materialized_features_reusable_across_sweeps(spark, docs, tmp_path):
    """The shared featurization materialization (r6): persist the feature
    table once, then minhash_near_dups(features=...) reproduces the inline
    pipeline's pairs EXACTLY across thresholds and guards — the Arrow pass
    paid once per corpus snapshot, not once per sweep point."""
    feats = dedup.materialize_features(docs, str(tmp_path / "feats"))
    for threshold, max_bucket in ((0.5, None), (0.5, 16), (0.7, None)):
        inline = {(r.d1, r.d2, r.jaccard) for r in dedup.minhash_near_dups(
            docs, threshold, max_bucket=max_bucket).collect()}
        reused = {(r.d1, r.d2, r.jaccard) for r in dedup.minhash_near_dups(
            None, threshold, max_bucket=max_bucket,
            features=feats).collect()}
        assert reused == inline, (threshold, max_bucket)
    # load_features round-trips the same handle shape
    loaded = dedup.load_features(spark, str(tmp_path / "feats"))
    assert {r.doc_id for r in loaded.collect()} == \
        {r.doc_id for r in feats.collect()}
    # custom hashes must refuse portable-hash features, not silently mix
    from dbt_demo_spark.functions.text import token_hashes_xxhash
    with pytest.raises(ValueError, match="portable-hash"):
        dedup.minhash_near_dups(None, 0.5, features=feats,
                                token_hash=token_hashes_xxhash)


def test_ngram_jaccard_features_reuse_matches_inline(spark, docs, tmp_path):
    """ngram_jaccard_pairs(features=) (X29 extended to the ngram family,
    r7): the persisted feature table reproduces the inline corpus pass's
    pairs exactly, guarded and unguarded."""
    feats = dedup.materialize_features(docs, str(tmp_path / "feats_ng"))
    qf = F.col("doc_id") % 20 == 0
    for mdf in (None, 50):
        inline = {(r.qid, r.cid, r.jaccard)
                  for r in dedup.ngram_jaccard_pairs(
                      None, docs, 0.5, max_doc_freq=mdf,
                      query_filter=qf).collect()}
        reused = {(r.qid, r.cid, r.jaccard)
                  for r in dedup.ngram_jaccard_pairs(
                      None, None, 0.5, max_doc_freq=mdf,
                      query_filter=qf, features=feats).collect()}
        assert reused == inline, mdf


def test_dedup_catalog_rows_serve_from_feature_memo(spark):
    """The two dedup catalog rows serve from the per-(session, sf_dir)
    feature materialization (r7, VERDICT item 4): the memo hands back the
    SAME DataFrame handle on repeat calls, and the rows' results equal
    the inline operators' exactly."""
    from dbt_demo_spark.queries import llm_pipeline as lp
    from tests.conftest import SF_GATE

    f1 = lp._corpus_features(spark, SF_GATE)
    f2 = lp._corpus_features(spark, SF_GATE)
    assert f1 is f2  # memoized: featurization not re-derived per query

    corpus = load_table(spark, SF_GATE, "documents")
    row = {(r.d1, r.d2, r.jaccard)
           for r in lp.dedup_minhash_lsh_guarded(spark, SF_GATE).collect()}
    inline = {(r.d1, r.d2, r.jaccard)
              for r in dedup.minhash_near_dups(
                  corpus, 0.5, max_bucket=lp._MAX_BUCKET).collect()}
    assert row == inline
    row_ng = {(r.qid, r.cid, r.jaccard)
              for r in lp.dedup_ngram_jaccard_guarded(
                  spark, SF_GATE).collect()}
    inline_ng = {(r.qid, r.cid, r.jaccard)
                 for r in dedup.ngram_jaccard_pairs(
                     None, corpus, 0.5, max_doc_freq=lp._MAX_DOC_FREQ,
                     query_filter=F.col("doc_id") % 20 == 0).collect()}
    assert row_ng == inline_ng


def test_streaming_heavy_hitter_sketch_bounds(spark, tmp_path):
    """Streaming MG sketch (streaming/heavy.py): after the backlog drains,
    each shard's final summary must obey the batch operator's guarantees
    against exact full-prefix counts — never overcount, undercount by at
    most shard_n/(k+1), at most k counters held — and every globally
    frequent bigram must be present in its shard's sketch."""
    from dbt_demo_spark.streaming import read_document_stream
    from dbt_demo_spark.streaming.heavy import streaming_heavy_hitter_sketch

    landing = tmp_path / "docs_landing"
    landing.mkdir()
    (landing / "documents.parquet").symlink_to(
        f"{SF_SMOKE}/documents.parquet")

    K, SHARDS = 64, 8

    def bigrams(df):
        t = F.split(F.col("text"), " ")
        m = F.greatest(F.size(t) - 1, F.lit(0))
        bg = F.zip_with(F.slice(t, 1, m), F.slice(t, 2, m),
                        lambda a, b: F.concat(a, F.lit(" "), b))
        return df.select(F.explode(bg).alias("item"))

    stream = streaming_heavy_hitter_sketch(
        bigrams(read_document_stream(spark, str(landing),
                                     max_files_per_trigger=1)),
        k=K, n_shards=SHARDS)
    q = (stream.writeStream.format("memory").queryName("hh_sketch")
         .outputMode("update")
         .option("checkpointLocation", str(tmp_path / "ckpt_hh"))
         .trigger(availableNow=True).start())
    q.awaitTermination(120)

    # latest emission per shard = highest shard_n
    rows = spark.sql("SELECT * FROM hh_sketch").collect()
    latest_n = {}
    for r in rows:
        latest_n[r.shard] = max(latest_n.get(r.shard, 0), r.shard_n)
    sketch = {}   # (shard, item) -> mg_count
    for r in rows:
        if r.shard_n == latest_n[r.shard]:
            sketch[(r.shard, r.item)] = r.mg_count

    # exact ground truth with the same routing
    docs = spark.read.parquet(f"{SF_SMOKE}/documents.parquet")
    exact = {(r.shard, r.item): r.cnt for r in
             bigrams(docs)
             .select("item", F.pmod(F.xxhash64("item"), F.lit(SHARDS))
                     .cast("int").alias("shard"))
             .groupBy("shard", "item")
             .agg(F.count(F.lit(1)).alias("cnt")).collect()}
    shard_n = {}
    for (sh, _it), c in exact.items():
        shard_n[sh] = shard_n.get(sh, 0) + c
    assert sum(shard_n.values()) == sum(latest_n.values())

    per_shard_counters = {}
    for (sh, it), c in sketch.items():
        per_shard_counters[sh] = per_shard_counters.get(sh, 0) + 1
        assert c <= exact[(sh, it)], "sketch must never overcount"
    for sh, cnt in per_shard_counters.items():
        assert cnt <= K
    for (sh, it), true in exact.items():
        got = sketch.get((sh, it), 0)
        assert got >= true - shard_n[sh] / (K + 1), \
            f"undercount bound violated for {it} in shard {sh}"
    # eviction actually happened (vocabulary outruns the counter budget)
    assert len(exact) > sum(per_shard_counters.values())


# ---------------------------------------------------------------------------
# Passage-level exact dedup (X46)
# ---------------------------------------------------------------------------


def test_passage_dedup_planted_fixture(spark):
    """Planted corpus pins the three contracts: unique docs reassemble to
    their original text verbatim; a doc repeating an EARLIER doc's passage
    loses exactly that passage (first occurrence wins by (doc_id, pidx));
    a whole-doc duplicate loses everything (NULL clean_text)."""
    w = dedup.PASSAGE_TOKENS
    pass_a = " ".join(f"a{i}" for i in range(w))      # one exact window
    pass_b = " ".join(f"b{i}" for i in range(w))
    tail = "unique trailing words here"
    rows = [
        (0, f"{pass_a} {pass_b}"),              # first owner of a + b
        (1, f"{pass_a} {tail}"),                # repeats a, keeps its tail
        (2, f"{pass_a} {pass_b}"),              # whole-doc duplicate of 0
        (3, "entirely fresh text with no repeats at all"),
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    out = {r.doc_id: r for r in dedup.passage_dedup(docs).collect()}

    assert out[0].clean_text == rows[0][1]      # untouched, verbatim
    assert out[0].n_kept == out[0].n_passages == 2
    # doc 1: passage a removed, its own second window survives
    assert out[1].clean_text == tail
    assert (out[1].n_passages, out[1].n_kept) == (2, 1)
    # doc 2: both passages already owned by doc 0
    assert out[2].clean_text is None and out[2].n_kept == 0
    assert out[3].clean_text == rows[3][1]


def test_passage_dedup_partial_window_and_short_docs(spark):
    """Docs shorter than one window are a single (short) passage; the
    ragged final window participates like any other passage."""
    docs = spark.createDataFrame(
        [(0, "tiny doc"), (1, "tiny doc"), (2, "other")],
        "doc_id long, text string")
    out = {r.doc_id: r for r in dedup.passage_dedup(docs).collect()}
    assert out[0].clean_text == "tiny doc"
    assert out[1].clean_text is None            # short-doc dup still caught
    assert out[2].clean_text == "other"


def test_streaming_locf_matches_batch_window(spark, tmp_path):
    """Stateful LOCF (streaming/locf.py): streamed carry across TWO
    micro-batches (maxFilesPerTrigger=1, mtime-ordered files) must equal
    the batch IGNORE-NULLS window over the union — including a
    cross-batch carry for a user whose observation lives in batch 1 and
    whose null rows arrive in batch 2."""
    import os
    import time

    from pyspark.sql import Window

    from dbt_demo_spark.streaming import streaming_locf

    b1 = [(1, "2024-01-01 00:00:00", 10, 5.0),
          (1, "2024-01-01 01:00:00", 11, None),
          (2, "2024-01-01 00:30:00", 12, None)]   # user 2: no obs yet
    b2 = [(1, "2024-01-02 00:00:00", 20, None),   # carried from batch 1
          (2, "2024-01-02 01:00:00", 21, 7.0),
          (2, "2024-01-02 02:00:00", 22, None)]
    schema = "user_id long, ts_s string, event_id long, value double"
    landing = tmp_path / "landing"
    landing.mkdir()

    def _write(rows, name, mtime):
        df = (spark.createDataFrame(rows, schema)
              .select("user_id", F.col("ts_s").cast("timestamp").alias("ts"),
                      "event_id", "value").coalesce(1))
        df.write.parquet(str(tmp_path / name))
        part = next(p for p in os.listdir(tmp_path / name)
                    if p.endswith(".parquet"))
        dst = landing / f"{name}.parquet"
        os.rename(tmp_path / name / part, dst)
        os.utime(dst, (mtime, mtime))
        return df

    now = time.time()
    d1 = _write(b1, "b1", now - 100)
    d2 = _write(b2, "b2", now)

    stream = streaming_locf(
        spark.readStream.schema(d1.schema)
        .option("maxFilesPerTrigger", 1).parquet(str(landing)))
    q = (stream.writeStream.format("memory").queryName("locf")
         .outputMode("append")
         .option("checkpointLocation", str(tmp_path / "ckpt"))
         .trigger(availableNow=True).start())
    q.awaitTermination(120)
    got = {r.event_id: (r.gauge, r.observed)
           for r in spark.sql("SELECT * FROM locf").collect()}

    w = (Window.partitionBy("user_id").orderBy("ts", "event_id")
         .rowsBetween(Window.unboundedPreceding, Window.currentRow))
    want = {r.event_id: (r.gauge, r.observed)
            for r in d1.unionByName(d2).select(
                "event_id",
                F.last("value", ignorenulls=True).over(w).alias("gauge"),
                F.col("value").isNotNull().alias("observed")).collect()}
    assert got == want
    assert got[20] == (5.0, False)        # the cross-batch carry
    assert got[12] == (None, False)       # no observation yet -> NULL


def test_edit_distance_near_dups_match_bruteforce_oracle(spark):
    """Inverted-index-blocked levenshtein near-dup == DuckDB's brute-force
    O(n^2) oracle on a corpus of templated variants (small edits spread
    across long docs — the case token-set measures under-read)."""
    import duckdb

    base = "the quick brown fox jumps over the lazy dog near the old barn"
    rows = [(0, base),
            (1, base.replace("quick", "quack")),            # 1 edit
            (2, base.replace("lazy", "hazy") + " today"),   # 1 + 6 edits
            (3, "completely different text about spark plans and shuffles"),
            (4, base.replace("brown", "red"))]              # 4 edits
    docs = spark.createDataFrame(rows, "doc_id long, text string")

    got = {(r.d1, r.d2): r.distance
           for r in dedup.edit_distance_near_dups(docs, max_dist=8)
           .collect()}

    con = duckdb.connect()
    con.execute("CREATE TABLE d AS SELECT * FROM (VALUES "
                + ",".join(f"({i}, '{t}')" for i, t in rows)
                + ") t(doc_id, text)")
    want = {(a, b): dist for a, b, dist in con.execute("""
        SELECT a.doc_id, b.doc_id, levenshtein(a.text, b.text)
        FROM d a JOIN d b ON a.doc_id < b.doc_id
        WHERE levenshtein(a.text, b.text) <= 8""").fetchall()}
    assert got == want
    assert (0, 1) in got and got[(0, 1)] == 1
    assert not any(3 in p for p in got)


def test_streaming_daily_spine_matches_batch_gapfill(spark, tmp_path):
    """transformWithStateInPandas + EVENT-TIME TIMERS: the streamed dense
    daily grid must equal the batch gap-fill window for every day the
    final watermark closed — observation days, observation-driven gap
    fills, AND timer-driven trailing fills (users silent at stream end).

    transformWithState's runner protocol needs protobuf (not shipped in
    this container) — the test exercises the operator wherever the
    dependency exists and skips cleanly where it doesn't."""
    pytest.importorskip(
        "google.protobuf",
        reason="transformWithStateInPandas runner requires protobuf")
    import os
    import time

    from pyspark.sql import Window

    from dbt_demo_spark.streaming import streaming_daily_spine

    # user 1: obs day1, gap, obs day4  -> inline fills for day2/day3
    # user 2: obs day1 then silence    -> TIMER fills day2..day5
    # user 3: two obs on day2 (last wins), late-day start
    rows1 = [(1, "2024-01-01 10:00:00", 10, 5.0),
             (2, "2024-01-01 12:00:00", 11, 9.0)]
    rows2 = [(1, "2024-01-04 09:00:00", 20, 7.0),
             (3, "2024-01-02 08:00:00", 21, 1.0),
             (3, "2024-01-02 20:00:00", 22, 2.0),
             (2, "2024-01-06 00:30:00", 23, None)]   # null: watermark mover
    schema = "user_id long, ts_s string, event_id long, value double"
    landing = tmp_path / "landing"
    landing.mkdir()

    def _write(rows, name, mtime):
        df = (spark.createDataFrame(rows, schema)
              .select("user_id", F.col("ts_s").cast("timestamp").alias("ts"),
                      "event_id", "value").coalesce(1))
        df.write.parquet(str(tmp_path / name))
        part = next(p for p in os.listdir(tmp_path / name)
                    if p.endswith(".parquet"))
        dst = landing / f"{name}.parquet"
        os.rename(tmp_path / name / part, dst)
        os.utime(dst, (mtime, mtime))
        return df

    now = time.time()
    d1 = _write(rows1, "b1", now - 100)
    d2 = _write(rows2, "b2", now)

    stream = streaming_daily_spine(
        spark.readStream.schema(d1.schema)
        .option("maxFilesPerTrigger", 1).parquet(str(landing)))
    q = (stream.writeStream.format("memory").queryName("spine_grid")
         .outputMode("append")
         .option("checkpointLocation", str(tmp_path / "ckpt"))
         .trigger(availableNow=True).start())
    q.awaitTermination(180)
    got = {(r.user_id, str(r.day)): (r.gauge, r.observed)
           for r in spark.sql("SELECT * FROM spine_grid").collect()}

    # batch reference: per-user spine from first obs to the global max
    # day, LOCF-carried; streamed grid == every batch day the final
    # watermark (max ts) CLOSED, i.e. day_end <= max(ts): all days before
    # 2024-01-06, plus observation days on it (none here)
    ev = d1.unionByName(d2).filter(F.col("value").isNotNull())
    g = (ev.select("user_id", F.to_date("ts").alias("day"),
                   F.struct("ts", "event_id", "value").alias("o"))
         .groupBy("user_id", "day")
         .agg(F.max("o").getField("value").alias("value")))
    d1max = g.agg(F.max("day").alias("d1")).collect()[0].d1  # 2024-01-04
    spine = (g.groupBy("user_id").agg(F.min("day").alias("d0"))
             .select("user_id",
                     F.explode(F.sequence("d0", F.lit("2024-01-05")
                                          .cast("date"))).alias("day")))
    w = (Window.partitionBy("user_id").orderBy("day")
         .rowsBetween(Window.unboundedPreceding, Window.currentRow))
    want = {(r.user_id, str(r.day)): (r.gauge, r.observed)
            for r in spine.join(g, ["user_id", "day"], "left")
            .select("user_id", "day",
                    F.last("value", ignorenulls=True).over(w).alias("gauge"),
                    F.col("value").isNotNull().alias("observed"))
            .collect()}
    assert got == want
    # the timer-driven tail really happened: user 2 silent since day 1
    assert got[(2, "2024-01-05")] == (9.0, False)
    # same-day refinement: user 3's later obs won day 2
    assert got[(3, "2024-01-02")] == (2.0, True)
    assert d1max is not None


def test_daily_spine_processor_logic_with_fake_runtime():
    """The StatefulProcessor's fill algebra, driven directly with fake
    state/handle/timer objects (no streaming runtime, no protobuf): gap
    fills at observation time, timer-driven trailing fills as the
    watermark advances, same-day refinement, late-row drop, and
    exactly-one-registered-timer bookkeeping."""
    import pandas as pd

    from dbt_demo_spark.streaming.spine import (DAY_MS, DailySpineProcessor)

    class FakeState:
        def __init__(self):
            self.v = None

        def exists(self):
            return self.v is not None

        def get(self):
            return self.v

        def update(self, v):
            self.v = tuple(v)

    class FakeHandle:
        def __init__(self):
            self.timers = set()

        def getValueState(self, name, schema):
            return FakeState()

        def registerTimer(self, ms):
            self.timers.add(ms)

        def deleteTimer(self, ms):
            self.timers.discard(ms)

    class FakeTimerValues:
        def __init__(self, wm):
            self.wm = wm

        def getCurrentWatermarkInMs(self):
            return self.wm

    class FakeExpired:
        def __init__(self, ms):
            self.ms = ms

        def getExpiryTimeInMs(self):
            return self.ms

    p = DailySpineProcessor()
    handle = FakeHandle()
    p.init(handle)
    day0 = 1_704_067_200_000           # 2024-01-01 00:00 UTC, day-aligned

    def batch(rows):
        pdf = pd.DataFrame(rows, columns=["ts", "event_id", "value"])
        pdf["ts"] = pd.to_datetime(pdf["ts"], unit="ms")
        return list(p.handleInputRows((7,), iter([pdf]),
                                      FakeTimerValues(0)))

    def grid(frames):
        out = {}
        for f in frames:
            for _, r in f.iterrows():
                out[int(r["day_ms"] - day0) // DAY_MS] = (
                    r["gauge"], bool(r["observed"]))
        return out

    # day 0 obs, then a day-3 obs: days 1-2 fill inline
    g1 = grid(batch([(day0 + 3_600_000, 1, 5.0)]))
    assert g1 == {0: (5.0, True)}
    assert handle.timers == {day0 + 2 * DAY_MS}     # closes day 1 (next)
    g2 = grid(batch([(day0 + 3 * DAY_MS + 60_000, 2, 8.0)]))
    assert g2 == {1: (5.0, False), 2: (5.0, False), 3: (8.0, True)}
    assert handle.timers == {day0 + 5 * DAY_MS}     # one timer, end of day 4

    # CROSS-BATCH same-day refinement: day 3 already left in g2 (8.0);
    # this batch re-emits it refined (9.0) — the documented OUTPUT
    # CONTRACT (append mode cannot retract): downstream applies
    # last-write-wins per (user, day).  A LATE row for closed day 1 is
    # dropped.
    g3 = grid(batch([(day0 + 3 * DAY_MS + 120_000, 3, 9.0),
                     (day0 + 1 * DAY_MS + 60_000, 4, 4.0)]))
    assert g3 == {3: (9.0, True)}
    # LWW over the union of emitted batches == the batch twin's
    # last-observation-per-day value for day 3
    merged = {}
    for g in (g1, g2, g3):
        merged.update(g)
    assert merged[3] == (9.0, True)

    # watermark to end of day 5: trailing fills for days 4 and 5
    # (the engine removes a fired timer before dispatch — mimic that)
    handle.timers.discard(day0 + 5 * DAY_MS)
    frames = list(p.handleExpiredTimer(
        (7,), FakeTimerValues(day0 + 6 * DAY_MS),
        FakeExpired(day0 + 5 * DAY_MS)))
    assert grid(frames) == {4: (9.0, False), 5: (9.0, False)}
    assert handle.timers == {day0 + 7 * DAY_MS}     # re-armed for day 6
