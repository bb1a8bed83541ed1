"""SemDeDup-shaped semantic dedup (operators/semdedup.py): keep decisions
differentially recomputed in pure Python (union-find + numpy-free cosine)
on the gate corpus, plus a planted-cluster representative check."""

from __future__ import annotations

import math

import pyspark.sql.functions as F

from dbt_demo_spark.operators.semdedup import (semantic_dedup,
                                               semantic_dedup_report)
from dbt_demo_spark.operators.similarity import embedding_near_dups
from dbt_demo_spark.sources.parquet import load_table
from tests.conftest import SF_GATE

THRESHOLD = 0.3  # the synthetic embeddings are near-uniform (catalog note)


def _python_reference(vecs, pairs):
    """Union-find components + centroid-nearest keep per component."""
    parent = {}

    def find(x):
        while parent.get(x, x) != x:
            parent[x] = parent.get(parent[x], parent[x])
            x = parent[x]
        return x

    def union(a, b):
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)

    for a, b in pairs:
        parent.setdefault(a, a)
        parent.setdefault(b, b)
        union(a, b)
    comps = {}
    for n in parent:
        comps.setdefault(find(n), []).append(n)
    keep = set()
    for members in comps.values():
        dim = len(vecs[members[0]])
        cent = [sum(vecs[m][i] for m in members) / len(members)
                for i in range(dim)]
        best = None
        for m in sorted(members):
            v = vecs[m]
            dot = sum(x * c for x, c in zip(v, cent))
            score = dot / (math.sqrt(sum(x * x for x in v))
                           * math.sqrt(sum(c * c for c in cent)))
            if best is None or score > best[0] + 1e-12:
                best = (score, m)
        keep.add(best[1])
    losers = set(parent) - keep
    return keep, losers


def test_semantic_dedup_matches_python_reference(spark):
    emb = load_table(spark, SF_GATE, "embeddings").filter("vec_id < 400")
    vecs = {r.vec_id: [float(x) for x in r.embedding]
            for r in emb.collect()}
    pairs = [(r.d1, r.d2) for r in
             embedding_near_dups(emb, threshold=THRESHOLD).collect()]
    assert pairs  # the threshold actually clusters something
    keep, losers = _python_reference(vecs, pairs)

    rep = semantic_dedup_report(emb, threshold=THRESHOLD).collect()
    got_keep = {r.vec_id for r in rep if r.keep}
    got_losers = {r.vec_id for r in rep if not r.keep}
    assert got_keep == keep
    assert got_losers == losers

    kept_ids = {r.vec_id for r in
                semantic_dedup(emb, threshold=THRESHOLD).collect()}
    assert kept_ids == set(vecs) - losers


def test_semantic_dedup_broadcast_guard_high_dup_corpus(spark):
    """VERDICT r9 #1: at web-scale dup rates (30-50%) the component-label
    and loser sets are corpus-sized, so forcing their broadcast is the
    scale-killer.  Planted high-dup-rate corpus (every doc clustered):
    with ``broadcast_row_cap=0`` the plan must contain NO broadcast join
    anywhere (auto-broadcast disabled so only a forced hint could plant
    one), and the keep/loser sets must be identical to both the default
    broadcast path and the pure-Python union-find reference."""
    base = (load_table(spark, SF_GATE, "embeddings")
            .filter("vec_id < 200").select("vec_id", "embedding"))
    # plant: every doc has a near-exact-direction copy (scaled + a 0.01
    # nudge on dim 0 — cosine ~1-2e-5, so the pair clusters at 0.99 but
    # the two members have DISTINCT centroid scores; an exact tie would
    # let float summation-order noise pick different winners across the
    # two join plans under comparison): dup rate ~50%, the regime where
    # forced broadcasts are corpus-scale
    copies = base.select(
        (F.col("vec_id") + 10_000).alias("vec_id"),
        F.transform(
            "embedding",
            lambda x, i: x * F.lit(1.5)
            + F.when(i == 0, F.lit(0.01)).otherwise(F.lit(0.0)))
        .alias("embedding"))
    emb = base.unionByName(copies)
    vecs = {r.vec_id: [float(x) for x in r.embedding]
            for r in emb.collect()}
    pairs = [(r.d1, r.d2) for r in
             embedding_near_dups(emb, threshold=0.99).collect()]
    keep, losers = _python_reference(vecs, pairs)
    # multi-probe recall is bucket-or-1-bit-adjacent; the 0.01 nudge may
    # push a handful of copies two bits away — high dup rate is what the
    # guard needs, not perfection
    assert len(keep) + len(losers) >= len(vecs) * 0.9

    old = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        guarded = semantic_dedup(emb, threshold=0.99, broadcast_row_cap=0)
        plan = guarded._jdf.queryExecution().executedPlan().toString()
        assert "BroadcastHashJoin" not in plan
        assert "BroadcastNestedLoopJoin" not in plan
        guarded_ids = {r.vec_id for r in guarded.collect()}
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old)

    hinted = semantic_dedup(emb, threshold=0.99)
    hplan = hinted._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in hplan  # small corpus: hint still applies
    assert guarded_ids == {r.vec_id for r in hinted.collect()}
    assert guarded_ids == set(vecs) - losers


def test_semantic_dedup_keeps_centroid_nearest(spark):
    """Planted 3-member cluster: two tight copies + one offset member —
    the survivor is the one nearest the component mean, not the lowest
    id."""
    def v(*head):
        out = [0.0] * 64
        for i, x in enumerate(head):
            out[i] = x
        return out

    # members are tiny perturbations of one direction: multi-probe LSH's
    # recall contract is bucket-or-1-bit-adjacent, so the planted cluster
    # stays within it; the centroid tilts toward the two tight copies
    rows = [
        (10, v(1.0, 0.004, 0.0)),
        (11, v(1.0, -0.012, 0.008)),     # offset member
        (12, v(1.0, 0.004, 0.001)),
        (99, v(0.0, 0.0, 0.0, 1.0)),     # unrelated singleton, untouched
    ]
    emb = spark.createDataFrame(
        rows, "vec_id long, embedding array<double>")
    kept = {r.vec_id for r in
            semantic_dedup(emb, threshold=0.95).collect()}
    assert 99 in kept
    assert len(kept) == 2
    rep = {r.vec_id: (r.keep, r.score)
           for r in semantic_dedup_report(emb, threshold=0.95).collect()}
    assert sum(1 for k, _ in rep.values() if k) == 1
    winner = next(v for v, (k, _) in rep.items() if k)
    assert rep[winner][1] == max(s for _, s in rep.values())


def _private_corpus(tmp_path, monkeypatch):
    """A corpus dir no other test has indexed, with the persisted artifacts
    redirected under tmp_path: every index lookup starts cold."""
    import shutil

    from dbt_demo_spark.sources import parquet

    d = tmp_path / "corpus"
    d.mkdir()
    shutil.copy(f"{SF_GATE}/embeddings.parquet", d / "embeddings.parquet")
    monkeypatch.setattr(parquet, "REPO_ROOT", str(tmp_path))
    return str(d)


def _rows(df):
    return sorted(map(tuple, df.collect()))


def test_embedding_dedup_indexed_equals_inline(spark, tmp_path, monkeypatch):
    """dedup_embedding_cosine (served from the persisted LSH index) returns
    the same rows, cosine doubles included, as its raw-scan twin."""
    from dbt_demo_spark.queries.llm_pipeline import (
        dedup_embedding_cosine, dedup_embedding_cosine_inline)

    d = _private_corpus(tmp_path, monkeypatch)
    served = _rows(dedup_embedding_cosine(spark, d))
    assert served and served == _rows(dedup_embedding_cosine_inline(spark, d))


def test_lsh_index_two_thread_cold_start_builds_once(spark, tmp_path,
                                                     monkeypatch):
    """sim_topk_lsh and dedup_embedding_cosine share one persisted LSH
    index; started together from a cold cache they must build it once —
    two overwrite-writes to one path crashed the 8-CPU bench — and both
    answer exactly like their raw-scan twins."""
    import threading
    import time

    from dbt_demo_spark.operators import similarity
    from dbt_demo_spark.queries.llm_pipeline import (
        dedup_embedding_cosine, dedup_embedding_cosine_inline, sim_topk_lsh,
        sim_topk_lsh_inline)

    d = _private_corpus(tmp_path, monkeypatch)
    builds = []
    real_build = similarity.build_lsh_index

    def slow_build(*args, **kwargs):
        builds.append(args[1])
        time.sleep(0.5)  # hold the race window open
        return real_build(*args, **kwargs)

    monkeypatch.setattr(similarity, "build_lsh_index", slow_build)
    start = threading.Barrier(2, timeout=60)
    out, errors = {}, []

    def call(fn):
        try:
            start.wait()
            out[fn.__name__] = _rows(fn(spark, d))
        except Exception as exc:  # noqa: BLE001 — reported below
            errors.append(exc)

    threads = [threading.Thread(target=call, args=(fn,))
               for fn in (sim_topk_lsh, dedup_embedding_cosine)]
    for t in threads:
        t.start()
    for t in threads:
        t.join(timeout=300)
    assert not any(t.is_alive() for t in threads)
    assert errors == []
    assert len(builds) == 1
    assert out["sim_topk_lsh"] == _rows(sim_topk_lsh_inline(spark, d))
    assert out["dedup_embedding_cosine"] == _rows(
        dedup_embedding_cosine_inline(spark, d))


def test_indexed_verify_raises_on_stale_gather_matrix(spark, tmp_path):
    """The indexed verify gathers both vectors of a pair by id.  An id the
    matrix lacks — between two ids, before the first or past the last —
    raises instead of scoring the row the sorted search lands on; the
    task-resident cache keeps one matrix only."""
    import numpy as np
    import pytest

    from dbt_demo_spark.operators import similarity

    index = similarity.build_lsh_index(
        load_table(spark, SF_GATE, "embeddings"), str(tmp_path / "lsh"))
    files = tuple(sorted(index.inputFiles()))
    ids, _, _ = similarity._gather_matrix(files)
    assert (similarity._gather_rows(ids, ids[::-1])
            == np.arange(len(ids))[::-1]).all()
    mid = len(ids) // 2
    for stale, missing in ((np.delete(ids, mid), ids[mid]),
                           (ids[1:], ids[0]),
                           (ids[:-1], ids[-1]),
                           (ids, ids[-1] + 1)):
        with pytest.raises(ValueError, match="stale"):
            similarity._gather_rows(stale, np.array([ids[mid], missing]))
    similarity._gather_matrix(files[:1])
    assert list(similarity._GATHER_CACHE) == [files[:1]]
