"""The build-once artifact memo (sources/parquet.build_once): every catalog
mart, feature table and persisted index resolves to one object per
(session, sf_dir), however many threads start it cold at once."""

from __future__ import annotations

from tests.conftest import SF_SMOKE


def test_same_basename_dirs_get_distinct_artifact_paths(tmp_path):
    """Two corpus dirs sharing a basename must never share an on-disk
    artifact path (the second build would overwrite what the first
    handle reads) nor a catalog-table digest."""
    from dbt_demo_spark.sources.parquet import artifact_dir, path_digest

    a, b = str(tmp_path / "a" / "sf"), str(tmp_path / "b" / "sf")
    assert path_digest(a) != path_digest(b)
    pa, pb = artifact_dir(".lsh_index", a), artifact_dir(".lsh_index", b)
    assert pa != pb
    assert pa.endswith(f"/.lsh_index/sf-{path_digest(a)}")


def test_eight_thread_cold_start_builds_each_artifact_once(
        spark, tmp_path, monkeypatch):
    """8 threads released together each resolve all 11 artifacts, in a
    rotated order, over a corpus no other test has built: none errors or
    hangs, and every thread gets the same object per artifact (one build;
    a second overwrite-write to one path is what crashed the bench)."""
    import shutil
    import threading

    from dbt_demo_spark.queries import llm_pipeline as lp
    from dbt_demo_spark.queries import reference_surface as rs
    from dbt_demo_spark.queries.text_filters import bm25_stats_index
    from dbt_demo_spark.queries.tpch2 import partsupp_offer_mart
    from dbt_demo_spark.sources import parquet

    d = tmp_path / "sf"
    shutil.copytree(SF_SMOKE, d)
    d = str(d)
    monkeypatch.setattr(parquet, "REPO_ROOT", str(tmp_path))
    artifacts = (rs.month_partitioned_mart, rs.bucketed_order_marts,
                 rs.monthly_grain_marts, partsupp_offer_mart,
                 bm25_stats_index, lp._corpus_features,
                 lp._lsh_serving_index, lp._ivf_index, lp._pq_index,
                 lp._pq_residual_index, lp.hourly_user_grain_mart)
    n = 8
    got = {fn.__name__: [] for fn in artifacts}
    errors = []
    start = threading.Barrier(n, timeout=60)

    def resolve_all(i):
        try:
            start.wait()
            for fn in artifacts[i:] + artifacts[:i]:
                got[fn.__name__].append(fn(spark, d))
        except Exception as exc:  # noqa: BLE001 — reported below
            errors.append(exc)

    threads = [threading.Thread(target=resolve_all, args=(i,))
               for i in range(n)]
    for t in threads:
        t.start()
    for t in threads:
        t.join(timeout=600)
    assert not any(t.is_alive() for t in threads)
    assert errors == []
    for name, objs in got.items():
        assert len(objs) == n, name
        assert all(o is objs[0] for o in objs), name
