"""``workflows`` workload: the two product workflows on one session.

First the corpus funnel (funnel.py): ``pipeline.clean_corpus`` over the
generated corpus into an empty fingerprint index (and, in traced runs, a
re-ingest batch against the persisted index).  Then the dbt project
(dbt_build.py): ported by ``core.project``, built by ``Runner.build`` into
a fresh warehouse, then rebuilt with ``refresh="changed"`` and no change.

  cold_s     funnel batch 0 + full dbt build (state built from nothing)
  warm_s     no-op dbt refresh (state reused)
  ops_per_s  funnel documents ingested per second in batch 0
"""

from __future__ import annotations

import datagen
import dbt_build
import funnel


def make_inputs(run) -> dict:
    rows = datagen.generate(run.data, run.seed)
    rows.update(funnel.make_batch1(run))
    return rows


def run(run) -> None:
    f = funnel.run(run)
    d = dbt_build.run(run)
    run.e2e["cold_s"] = f["cold_s"] + d["cold_s"]
    run.e2e["warm_s"] = d["warm_s"]
    run.e2e["ops_per_s"] = f["docs"] / f["cold_s"]
