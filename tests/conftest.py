from __future__ import annotations

import pytest

from dbt_demo_spark.session import get_spark

SF_SMOKE = "/root/testdata/sf0.001"
SF_GATE = "/root/testdata/sf0.01"


@pytest.fixture(scope="session")
def spark():
    s = get_spark(app_name="dbt_demo_spark-tests", shuffle_partitions=8)
    yield s


def last_execution_id(spark) -> int:
    """Id of the newest SQL execution in the session's SQL status store."""
    it = (spark._jsparkSession.sharedState().statusStore()
          .executionsList().iterator())
    last = -1
    while it.hasNext():
        last = max(last, it.next().executionId())
    return last


def file_scans_since(spark, last_id: int) -> list[list[tuple[str, str]]]:
    """Per SQL execution after ``last_id``: (location, read schema) of each
    file scan in its executed plan, parsed from the plan description the
    SQL status store keeps (the final adaptive plan once the listener bus
    has drained)."""
    import re

    spark.sparkContext._jsc.sc().listenerBus().waitUntilEmpty(10_000)
    it = (spark._jsparkSession.sharedState().statusStore()
          .executionsList().iterator())
    plans = []
    while it.hasNext():
        e = it.next()
        if e.executionId() <= last_id:
            continue
        scans = []
        for node in e.physicalPlanDescription().split("\n\n"):
            loc = re.search(r"^Location: \S+ \[(.*)\]$", node, re.M)
            schema = re.search(r"^ReadSchema: (.*)$", node, re.M)
            if loc and schema:
                scans.append((loc.group(1), schema.group(1)))
        plans.append(scans)
    return plans
