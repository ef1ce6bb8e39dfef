from __future__ import annotations

import uuid

import pytest

from novi_pdq_etl_project_prod_spark.session import get_spark

SF_SMOKE = "/root/testdata/sf0.001"
SF_ORACLE = "/root/testdata/sf0.01"


def pytest_collection_modifyitems(config, items):
    # how many parity tests this session actually selected — the sharded
    # oracle-parity fixture uses it to skip the full-catalog worker run
    # for small -k selections (test_oracle_parity.py)
    config._parity_selected = sum(
        1 for it in items if it.name.startswith("test_oracle_parity[")
    )
    # same contract for the sharded partitioning-invariance sweep
    config._invariance_selected = sum(
        1 for it in items if it.name.startswith("test_partitioning_invariance")
    )


@pytest.fixture(scope="session")
def spark(tmp_path_factory):
    wh = tmp_path_factory.mktemp("spark_warehouse")
    s = get_spark(
        app_name="tests",
        shuffle_partitions=8,
        extra_conf={"spark.sql.warehouse.dir": str(wh)},
    )
    yield s


def count_spark_jobs(spark, fn):
    """``(fn(), the number of Spark jobs fn ran)``, counted through a job
    group on the calling thread. Waits for the listener bus first: the
    status tracker learns of jobs asynchronously."""
    sc = spark.sparkContext
    group = f"counted-{uuid.uuid4().hex}"
    sc.setJobGroup(group, "counted")
    try:
        out = fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    return out, len(sc.statusTracker().getJobIdsForGroup(group))
