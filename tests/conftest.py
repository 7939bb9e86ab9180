from __future__ import annotations

import os
import tempfile
import uuid

import pytest

from colbert_live_spark.session import get_spark

# Must be set BEFORE the JVM launches: Spark's Python workers inherit the
# JVM's environment, and the mock:// test scheme (fsio) is env-registered
# precisely so those worker processes can resolve it (test_schemed_serving).
os.environ.setdefault("SPARK_GRAFT_MOCKFS_BASE",
                      tempfile.mkdtemp(prefix="mockfs_"))


def jobs_of(spark, call) -> list[int]:
    """Ids of the Spark jobs ``call`` runs, counted through a unique job
    group: the engine's driver thread pools inherit it, so their jobs
    count too. The listener bus is drained before the ids are read, so
    every job the call submitted is in the status store."""
    sc = spark.sparkContext
    group = f"jobs-{uuid.uuid4().hex}"
    sc.setJobGroup(group, group)
    try:
        call()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    return list(sc.statusTracker().getJobIdsForGroup(group))


@pytest.fixture(scope="session")
def mockfs_base():
    return os.environ["SPARK_GRAFT_MOCKFS_BASE"]


@pytest.fixture(scope="session")
def spark():
    s = get_spark("tests", cores=8, shuffle_partitions=8)
    yield s
    s.stop()


@pytest.fixture(scope="session")
def sf_dir():
    return "/root/testdata/sf0.001"


@pytest.fixture(scope="session")
def documents(spark, sf_dir):
    return spark.read.parquet(f"{sf_dir}/documents.parquet").cache()


@pytest.fixture(scope="session")
def oracle_index(documents):
    from colbert_live_spark.oracle import build_oracle_index
    rows = documents.select("doc_id", "text").collect()
    return build_oracle_index([(r.doc_id, r.text) for r in rows])
