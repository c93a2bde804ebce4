import tempfile
import uuid

import pytest

from wms_data_pipeline_spark.session import get_spark


@pytest.fixture(scope="session")
def spark():
    s = get_spark("wms-tests", master="local[4]", extra_conf={
        "spark.sql.shuffle.partitions": "4",
        "spark.sql.warehouse.dir": tempfile.mkdtemp(prefix="wms-wh-"),
    })
    s.sparkContext.setLogLevel("ERROR")
    yield s
    s.stop()


@pytest.fixture
def jobs_of(spark):
    """``jobs_of(fn)`` -> (``fn()``, ids of the Spark jobs it submitted),
    counted through a job group of its own."""
    sc = spark.sparkContext

    def run(fn):
        group = f"jobs-of-{uuid.uuid4().hex}"
        sc.setJobGroup(group, group)
        try:
            out = fn()
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
        return out, list(sc.statusTracker().getJobIdsForGroup(group))

    return run
