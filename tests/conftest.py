from __future__ import annotations

import uuid

import pytest

from pdf_ocr_batch_ndrocr_lite_spark.plans.pipeline import build_session


@pytest.fixture(scope="session")
def spark():
    session = build_session(app_name="tests", master="local[4]",
                            shuffle_partitions=8)
    yield session
    session.stop()


@pytest.fixture
def spark_jobs(spark):
    """``spark_jobs(fn)`` -> (``fn()``, one list of stage names per Spark
    job ``fn`` ran), counted under a job group of its own."""
    sc = spark.sparkContext

    def run(fn):
        group = f"budget-{uuid.uuid4().hex}"
        sc.setJobGroup(group, group)
        try:
            result = fn()
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
            sc.setLocalProperty("spark.job.description", None)
        st = sc.statusTracker()
        jobs = [[s.name for s in map(st.getStageInfo,
                                     st.getJobInfo(j).stageIds) if s]
                for j in sorted(st.getJobIdsForGroup(group))]
        return result, jobs

    return run
