import shutil
import uuid

import pytest


@pytest.fixture(scope="session")
def spark():
    from metal_history_knowledge_graph_spark.session import get_spark

    s = get_spark(app_name="kg-tests")
    s.sparkContext.setLogLevel("ERROR")
    yield s
    s.stop()


@pytest.fixture()
def store(spark, tmp_path):
    from metal_history_knowledge_graph_spark.io import TableStore

    root = str(tmp_path / "kgstore")
    yield TableStore(spark, root)
    shutil.rmtree(root, ignore_errors=True)


@pytest.fixture()
def jobs_started(spark):
    """``jobs_started(fn) -> (fn(), number of Spark jobs fn started)``,
    counted under a fresh job group with the status tracker."""
    def count(fn):
        sc, group = spark.sparkContext, f"count-{uuid.uuid4().hex}"
        sc.setJobGroup(group, group)
        try:
            out = fn()
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
            sc.setLocalProperty("spark.job.description", None)
        return out, len(sc.statusTracker().getJobIdsForGroup(group))
    return count
