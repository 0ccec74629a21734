import shutil

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
