"""SparkSession factory: Python workers import the package from any
working directory."""

import os
import subprocess
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

_SCRIPT = f"""
import sys
sys.path.insert(0, {REPO!r})
from metal_history_knowledge_graph_spark.session import get_spark

spark = get_spark(app_name="worker-path", master="local[1]", shuffle_partitions=1)

def tag(batches):
    import metal_history_knowledge_graph_spark as pkg
    for pdf in batches:
        pdf["mod"] = pkg.__name__
        yield pdf

rows = spark.range(3).mapInPandas(tag, "id long, mod string").collect()
spark.stop()
assert [r.mod for r in rows] == ["metal_history_knowledge_graph_spark"] * 3, rows
print("ok")
"""


def test_workers_import_package_outside_repo(tmp_path):
    # the driver finds the package through sys.path only; nothing on the
    # environment's PYTHONPATH or the working directory points at it
    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
    env["SPARK_DRIVER_MEM"] = "1g"
    out = subprocess.run(
        [sys.executable, "-c", _SCRIPT], cwd=str(tmp_path), env=env,
        capture_output=True, text=True, timeout=600,
    )
    assert out.returncode == 0, out.stderr[-3000:]
    assert out.stdout.strip().endswith("ok")
