"""SparkSession factory with the configuration this engine assumes.

Tuned for correctness-at-scale defaults: AQE on (runtime re-planning +
skew-join splitting), Arrow on (every write-path UDF takes and returns
Arrow batches), explicit shuffle partitioning.

On a real cluster these confs ride along unchanged via
``spark-submit --py-files``; only master/executor sizing differs.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import StructType

#: Confs that matter for this engine regardless of deployment.
ENGINE_CONFS: dict[str, str] = {
    # Adaptive execution: runtime shuffle-partition coalescing and
    # skew-join splitting — the famous-band hot key relies on this
    # plus our explicit salting (operators/canonicalize.py).
    "spark.sql.adaptive.enabled": "true",
    "spark.sql.adaptive.coalescePartitions.enabled": "true",
    "spark.sql.adaptive.skewJoin.enabled": "true",
    # Arrow is the data plane between JVM and Python: the write path's
    # UDFs are mapInArrow / applyInArrow / arrow_udf, and driver-side
    # rows cross as Arrow tables (local_frame).
    "spark.sql.execution.arrow.pyspark.enabled": "true",
    "spark.sql.execution.arrow.maxRecordsPerBatch": "4096",
    # Dimension tables (alias dict, canonical-name map, predicate
    # whitelist) are small; keep the broadcast threshold generous so
    # Catalyst picks broadcast joins for id resolution.
    "spark.sql.autoBroadcastJoinThreshold": str(64 * 1024 * 1024),
    # Deterministic timezone/locale behaviour.
    "spark.sql.session.timeZone": "UTC",
    # ANSI off: the reference semantics are permissive (nulls on bad
    # casts), and we never want a job-killing overflow at 100 TB.
    "spark.sql.ansi.enabled": "false",
    # collect_set/collect_list aggregations (triple provenance pooling,
    # variation tracking) run on ObjectHashAggregate, which silently
    # degrades to a per-partition SORT of the full mention stream once
    # the hash map passes 128 keys (the Spark default). Our grouping
    # keys are vocabulary-sized (10^3..10^5 facts), far past 128 but
    # trivially memory-safe, so keep the hash path.
    "spark.sql.objectHashAggregate.sortBased.fallbackThreshold": "131072",
    # KG tables are partitioned by entity_type (18 dirs) or pred (33);
    # the extraction schema bounds those counts, not the data volume.
    # Past the default threshold of 32 dirs Spark lists them with a
    # distributed job (~0.3 s for 33 local dirs on every open of
    # edges); the driver lists a few hundred dirs faster than that.
    # Iceberg reads never list.
    "spark.sql.sources.parallelPartitionDiscovery.threshold": "1024",
}


#: Directory that holds this package. Python workers import the package
#: by name, and a local-mode worker's own ``sys.path`` only covers its
#: working directory, so this goes first on the executors' PYTHONPATH.
_PACKAGE_PARENT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def local_cores() -> int:
    """Cores for a local master: ``$SPARK_GRAFT_CPUS`` when set, else
    the CPUs this process may run on."""
    env = os.environ.get("SPARK_GRAFT_CPUS")
    return int(env) if env else len(os.sched_getaffinity(0))


def driver_heap_gb() -> int:
    """Default driver heap: a quarter of physical memory, between 2 and
    8 GB, so the Python workers keep room on the box."""
    total = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES")
    return max(2, min(8, total // (4 << 30)))


def arrow_schema(ddl: str):
    """Arrow schema of a DDL string, built on the driver (the parse
    needs the JVM) and shipped to the workers inside a UDF closure."""
    from pyspark.sql.pandas.types import to_arrow_schema

    return to_arrow_schema(StructType.fromDDL(ddl))


def local_frame(spark: SparkSession, rows: list[tuple], ddl: str) -> DataFrame:
    """A DataFrame of driver-side ``rows`` (tuples in ``ddl`` column
    order). Built as an Arrow table, column by column, the rows cross
    into a LocalRelation (also when there are none); a Python list
    would become a Python RDD and start worker tasks."""
    import pyarrow as pa

    schema = arrow_schema(ddl)
    cols = list(zip(*rows)) or [()] * len(schema)
    table = pa.Table.from_arrays(
        [pa.array(c, type=f.type) for c, f in zip(cols, schema)], schema=schema)
    return spark.createDataFrame(table, ddl)


def get_spark(
    app_name: str = "metal-history-kg",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_confs: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or fetch) the engine's SparkSession.

    ``master`` defaults to ``local[local_cores()]`` in the sandbox;
    on a cluster leave it unset and let spark-submit supply it. The
    driver heap is ``$SPARK_DRIVER_MEM``, else ``driver_heap_gb()``.
    """
    builder = SparkSession.builder.appName(app_name)
    if master is None and os.environ.get("SPARK_MASTER") is None:
        master = f"local[{local_cores()}]"
    if master:
        builder = builder.master(master)

    confs = dict(ENGINE_CONFS)
    if shuffle_partitions is None:
        shuffle_partitions = local_cores()
    confs["spark.sql.shuffle.partitions"] = str(shuffle_partitions)
    confs["spark.driver.memory"] = os.environ.get(
        "SPARK_DRIVER_MEM", f"{driver_heap_gb()}g")
    if extra_confs:
        confs.update(extra_confs)
    paths = confs.get("spark.executorEnv.PYTHONPATH", "").split(os.pathsep)
    confs["spark.executorEnv.PYTHONPATH"] = os.pathsep.join(
        dict.fromkeys(p for p in [_PACKAGE_PARENT, *paths] if p)
    )
    for k, v in confs.items():
        builder = builder.config(k, v)
    return builder.getOrCreate()


def stop_spark() -> None:
    active = SparkSession.getActiveSession()
    if active is not None:
        active.stop()
