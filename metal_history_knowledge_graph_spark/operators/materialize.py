"""Graph materialization + lineage/metrics checkpoints.

Entity and edge tables are partitioned by ``entity_type`` / ``pred`` —
the Spark replacement for the reference's per-type Kuzu node/edge
tables (``src/schema/initialize_kuzu.py:26-220``): partition pruning
makes per-type/per-predicate queries scan only their slice.

The lineage table is the resume contract (modeled on the reference's
chunk checkpoint, ``scripts/automation/batch_extraction.py:39-66``):
one row per (run_id, stage) commit with row counts and metrics. A
re-run with the same run_id skips completed stages (their tables are
already committed); an incremental run anti-joins new pages against
the processed-urls record. All writes go through TableStore, so on
Iceberg each commit is a snapshot — exact resume falls out.
"""

from __future__ import annotations

import time

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..io import TableStore
from ..session import local_frame

LINEAGE_TABLE = "lineage"
LINEAGE_SCHEMA = (
    "run_id string, stage string, status string, row_count long, "
    "metrics map<string,double>, committed_ts double"
)


def stage_complete(store: TableStore, run_id: str, stage: str) -> bool:
    if not store.exists(LINEAGE_TABLE):
        return False
    n = (
        store.read(LINEAGE_TABLE)
        .filter(
            (F.col("run_id") == run_id)
            & (F.col("stage") == stage)
            & (F.col("status") == "complete")
        )
        .limit(1)
        .count()
    )
    return n > 0


def commit_stage(
    store: TableStore,
    run_id: str,
    stage: str,
    row_count: int,
    metrics: dict[str, float] | None = None,
) -> None:
    row = (run_id, stage, "complete", int(row_count),
           {k: float(v) for k, v in (metrics or {}).items()}, float(time.time()))
    store.append(local_frame(store.spark, [row], LINEAGE_SCHEMA), LINEAGE_TABLE)


PARTITION_LINEAGE_TABLE = "partition_lineage"


def partition_lineage(
    df: DataFrame, run_id: str, stage: str,
    key_col: str = "url", mismatch_col: str | None = None,
) -> DataFrame:
    """Per-physical-partition lineage record (north rule: key range +
    row count per partition — the audit/resume unit at scale), in ONE
    scan of the committed table. ``mismatch_col`` (boolean) fuses the
    byte-identity violation count into the same pass (chunks stage)."""
    aggs = [
        F.min(key_col).cast("string").alias("key_min"),
        F.max(key_col).cast("string").alias("key_max"),
        F.count(F.lit(1)).alias("row_count"),
        F.countDistinct(key_col).alias("n_keys"),
        (
            F.sum((~F.col(mismatch_col)).cast("long"))
            if mismatch_col is not None
            else F.max(F.lit(None).cast("long"))
        ).alias("n_mismatch"),
    ]
    return (
        df.groupBy(F.spark_partition_id().alias("partition_id"))
        .agg(*aggs)
        .withColumn("run_id", F.lit(run_id))
        .withColumn("stage", F.lit(stage))
    )


def commit_partition_lineage(store: TableStore, lineage: DataFrame) -> tuple[int, int]:
    """Append the (tiny) per-partition records; returns
    (total_rows, total_mismatch) summed over them so callers never
    rescan the big table for counts."""
    mat = lineage.localCheckpoint(eager=True)
    totals = mat.agg(F.sum("row_count"), F.sum("n_mismatch")).collect()[0]
    store.append(mat, PARTITION_LINEAGE_TABLE)
    return int(totals[0] or 0), int(totals[1] or 0)


def write_entities(store: TableStore, entities: DataFrame) -> None:
    store.write(entities, "entities", partition_by=["entity_type"])


def write_edges(store: TableStore, edges: DataFrame) -> None:
    store.write(edges, "edges", partition_by=["pred"])


def optimize_store(
    store: TableStore, target_file_bytes: int = 128 * 1024 * 1024
) -> dict[str, dict]:
    """Post-load layout optimization — the Spark analogue of the
    reference's index pass (``optimize_database.py:26-68`` creates
    Band(name)/Album(title)/… indexes). A columnar lake has no index
    structures; the equivalent is DATA LAYOUT: compact each graph
    table's files to target size and sort by its dominant lookup key
    inside the existing partition scheme, so point/range lookups prune
    via partition dirs + parquet footer min/max instead of scanning.
    On Iceberg the same pass is rewrite_data_files with sort orders.
    Returns the per-table compaction reports for monitors."""
    reports = {}
    reports["entities"] = store.compact(
        "entities", target_file_bytes,
        partition_by=["entity_type"], sort_cols=["name_norm"],
    )
    reports["edges"] = store.compact(
        "edges", target_file_bytes,
        partition_by=["pred"], sort_cols=["subj_name"],
    )
    for small in ("resolution", "entity_provenance", "edge_provenance"):
        if store.exists(small):
            reports[small] = store.compact(small, target_file_bytes)
    return reports


def verify_counts(store: TableStore) -> DataFrame:
    """Post-load verification counts (load_to_kuzu.py:863-907)."""
    ents = store.read("entities").groupBy("entity_type").agg(
        F.count(F.lit(1)).alias("n")
    ).withColumn("table", F.lit("entities"))
    edges = store.read("edges").groupBy(F.col("pred").alias("entity_type")).agg(
        F.count(F.lit(1)).alias("n")
    ).withColumn("table", F.lit("edges"))
    return ents.unionByName(edges)
