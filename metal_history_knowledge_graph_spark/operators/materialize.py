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

The partition-lineage table is the audit unit: one row per committed
data file with its row count and key range. Those numbers come from
the commit's own metadata (``TableStore.files``: parquet footers,
Iceberg manifests), so recording them never rescans the table.
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


def completed_stages(store: TableStore, run_id: str) -> set[str]:
    """Stages of ``run_id`` with a committed lineage row, in one
    filtered collect (a run's handful of lineage rows)."""
    if not store.exists(LINEAGE_TABLE):
        return set()
    rows = (
        store.read(LINEAGE_TABLE)
        .filter((F.col("run_id") == run_id) & (F.col("status") == "complete"))
        .select("stage")
        .collect()
    )
    return {r.stage for r in rows}


def stage_complete(store: TableStore, run_id: str, stage: str) -> bool:
    return stage in completed_stages(store, run_id)


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
PARTITION_LINEAGE_SCHEMA = (
    "run_id string, stage string, file string, row_count long, "
    "key_min string, key_max string"
)


def commit_partition_lineage(
    store: TableStore, name: str, run_id: str, stage: str, key_col: str
) -> tuple[int, int]:
    """Append one lineage row per committed data file of table ``name``
    (row count and ``key_col`` range, north rule: the audit/resume unit
    at scale) and return ``(total_rows, n_files)``. The numbers come
    from the file metadata (:meth:`TableStore.files`), so the commit
    starts one Spark job — the append — and never scans the table."""
    files = store.files(name, key_col)
    rows = [(run_id, stage, f, n, lo, hi) for f, n, lo, hi in files]
    store.append(local_frame(store.spark, rows, PARTITION_LINEAGE_SCHEMA),
                 PARTITION_LINEAGE_TABLE)
    return sum(n for _, n, _, _ in files), len(files)


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
