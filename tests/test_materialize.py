"""Driver-built rows (the lineage row, query vectors, component labels)
reach Spark without a Python RDD, committed lineage rows keep the
lineage schema and values, and per-file lineage comes from footers."""

import time

import pytest

from metal_history_knowledge_graph_spark.operators.canonicalize import connected_components
from metal_history_knowledge_graph_spark.operators.embeddings import embed_texts_df
from metal_history_knowledge_graph_spark.operators.materialize import (
    LINEAGE_TABLE,
    PARTITION_LINEAGE_TABLE,
    commit_partition_lineage,
    commit_stage,
    stage_complete,
)

DDL = ("run_id string, stage string, status string, row_count long, "
       "metrics map<string,double>, committed_ts double")


def _lineage_rows(spark, store, monkeypatch):
    appended = []
    append = store.append

    def spy(df, name, *args, **kwargs):
        appended.append(df)
        append(df, name, *args, **kwargs)

    monkeypatch.setattr(store, "append", spy)
    commit_stage(store, "r1", "chunks", 12)  # metrics=None: an empty map
    commit_stage(store, "r1", "entities", 3, {"secs": 2, "rows": 3.5})
    return appended[0].unionByName(appended[1])


def _query_vectors(spark, store, monkeypatch):
    return embed_texts_df(spark, ["bands similar to sabbath", "doom"])


def _component_labels(spark, store, monkeypatch):
    forms = spark.sql("SELECT * FROM VALUES ('bands', 'sabbath'), ('bands', 'sabath'), "
                      "('bands', 'doom') AS t(entity_type, form_norm)")
    pairs = spark.sql("SELECT * FROM VALUES ('bands', 'sabath', 'sabbath') "
                      "AS t(entity_type, left, right)")
    labels = connected_components(forms, pairs)
    assert sorted(labels.collect()) == [
        ("bands", "doom", "doom"), ("bands", "sabath", "sabath"),
        ("bands", "sabbath", "sabath")]
    return labels


def _no_pair_labels(spark, store, monkeypatch):
    # no verified pair: the components kernel hands back an empty frame
    forms = spark.sql("SELECT * FROM VALUES ('bands', 'doom') AS t(entity_type, form_norm)")
    pairs = spark.sql("SELECT 'bands' AS entity_type, 'a' AS left, 'b' AS right").limit(0)
    labels = connected_components(forms, pairs)
    assert labels.collect() == [("bands", "doom", "doom")]
    return labels


@pytest.mark.parametrize(
    "build", [_lineage_rows, _query_vectors, _component_labels, _no_pair_labels],
    ids=["commit_stage", "embed_texts_df", "connected_components", "no_pairs"])
def test_local_rows_skip_python_rdd(spark, store, monkeypatch, build):
    # session.local_frame rows cross as Arrow into a LocalRelation; a
    # Python list becomes a LogicalRDD with worker tasks
    plan = build(spark, store, monkeypatch)._jdf.queryExecution().analyzed().toString()
    assert "LogicalRDD" not in plan, plan


def test_commit_stage_row(spark, store):
    t0 = time.time()
    commit_stage(store, "r1", "chunks", 12)
    commit_stage(store, "r1", "entities", 3, {"secs": 2, "rows": 3.5})
    t1 = time.time()

    lineage = store.read(LINEAGE_TABLE)
    assert lineage.schema == spark.createDataFrame([], DDL).schema
    rows = sorted(lineage.collect(), key=lambda r: r.stage)
    assert [(r.run_id, r.stage, r.status, r.row_count, r.metrics) for r in rows] == [
        ("r1", "chunks", "complete", 12, {}),
        ("r1", "entities", "complete", 3, {"secs": 2.0, "rows": 3.5}),
    ]
    assert all(t0 <= r.committed_ts <= t1 for r in rows)
    assert stage_complete(store, "r1", "entities")
    assert not stage_complete(store, "r1", "edges")


def test_files_reads_footer_stats(store):
    import os

    import pyarrow as pa
    import pyarrow.parquet as pq

    os.makedirs(os.path.join(store.root, "t", "p=1"))
    a = os.path.join(store.root, "t", "p=1", "part-a.parquet")
    b = os.path.join(store.root, "t", "part-b.parquet")
    # two row groups with stats; a file written without any
    pq.write_table(pa.table({"k": ["m", "x", "b"], "v": [1, 2, 3]}), a, row_group_size=2)
    pq.write_table(pa.table({"k": ["c", "d"], "v": [4, 5]}), b, write_statistics=False)
    assert sorted(store.files("t", "k")) == [(a, 3, "b", "x"), (b, 2, None, None)]


def test_partition_lineage_commit_starts_one_job(spark, store, jobs_started):
    df = spark.range(12).selectExpr("id % 3 AS p", "format_string('k%02d', id) AS k")
    store.write(df.repartition(2), "t", partition_by=["p"])
    files = store.files("t", "k")
    (rows, n_files), jobs = jobs_started(
        lambda: commit_partition_lineage(store, "t", "r1", "t", "k"))
    assert jobs == 1  # the append; the footers are read on the driver
    assert (rows, n_files) == (12, len(files))
    recs = store.read(PARTITION_LINEAGE_TABLE).collect()
    assert sorted((r.file, r.row_count, r.key_min, r.key_max) for r in recs) == sorted(files)
    assert {(r.run_id, r.stage) for r in recs} == {("r1", "t")}
    assert min(r.key_min for r in recs) == "k00"
    assert max(r.key_max for r in recs) == "k11"
