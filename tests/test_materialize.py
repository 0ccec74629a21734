"""Lineage commits: the one-row DataFrame is built without a Python RDD,
and the committed rows keep the lineage schema and values."""

import time

from metal_history_knowledge_graph_spark.operators.materialize import (
    LINEAGE_TABLE,
    commit_stage,
    stage_complete,
)

DDL = ("run_id string, stage string, status string, row_count long, "
       "metrics map<string,double>, committed_ts double")


def test_commit_stage_row(spark, store, monkeypatch):
    appended = []
    append = store.append

    def spy(df, name, *args, **kwargs):
        appended.append(df)
        append(df, name, *args, **kwargs)

    monkeypatch.setattr(store, "append", spy)
    t0 = time.time()
    commit_stage(store, "r1", "chunks", 12)
    commit_stage(store, "r1", "entities", 3, {"secs": 2, "rows": 3.5})
    t1 = time.time()

    for df in appended:
        plan = df._jdf.queryExecution().analyzed().toString()
        assert "LogicalRDD" not in plan, plan

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
