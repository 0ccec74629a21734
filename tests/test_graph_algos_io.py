"""Graph algorithms, location synthesis, and TableStore reads and upserts."""

import pytest
from pyspark.sql import functions as F

from metal_history_knowledge_graph_spark.operators.graph_algos import (
    betweenness_sampled,
    component_sizes,
    graph_components,
)
from metal_history_knowledge_graph_spark.operators.locations import (
    merge_synthesized_locations,
    synthesize_locations,
)

EDGE_SCHEMA = (
    "edge_key string, subj_id long, subj_name string, pred string, "
    "obj_id long, obj_name string"
)


@pytest.fixture()
def toy_edges(spark):
    # two components: {1,2,3} (triangle) and {10,11}
    rows = [
        ("e1", 1, "a", "INFLUENCED_BY", 2, "b"),
        ("e2", 2, "b", "INFLUENCED_BY", 3, "c"),
        ("e3", 3, "c", "INFLUENCED_BY", 1, "a"),
        ("e4", 10, "x", "MEMBER_OF", 11, "y"),
    ]
    return spark.createDataFrame(rows, EDGE_SCHEMA)


def test_graph_components_driver_path(toy_edges):
    comp = {r.node_id: r.component_id for r in graph_components(toy_edges).collect()}
    assert comp[1] == comp[2] == comp[3]
    assert comp[10] == comp[11]
    assert comp[1] != comp[10]


def test_graph_components_distributed_path(toy_edges):
    comp = {
        r.node_id: r.component_id
        for r in graph_components(toy_edges, driver_edge_limit=0).collect()
    }
    assert comp[1] == comp[2] == comp[3]
    assert comp[10] == comp[11]
    assert comp[1] != comp[10]


def test_component_sizes(toy_edges):
    sizes = [r.n_nodes for r in component_sizes(toy_edges).collect()]
    assert sizes == [3, 2]


def test_betweenness_path_graph(spark):
    # path 1-2-3-4-5: node 3 is on the most shortest paths
    rows = [(f"e{i}", i, str(i), "INFLUENCED_BY", i + 1, str(i + 1)) for i in range(1, 5)]
    edges = spark.createDataFrame(rows, EDGE_SCHEMA)
    bt = {r.node_id: r.betweenness for r in betweenness_sampled(edges).collect()}
    assert bt[3] == max(bt.values())
    assert 1 not in bt or bt[1] <= bt[2]


def test_synthesize_locations(spark):
    ents = spark.createDataFrame(
        [
            ("bands", 1, "Black Sabbath", "black sabbath", "a",
             '{"formed_year":1968,"origin_city":"Birmingham","origin_country":"England"}',
             ["Black Sabbath"], ["black sabbath"], 5, 1, 0.5, 2, []),
            ("bands", 2, "Judas Priest", "judas priest", "b",
             '{"formed_year":1969,"origin_city":"Birmingham","origin_country":"England"}',
             ["Judas Priest"], ["judas priest"], 3, 1, 0.5, 1, []),
        ],
        "entity_type string, canonical_id long, canonical_name string, "
        "name_norm string, first_seen string, attrs_json string, "
        "variations array<string>, member_forms array<string>, "
        "n_mentions long, n_forms int, confidence double, n_sources long, "
        "source_urls array<string>",
    )
    synth = synthesize_locations(ents).collect()
    assert len(synth) == 1
    row = synth[0]
    assert row.canonical_name == "Birmingham"
    import json
    attrs = json.loads(row.attrs_json)
    assert attrs["cultural_context"] == "Home to bands: Black Sabbath, Judas Priest"
    merged = merge_synthesized_locations(ents)
    assert merged.filter(F.col("entity_type") == "locations").count() == 1


def test_merge_upsert(spark, store):
    df1 = spark.createDataFrame([(1, "a"), (2, "b")], "k long, v string")
    store.write(df1, "t")
    updates = spark.createDataFrame([(2, "B"), (3, "c")], "k long, v string")
    store.merge_upsert(updates, "t", keys=["k"])
    rows = {r.k: r.v for r in store.read("t").collect()}
    assert rows == {1: "a", 2: "B", 3: "c"}


def test_merge_upsert_creates_table(spark, store):
    df = spark.createDataFrame([(1, "a")], "k long, v string")
    store.merge_upsert(df, "fresh", keys=["k"])
    assert store.read("fresh").count() == 1


def test_store_reopen_starts_no_jobs(spark, store, jobs_started):
    # 40 partition dirs: past Spark's default parallel-listing threshold
    store.write(spark.range(40).selectExpr("id AS k", "id * 2 AS v"), "wide",
                partition_by=["k"])
    first = store.read("wide")
    again, jobs = jobs_started(lambda: store.read("wide"))
    assert jobs == 0
    assert again.schema == first.schema  # inferred types: k reads back as int
    assert sorted(again.collect()) == sorted(first.collect())


def test_store_read_sees_other_writers(spark, store):
    from metal_history_knowledge_graph_spark.io import TableStore

    store.write(spark.range(4).selectExpr("id", "id % 2 AS p"), "t", partition_by=["p"])
    assert store.read("t").columns == ["id", "p"]
    other = TableStore(spark, store.root)
    other.write(spark.range(4).selectExpr("id", "id * 10 AS extra", "id % 2 AS p"),
                "t", partition_by=["p"])
    assert store.read("t").columns == ["id", "extra", "p"]
    store.append(spark.range(4, 6).selectExpr("id", "id * 10 AS extra", "id % 2 AS p"),
                 "t", partition_by=["p"])
    assert sorted(r.id for r in store.read("t").collect()) == list(range(6))


def test_betweenness_distributed_matches_driver(spark):
    # richer graph: two rings joined by a bridge + a chord
    pairs = [(1, 2), (2, 3), (3, 4), (4, 1), (4, 5), (5, 6), (6, 7),
             (7, 8), (8, 5), (2, 4), (3, 7)]
    rows = [(f"e{i}", a, str(a), "INFLUENCED_BY", b, str(b))
            for i, (a, b) in enumerate(pairs)]
    edges = spark.createDataFrame(rows, EDGE_SCHEMA)
    driver = {
        (r.node_id, r.betweenness)
        for r in betweenness_sampled(edges, n_sources=8, max_hops=6).collect()
    }
    distributed = {
        (r.node_id, r.betweenness)
        for r in betweenness_sampled(
            edges, n_sources=8, max_hops=6, driver_edge_limit=0
        ).collect()
    }
    assert driver == distributed
    assert driver, "graph has interior nodes"


def test_read_bucketed_survives_catalog_loss(spark, store):
    """Simulate a new SparkSession (no persistent metastore): drop the
    catalog entry, keep the data + bucket-spec sidecar — read_bucketed
    must re-register with CLUSTERED BY intact so co-bucketed joins
    still plan without an Exchange."""
    df = spark.createDataFrame([(i, f"v{i}") for i in range(100)], "k long, v string")
    store.write_bucketed(df, "bk", bucket_cols=["k"], n_buckets=4)
    ident = store._table_ident("bk")
    spark.sql(f"DROP TABLE IF EXISTS {ident}")  # catalog gone, data stays

    back = store.read_bucketed("bk")
    assert back.count() == 100
    # bucket spec recovered: self-join on the bucket key needs no shuffle
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        a = store.read_bucketed("bk")
        b = store.read_bucketed("bk").withColumnRenamed("v", "v2")
        plan = a.join(b, "k")._jdf.queryExecution().executedPlan().toString()
        assert "Exchange" not in plan
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "10485760")


def test_table_ident_distinct_roots(spark, tmp_path):
    from metal_history_knowledge_graph_spark.io import TableStore

    import os
    r1 = str(tmp_path / "a" / "b")
    r2 = str(tmp_path / "a_b")
    os.makedirs(r1, exist_ok=True)
    s1, s2 = TableStore(spark, r1), TableStore(spark, r2)
    assert s1._table_ident("t") != s2._table_ident("t")


def test_compact_unpartitioned(spark, store):
    """12 small appends -> >=12 files; one compaction pass -> 1 file,
    identical rows (the streaming-append maintenance path)."""
    for i in range(12):
        df = spark.createDataFrame([(i * 10 + j, f"v{i}") for j in range(10)], "k long, v string")
        store.append(df, "t")
    before = store.file_stats("t")
    assert before["n_files"] >= 12

    report = store.compact("t", target_file_bytes=1 << 30)
    assert report["files_before"] == before["n_files"]
    assert report["files_after"] == 1
    rows = sorted((r.k, r.v) for r in store.read("t").collect())
    assert rows == sorted((i * 10 + j, f"v{i}") for i in range(12) for j in range(10))


def test_compact_partitioned_preserves_layout(spark, store):
    """Partitioned compaction: per-partition rewrite keeps the hive dir
    layout (partition pruning intact), dedupes the small files, and a
    hot partition is allowed more output files than a cold one."""
    import os

    df = spark.createDataFrame(
        [("hot", j) for j in range(800)] + [("cold", j) for j in range(16)],
        "part string, k long",
    )
    # 16-task write -> up to 16 small files in each partition dir
    store.write(df.repartition(16), "pt", partition_by=["part"])
    assert store.file_stats("pt")["n_files"] >= 8
    before_rows = sorted((r.part, r.k) for r in store.read("pt").collect())

    report = store.compact("pt", target_file_bytes=1 << 30, partition_by=["part"])
    after = store.file_stats("pt")
    assert report["files_after"] == after["n_files"] <= report["files_before"]
    # layout preserved: hive dirs per partition value
    root = os.path.join(store.root, "pt")
    assert sorted(d for d in os.listdir(root) if d.startswith("part=")) == [
        "part=cold", "part=hot",
    ]
    assert sorted((r.part, r.k) for r in store.read("pt").collect()) == before_rows


def test_compact_sorted_ranges(spark, store):
    """sort_cols compaction = the CREATE INDEX analogue: output files
    cover disjoint, ordered key ranges (parquet footer min/max prunes a
    point lookup to one file)."""
    import pyarrow.parquet as pq
    import os

    df = spark.createDataFrame(
        [(f"name_{i:05d}", i) for i in range(4000)], "name string, v long"
    )
    store.write(df.repartition(8), "s")
    sz = store.file_stats("s")
    # target ~1/4 of the table -> >=2 output files
    report = store.compact("s", target_file_bytes=sz["total_bytes"] // 4, sort_cols=["name"])
    assert report["files_after"] >= 2

    ranges = []
    root = os.path.join(store.root, "s")
    for f in sorted(os.listdir(root)):
        if not f.endswith(".parquet"):
            continue
        md = pq.read_metadata(os.path.join(root, f))
        mins, maxs = [], []
        for rg in range(md.num_row_groups):
            col = md.row_group(rg).column(0)
            mins.append(col.statistics.min)
            maxs.append(col.statistics.max)
        ranges.append((min(mins), max(maxs)))
    ranges.sort()
    for (lo1, hi1), (lo2, hi2) in zip(ranges, ranges[1:]):
        assert hi1 <= lo2  # disjoint, ordered key ranges across files
    # content unchanged
    assert store.read("s").count() == 4000


def test_optimize_store(spark, store):
    """optimize_database.py analogue over the graph tables: layout
    rewrite preserves rows + partition dirs, reduces file counts."""
    import os
    from metal_history_knowledge_graph_spark.operators.materialize import optimize_store

    ents = spark.createDataFrame(
        [("bands", f"Band {i}", f"band {i}", i) for i in range(50)]
        + [("people", f"P {i}", f"p {i}", 100 + i) for i in range(50)],
        "entity_type string, canonical_name string, name_norm string, canonical_id long",
    )
    edges = spark.createDataFrame(
        [("MEMBER_OF", f"P {i}", 100 + i, i % 50) for i in range(50)],
        "pred string, subj_name string, subj_id long, obj_id long",
    )
    store.write(ents.repartition(8), "entities", partition_by=["entity_type"])
    store.write(edges.repartition(8), "edges", partition_by=["pred"])
    before_e = store.file_stats("entities")["n_files"]

    reports = optimize_store(store, target_file_bytes=1 << 30)
    assert reports["entities"]["files_after"] <= before_e
    assert store.read("entities").count() == 100
    assert store.read("edges").count() == 50
    root = os.path.join(store.root, "entities")
    assert sorted(d for d in os.listdir(root) if "=" in d) == [
        "entity_type=bands", "entity_type=people",
    ]


def test_merge_upsert_preserves_partition_layout(spark, store, tmp_path):
    import os

    from pyspark.sql import functions as F

    df = spark.createDataFrame([(1, "x", 1), (2, "y", 2)], "k long, p string, v long")
    store.write(df, "part_t", partition_by=["p"])
    store.merge_upsert(
        spark.createDataFrame([(1, "x", 9), (3, "z", 3)], "k long, p string, v long"),
        "part_t", keys=["k"], partition_by=["p"],
    )
    root = store._path("part_t")
    assert any(d.startswith("p=") for d in os.listdir(root)), "hive layout lost"
    rows = {r.k: (r.p, r.v) for r in store.read("part_t").collect()}
    assert rows == {1: ("x", 9), 2: ("y", 2), 3: ("z", 3)}


def test_merge_upsert_null_keys_match_null_safely(spark, store):
    df = spark.createDataFrame([(None, 1), (5, 2)], "k long, v long")
    store.merge_upsert(df, "null_t", keys=["k"])
    store.merge_upsert(
        spark.createDataFrame([(None, 9)], "k long, v long"), "null_t", keys=["k"]
    )
    rows = [(r.k, r.v) for r in store.read("null_t").collect()]
    # the NULL-key row updates in place (Iceberg <=> parity), never duplicates
    assert sorted(rows, key=str) == sorted([(5, 2), (None, 9)], key=str)


def test_compact_sizes_escaped_and_null_partitions(spark, store):
    # values that hive-escape in dir names ('new wave' -> 'new%20wave')
    # and a NULL partition must still be found by the sizing join
    df = spark.createDataFrame(
        [(i, "new wave" if i % 2 == 0 else None) for i in range(100)],
        "k long, p string",
    ).repartition(8)
    store.write(df, "esc_t", partition_by=["p"])
    out = store.compact("esc_t", target_file_bytes=10**9, partition_by=["p"])
    assert out["files_after"] <= out["files_before"]
    rows = store.read("esc_t")
    assert rows.count() == 100
    assert rows.filter("p IS NULL").count() == 50
    assert rows.filter("p = 'new wave'").count() == 50


def test_merge_upsert_pruned_rewrites_only_touched_partition(spark, store):
    """partition_by ⊆ keys → the pruned path must leave untouched
    partitions' files byte-identical on disk (same paths, same
    mtime/inode), not rewrite the whole table."""
    import os

    df = spark.createDataFrame(
        [("x", 1, 10), ("x", 2, 20), ("y", 1, 30), ("y", 2, 40)],
        "p string, k long, v long",
    )
    store.write(df, "pruned_t", partition_by=["p"])
    ydir = os.path.join(store._path("pruned_t"), "p=y")
    before = {
        f: (os.stat(os.path.join(ydir, f)).st_ino,
            os.stat(os.path.join(ydir, f)).st_mtime_ns)
        for f in os.listdir(ydir) if f.endswith(".parquet")
    }
    store.merge_upsert(
        spark.createDataFrame([("x", 2, 99), ("x", 3, 77)], "p string, k long, v long"),
        "pruned_t", keys=["p", "k"], partition_by=["p"],
    )
    after = {
        f: (os.stat(os.path.join(ydir, f)).st_ino,
            os.stat(os.path.join(ydir, f)).st_mtime_ns)
        for f in os.listdir(ydir) if f.endswith(".parquet")
    }
    assert after == before, "untouched partition p=y was rewritten"
    rows = {(r.p, r.k): r.v for r in store.read("pruned_t").collect()}
    assert rows == {("x", 1): 10, ("x", 2): 99, ("x", 3): 77,
                    ("y", 1): 30, ("y", 2): 40}


def test_merge_upsert_infers_partition_layout(spark, store):
    """Omitting partition_by on a hive-partitioned table must infer the
    layout from the col=val dirs instead of silently flattening it."""
    import os

    df = spark.createDataFrame([(1, "x", 1), (2, "y", 2)], "k long, p string, v long")
    store.write(df, "infer_t", partition_by=["p"])
    store.merge_upsert(
        spark.createDataFrame([(1, "x", 9)], "k long, p string, v long"),
        "infer_t", keys=["k"],  # no partition_by on purpose
    )
    root = store._path("infer_t")
    assert any(d.startswith("p=") for d in os.listdir(root)), "layout flattened"
    rows = {r.k: (r.p, r.v) for r in store.read("infer_t").collect()}
    assert rows == {1: ("x", 9), 2: ("y", 2)}


def test_compact_infers_partition_layout(spark, store):
    import os

    df = spark.createDataFrame(
        [(i, "a" if i % 2 else "b") for i in range(40)], "k long, p string"
    ).repartition(4)
    store.write(df, "cinfer_t", partition_by=["p"])
    store.compact("cinfer_t", target_file_bytes=10**9)  # no partition_by
    root = store._path("cinfer_t")
    assert any(d.startswith("p=") for d in os.listdir(root)), "layout flattened"
    assert store.read("cinfer_t").count() == 40


def test_merge_upsert_pruned_multilevel_partitions(spark, store):
    """Depth-2 hive layout (a=…/b=…): the staged leaf-dir swap must
    handle nested partition dirs and keep key semantics."""
    df = spark.createDataFrame(
        [("x", 1, 1, 10), ("x", 2, 2, 20), ("y", 1, 3, 30)],
        "a string, b long, k long, v long",
    )
    store.write(df, "ml_t", partition_by=["a", "b"])
    store.merge_upsert(
        spark.createDataFrame([("x", 1, 1, 99), ("z", 9, 4, 40)],
                              "a string, b long, k long, v long"),
        "ml_t", keys=["a", "b", "k"], partition_by=["a", "b"],
    )
    rows = {(r.a, r.b, r.k): r.v for r in store.read("ml_t").collect()}
    assert rows == {("x", 1, 1): 99, ("x", 2, 2): 20,
                    ("y", 1, 3): 30, ("z", 9, 4): 40}
