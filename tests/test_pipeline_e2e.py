"""Spark end-to-end: corpus → pipeline → graph tables, P/R gate,
dedup assertions (ported from the reference
tests/integration/test_end_to_end_pipeline.py:280-336), resume."""

import pytest
from pyspark.sql import functions as F

from metal_history_knowledge_graph_spark.plans.pipeline import run, run_incremental
from metal_history_knowledge_graph_spark.plans.quality import triple_prf
from metal_history_knowledge_graph_spark.sources.corpus import (
    generate_pages,
    generate_truth,
)

N_PAGES = 80


@pytest.fixture(scope="module")
def graph(spark, tmp_path_factory):
    from metal_history_knowledge_graph_spark.io import TableStore

    store = TableStore(spark, str(tmp_path_factory.mktemp("kgstore")))
    pages = generate_pages(spark, N_PAGES, seed=42)
    metrics = run(spark, pages, store, run_id="e2e")
    return store, metrics


def test_stages_produce_rows(graph):
    store, metrics = graph
    assert metrics["chunks_rows"] > N_PAGES
    assert metrics["extracted_rows"] > metrics["chunks_rows"]
    assert metrics["entities_rows"] > 20
    assert metrics["edges_rows"] > 50


def test_byte_identity_invariant(graph):
    store, _ = graph
    assert store.read("chunks").filter(~F.col("text_matches_crawl")).count() == 0


def test_triple_precision_recall(spark, graph):
    store, _ = graph
    truth = generate_truth(spark, N_PAGES, seed=42)
    prf = triple_prf(store.read("edges"), truth, store.read("entities"))
    assert prf["precision"] >= 0.95, prf
    assert prf["recall"] >= 0.95, prf


def test_sabbath_variants_merge_to_one(graph):
    """3+ pages of Sabbath variants yield exactly one band entity with
    multiple variations (reference test_end_to_end_pipeline.py:280-336)."""
    store, _ = graph
    ents = store.read("entities")
    sab = ents.filter(
        (F.col("entity_type") == "bands")
        & F.exists("variations", lambda v: F.lower(v) == "black sabbath")
    ).collect()
    assert len(sab) == 1
    row = sab[0]
    assert row.n_sources >= 3
    iommi = ents.filter(
        (F.col("entity_type") == "people")
        & F.exists("variations", lambda v: F.lower(v) == "tony iommi")
    ).collect()
    assert len(iommi) == 1


def test_no_cross_type_merge(graph):
    """Band 'Death' and genre 'death metal' etc. stay separate; every
    canonical group has a single entity_type by construction."""
    store, _ = graph
    ents = store.read("entities")
    # same normalized name appearing under two types must yield two rows
    dupes = (
        ents.groupBy("name_norm")
        .agg(F.countDistinct("entity_type").alias("n"), F.count("*").alias("rows"))
        .filter(F.col("n") > 1)
    )
    for r in dupes.collect():
        assert r.rows == r.n


def test_edges_unique_per_canonical_triple(graph):
    store, _ = graph
    edges = store.read("edges")
    dup = (
        edges.groupBy("subj_id", "pred", "obj_id")
        .count()
        .filter(F.col("count") > 1)
        .count()
    )
    assert dup == 0


def test_member_of_roles(graph):
    store, _ = graph
    edges = store.read("edges")
    member = edges.filter(
        (F.col("pred") == "MEMBER_OF") & (F.col("obj_name") == "Black Sabbath")
    )
    roles = {r["props"].get("role") for r in member.collect()}
    assert "guitarist" in roles or "guitar" in roles


def test_resume_skips_completed_stages(spark, graph):
    store, _ = graph
    pages = generate_pages(spark, N_PAGES, seed=42)
    metrics2 = run(spark, pages, store, run_id="e2e")
    assert metrics2.get("chunks_skipped") == 1.0
    assert metrics2.get("edges_skipped") == 1.0


def test_incremental_append(spark, graph):
    store, _ = graph
    before_edges = store.read("edges").count()
    before_urls = store.read("chunks").select("url").distinct().count()
    # 20 new pages (ids N..N+20) plus N old ones — old ones must be skipped
    new_pages = generate_pages(spark, N_PAGES + 20, seed=42)
    run_incremental(spark, new_pages, store, run_id="e2e-inc")
    after_urls = store.read("chunks").select("url").distinct().count()
    assert after_urls == before_urls + 20
    assert store.read("edges").count() >= before_edges
    # byte-identity: re-chunking the same url never duplicates
    per_url = (
        store.read("chunks").groupBy("url", "chunk_index").count()
        .filter(F.col("count") > 1).count()
    )
    assert per_url == 0


def test_partition_lineage_all_stages(spark, tmp_path):
    """Every stage commits one lineage row per committed data file,
    holding that file's own row count and key range; stage totals equal
    the committed tables' counts, and the stage rows carry the totals,
    the file counts and the byte-identity count."""
    import glob

    import pyarrow.compute as pc
    import pyarrow.parquet as pq

    from metal_history_knowledge_graph_spark.io import TableStore
    from metal_history_knowledge_graph_spark.plans.pipeline import run

    store = TableStore(spark, str(tmp_path / "plstore"))
    metrics = run(spark, generate_pages(spark, 25, seed=21), store, run_id="pl")
    pl = store.read("file_lineage").collect()
    stage_rows = {r.stage: r for r in store.read("lineage").collect()}
    keys = {"chunks": "url", "extracted": "url", "entities": "canonical_name",
            "edges": "edge_key"}
    assert {r.stage for r in pl} == set(keys)
    for stage, key in keys.items():
        recs = [r for r in pl if r.stage == stage]
        files = sorted(glob.glob(f"{store.root}/{stage}/**/part-*.parquet", recursive=True))
        assert sorted(r.file for r in recs) == files  # one record per data file
        for r in recs:
            col = pq.read_table(r.file, columns=[key]).column(key)
            lo_hi = pc.min_max(col).as_py()
            assert (r.row_count, r.key_min, r.key_max) == (
                len(col), lo_hi["min"], lo_hi["max"]), r.file
        total = sum(r.row_count for r in recs)
        assert total == store.read(stage).count()
        assert total == metrics[f"{stage}_rows"] == stage_rows[stage].row_count
        assert metrics[f"{stage}_files"] == len(files)
        assert stage_rows[stage].metrics["files"] == len(files)
    # the byte-identity count rides on the chunks write: zero violations
    assert stage_rows["chunks"].metrics["text_mismatch_urls"] == 0


def test_file_lineage_beside_old_partition_lineage(spark, tmp_path):
    """A store whose ``partition_lineage`` table holds the older
    per-partition rows keeps that table as it is, and a run writes its
    per-file rows to ``file_lineage``, every one with its file."""
    from metal_history_knowledge_graph_spark.io import TableStore

    store = TableStore(spark, str(tmp_path / "oldstore"))
    old = spark.createDataFrame(
        [(0, "a", "z", 7, 3, 0, "old", "chunks")],
        "partition_id int, key_min string, key_max string, row_count long, "
        "n_keys long, n_mismatch long, run_id string, stage string")
    store.write(old, "partition_lineage")
    run(spark, generate_pages(spark, 6, seed=5), store, run_id="new",
        until_stage="chunks")
    recs = store.read("file_lineage").collect()
    assert recs and all(r.file is not None for r in recs)
    assert {(r.run_id, r.stage) for r in recs} == {("new", "chunks")}
    assert TableStore(spark, store.root).read("partition_lineage").collect() == [
        (0, "a", "z", 7, 3, 0, "old", "chunks")]


def test_text_mismatch_counted(spark, tmp_path):
    """A page whose crawl text disagrees with its html shows up in the
    chunks stage row."""
    from metal_history_knowledge_graph_spark.io import TableStore

    pages = generate_pages(spark, 6, seed=5)
    url = pages.orderBy("url").first().url
    tampered = pages.withColumn("text", F.when(
        F.col("url") == url, F.concat("text", F.lit(" (edited)"))).otherwise(F.col("text")))
    store = TableStore(spark, str(tmp_path / "mmstore"))
    run(spark, tampered, store, run_id="mm", until_stage="chunks")
    row = store.read("lineage").collect()[0]
    assert row.stage == "chunks"
    assert row.metrics["text_mismatch_urls"] >= 1
