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
    """Every stage commits per-partition lineage (key range + row count
    per physical partition) and the recorded totals equal the committed
    tables' counts."""
    from pyspark.sql import functions as F

    from metal_history_knowledge_graph_spark.io import TableStore
    from metal_history_knowledge_graph_spark.plans.pipeline import run

    store = TableStore(spark, str(tmp_path / "plstore"))
    run(spark, generate_pages(spark, 25, seed=21), store, run_id="pl")
    pl = store.read("partition_lineage")
    stages = {r.stage for r in pl.select("stage").distinct().collect()}
    assert stages == {"chunks", "extracted", "entities", "edges"}
    totals = {
        r.stage: r.total
        for r in pl.groupBy("stage").agg(F.sum("row_count").alias("total")).collect()
    }
    assert totals["chunks"] == store.read("chunks").count()
    assert totals["extracted"] == store.read("extracted").count()
    assert totals["entities"] == store.read("entities").count()
    assert totals["edges"] == store.read("edges").count()
    # mismatch column fused only on the chunks scan, zero violations
    mm = {r.stage: r.m for r in pl.groupBy("stage")
          .agg(F.sum("n_mismatch").alias("m")).collect()}
    assert mm["chunks"] == 0
    assert mm["extracted"] is None
