"""Determinism contracts: kill-and-rerun identity (the BASELINE.md
resumability gate) and partition invariance (the pinned total order
makes output independent of physical data layout)."""

import pytest
from pyspark.sql import functions as F

from metal_history_knowledge_graph_spark.io import TableStore
from metal_history_knowledge_graph_spark.operators.canonicalize import canonicalize_core
from metal_history_knowledge_graph_spark.operators.chunk import chunk_pages
from metal_history_knowledge_graph_spark.operators.extract import (
    extract_chunks,
    mentions_of,
)
from metal_history_knowledge_graph_spark.plans.pipeline import run
from metal_history_knowledge_graph_spark.sources.corpus import generate_pages

N_PAGES = 40


def _edge_set(store):
    return {
        (r.pred, r.subj_name, r.obj_name, r.n_sources)
        for r in store.read("edges").collect()
    }


def _entity_set(store):
    return {
        (r.entity_type, r.canonical_name, tuple(sorted(r.variations)),
         r.n_mentions, r.attrs_json)
        for r in store.read("entities").collect()
    }


def test_kill_and_rerun_identity(spark, tmp_path):
    """Crash after the 'extracted' stage, rerun with the same run_id →
    tables identical to an uninterrupted run."""
    pages = generate_pages(spark, N_PAGES, seed=21)

    full = TableStore(spark, str(tmp_path / "full"))
    run(spark, pages, full, run_id="r", resume=False)

    crashed = TableStore(spark, str(tmp_path / "crashed"))
    m1 = run(spark, pages, crashed, run_id="r", until_stage="extracted")
    assert "entities_rows" not in m1  # really stopped mid-pipeline
    m2 = run(spark, pages, crashed, run_id="r", resume=True)
    assert m2.get("chunks_skipped") == 1.0 and m2.get("extracted_skipped") == 1.0
    assert m2["edges_rows"] > 0

    assert _edge_set(crashed) == _edge_set(full)
    assert _entity_set(crashed) == _entity_set(full)


def test_partition_invariance(spark):
    """Same mentions under wildly different physical partitionings →
    identical canonical entities (order is pinned by order_key, never
    by partition layout)."""
    pages = generate_pages(spark, 25, seed=33)
    extracted = extract_chunks(chunk_pages(pages)).localCheckpoint(eager=True)
    mentions = mentions_of(extracted)

    def canon_set(m):
        ents, _, _ = canonicalize_core(m, spark)
        return {
            (r.entity_type, r.canonical_name, r.attrs_json,
             tuple(sorted(r.variations)), r.n_mentions)
            for r in ents.collect()
        }

    a = canon_set(mentions.repartition(1))
    b = canon_set(mentions.repartition(17, "name"))
    assert a == b


def test_rerun_same_seed_identical(spark, tmp_path):
    """Two independent full runs over the same seed produce identical
    edge tables (no nondeterminism anywhere in the chain)."""
    s1 = TableStore(spark, str(tmp_path / "s1"))
    s2 = TableStore(spark, str(tmp_path / "s2"))
    run(spark, generate_pages(spark, 30, seed=8), s1, run_id="a", resume=False)
    run(spark, generate_pages(spark, 30, seed=8), s2, run_id="b", resume=False)
    assert _edge_set(s1) == _edge_set(s2)
    assert _entity_set(s1) == _entity_set(s2)
