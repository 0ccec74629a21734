"""End-to-end KG-construction pipeline: pages → chunks → extracted →
canonical entities → triples → graph tables, with per-stage lineage
commits and resume.

Stage boundaries are table commits (Iceberg snapshot / parquet swap):
this is the reference's run_full_pipeline.sh
(``scripts/pipeline/run_full_pipeline.sh:96-186``) re-expressed as one
Spark driver program whose stages are DataFrame transformations; the
process/subprocess boundaries of the reference become (only) the
shuffles that canonicalization and triple-dedup genuinely need.

Resume semantics: ``run(...)`` with the same ``run_id`` skips stages
whose lineage row is committed — so a killed run re-executes only
remaining stages, producing byte-identical tables (everything is
deterministic in the pinned order). ``run_incremental`` appends new
pages and re-canonicalizes: mention-level state is re-derivable because
the mentions table is append-only and dedup/merge are idempotent folds.
"""

from __future__ import annotations

import time

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..io import TableStore
from ..operators.canonicalize import attach_provenance_sample, canonicalize_core
from ..operators.chunk import chunk_pages
from ..operators.extract import extract_chunks, mentions_of, relationships_of
from ..operators.materialize import (
    commit_partition_lineage,
    commit_stage,
    partition_lineage,
    stage_complete,
    write_edges,
    write_entities,
)
from ..operators.triples import build_triples, finalize_edges

STAGES = ["chunks", "extracted", "entities", "edges"]


def run(
    spark: SparkSession,
    pages: DataFrame,
    store: TableStore,
    run_id: str = "run-1",
    resume: bool = True,
    until_stage: str | None = None,
) -> dict[str, float]:
    """Execute the full pipeline; returns stage metrics (incl. wall
    seconds and the byte-identity invariant violation count).

    ``until_stage`` stops after the named stage commits — used by the
    kill-and-rerun test to simulate a crash between stages; a
    subsequent ``run`` with the same run_id resumes from there and must
    produce byte-identical tables."""
    metrics: dict[str, float] = {}
    stop = {"flag": False}

    def timed(stage, fn):
        if stop["flag"]:
            return
        if resume and stage_complete(store, run_id, stage):
            metrics[f"{stage}_skipped"] = 1.0
        else:
            t0 = time.time()
            row_count, extra = fn()
            dt = time.time() - t0
            metrics[f"{stage}_rows"] = row_count
            metrics[f"{stage}_secs"] = dt
            commit_stage(store, run_id, stage, row_count, {**extra, "secs": dt})
        if until_stage == stage:
            stop["flag"] = True

    # Every stage commits a per-partition lineage record (north rule:
    # key range + row count per physical partition — the unit of exact
    # resume/audit at scale) in ONE scan of its committed table; stage
    # row totals are sums over the tiny lineage rows, never a second
    # pass over the data.

    def do_chunks():
        chunks = chunk_pages(pages)
        store.write(chunks, "chunks")
        persisted = store.read("chunks")
        # the chunks scan also fuses the byte-identity violation count
        n, n_mismatch = commit_partition_lineage(store, partition_lineage(
            persisted, run_id, "chunks", key_col="url",
            mismatch_col="text_matches_crawl",
        ))
        # compact seen-set for incremental/streaming anti-joins
        # (url column only — pruned scan of the just-committed table)
        store.write(persisted.select("url").distinct(), "processed_urls")
        return n, {"text_mismatch_urls": n_mismatch}

    def do_extract():
        extracted = extract_chunks(store.read("chunks"))
        # partitioned by row kind: the mention and relationship passes
        # downstream each scan ONLY their partition (partition pruning
        # halves both mention-scale reads)
        store.write(extracted, "extracted", partition_by=["kind"])
        n, _ = commit_partition_lineage(store, partition_lineage(
            store.read("extracted"), run_id, "extracted", key_col="url"
        ))
        return n, {}

    def do_entities():
        _write_entities_tail(spark, store, store.read("extracted"))
        n, _ = commit_partition_lineage(store, partition_lineage(
            store.read("entities"), run_id, "entities", key_col="canonical_name"
        ))
        return n, {"forms": store.read("resolution").count()}

    def do_edges():
        _write_edges_tail(store, store.read("extracted"))
        n, _ = commit_partition_lineage(store, partition_lineage(
            store.read("edges"), run_id, "edges", key_col="edge_key"
        ))
        return n, {}

    timed("chunks", do_chunks)
    timed("extracted", do_extract)
    timed("entities", do_entities)
    timed("edges", do_edges)
    return metrics


def _write_entities_tail(
    spark: SparkSession, store: TableStore, extracted: DataFrame
) -> None:
    """canonicalize → resolution, entity_provenance, entities: the writes
    ``run``'s entities stage and ``run_incremental`` share (lineage
    commits stay with the callers)."""
    mentions = mentions_of(extracted)
    entities, resolution, provenance = canonicalize_core(mentions, spark)
    store.write(resolution, "resolution")
    # provenance pair table commits FIRST (the narrow mention-scale
    # pass executes exactly once, into this write); the n_sources /
    # sample attach then aggregates the committed two-column table
    store.write(provenance, "entity_provenance")
    write_entities(store, attach_provenance_sample(
        entities, store.read("entity_provenance")))


def _write_edges_tail(store: TableStore, extracted: DataFrame) -> None:
    """build triples → edge_provenance, edges (shared like
    :func:`_write_entities_tail`)."""
    rels = relationships_of(extracted)
    rep, edge_prov = build_triples(
        rels, store.read("entities"), store.read("resolution")
    )
    # provenance pair table commits FIRST (the mention-scale pass
    # executes exactly once, into this write); the edge pools then
    # aggregate the committed two-column table
    store.write(edge_prov, "edge_provenance")
    write_edges(store, finalize_edges(rep, store.read("edge_provenance")))


def processed_urls(store: TableStore) -> DataFrame | None:
    """Urls already chunked (the page-level resume record), or None on
    a store that has chunked nothing yet.

    Reads the compact url-only ``processed_urls`` table when present
    (maintained by the chunk stage and every incremental/streaming
    append) so the seen-set scan is O(distinct urls), not a
    distinct-aggregation over full chunk history; falls back to
    deriving it from chunks for stores written before the table
    existed."""
    if store.exists("processed_urls"):
        return store.read("processed_urls").select("url")
    if store.exists("chunks"):
        return store.read("chunks").select("url").distinct()
    return None


def append_new_pages(store: TableStore, pages: DataFrame) -> int:
    """The append path for new pages, shared by ``run_incremental`` and
    streaming ingest: anti-join ``pages`` against the processed urls
    (the reference's checkpoint-resume, ``batch_extraction.py:91-99``),
    chunk the novel ones, then append chunks, extracted rows and the
    chunked urls. Returns the number of new chunks; on 0 nothing is
    appended."""
    seen = processed_urls(store)
    todo = pages if seen is None else pages.join(seen, "url", "left_anti")
    chunks = chunk_pages(todo).localCheckpoint(eager=True)
    n = chunks.count()
    if n:
        store.append(chunks, "chunks")
        store.append(extract_chunks(chunks), "extracted", partition_by=["kind"])
        store.append(chunks.select("url").distinct(), "processed_urls")
    return n


def run_incremental(
    spark: SparkSession,
    new_pages: DataFrame,
    store: TableStore,
    run_id: str,
) -> dict[str, float]:
    """Incremental append: chunk+extract only the novel pages
    (:func:`append_new_pages`), then re-run the (vocabulary-sized)
    canonicalize/triple stages over the full mention set."""
    append_new_pages(store, new_pages)
    # Downstream (vocabulary-sized) stages recompute from the appended
    # mention set — idempotent deterministic folds.
    return _rebuild_downstream(spark, store, run_id)


def _rebuild_downstream(
    spark: SparkSession, store: TableStore, run_id: str
) -> dict[str, float]:
    metrics: dict[str, float] = {}
    t0 = time.time()
    extracted = store.read("extracted")
    _write_entities_tail(spark, store, extracted)
    _write_edges_tail(store, extracted)
    metrics["incremental_secs"] = time.time() - t0
    metrics["entities_rows"] = store.read("entities").count()
    metrics["edges_rows"] = store.read("edges").count()
    commit_stage(store, run_id, "incremental", int(metrics["edges_rows"]),
                 {"secs": metrics["incremental_secs"]})
    return metrics
