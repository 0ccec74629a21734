"""Incremental / streaming ingest.

The reference is strictly batch; its only "stream-like" element is the
chunk checkpoint enabling resume (``batch_extraction.py:39-99``). At
web scale the natural shape is a continuously-landing pages feed. This
module ingests it with Structured Streaming:

* ``stream_ingest_pages`` — file-source stream over the pages
  directory, ``foreachBatch`` into the batch pipeline's append path
  (chunk → extract → append + lineage). Exactly-once per url comes
  from BOTH the streaming checkpoint (no batch replay) and the
  anti-join against already-chunked urls (idempotent even if a batch
  IS replayed after a crash mid-foreachBatch).
* ``windowed_event_counts`` — watermarked sliding-window aggregation
  (the standard late-data pattern) over an event stream, used by tests
  against the driver's ``events`` table schema.

Downstream canonicalize/triples stages are re-derived in batch after
ingest (they are vocabulary-sized folds; see plans/pipeline.py
``run_incremental``).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..io import TableStore
from ..operators.materialize import commit_stage
from ..plans.pipeline import append_new_pages
from ..sources.corpus import PAGES_SCHEMA


def ingest_batch(store: TableStore, batch_df: DataFrame, run_id: str, batch_id: int) -> int:
    """Append-path for one micro-batch of pages; idempotent per url.

    The batch pipeline's ``append_new_pages`` does the work: the
    seen-set is the compact, url-only ``processed_urls`` table
    (appended per batch), NOT a distinct-scan of the ever-growing
    chunks table — the anti-join's build side stays O(distinct urls ×
    one column) instead of growing with full chunk history. Crash
    semantics: the streaming checkpoint already prevents re-running a
    completed foreachBatch. The batch is three separate appends —
    chunks, extracted rows, processed urls — in parquet mode and on
    Iceberg alike (there each is its own snapshot commit; no
    transaction spans them). A crash after the first and before the
    last leaves the batch's urls out of ``processed_urls``, so the
    replay appends its chunks again. One commit for the multi-table
    append is ROADMAP direction 2 (crash-consistent commits)."""
    n = append_new_pages(store, batch_df)
    if n:
        commit_stage(store, run_id, f"stream-batch-{batch_id}", n)
    return n


def stream_ingest_pages(
    spark: SparkSession,
    source_dir: str,
    store: TableStore,
    checkpoint_dir: str,
    run_id: str = "stream",
    available_now: bool = True,
):
    """Start the pages-ingest stream; with ``available_now`` it drains
    everything currently in the source and stops (the batch-incremental
    mode used in tests and backfills)."""
    pages = (
        spark.readStream.schema(PAGES_SCHEMA)
        .option("maxFilesPerTrigger", 16)
        .parquet(source_dir)
    )

    def process(batch_df: DataFrame, batch_id: int) -> None:
        ingest_batch(store, batch_df, run_id, batch_id)

    writer = (
        pages.writeStream.foreachBatch(process)
        .option("checkpointLocation", checkpoint_dir)
    )
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()


def stateful_running_counts(
    rows: DataFrame,
    key_col: str = "entity_key",
    url_col: str = "url",
) -> DataFrame:
    """Custom stateful streaming operator via ``applyInPandasWithState``:
    running per-entity mention totals plus an additive per-batch
    distinct-url counter (``n_batches_urls`` = sum over micro-batches
    of that batch's distinct urls — an upper bound on all-time distinct
    sources, exact when the upstream ingest dedups urls per batch, as
    ``ingest_batch``'s anti-join does). The per-group state is two
    counters, so state size is O(groups), not O(stream).

    This is the streaming analogue of the pipeline's per-entity
    aggregation (the reference's checkpointed incremental extraction,
    batch_extraction.py:39-99, fused with the mention-count fold).
    Emits one updated row per touched group per micro-batch; state —
    and therefore the totals — survives checkpointed restarts."""
    from pyspark.sql.streaming.state import GroupStateTimeout

    def update(key, pdf_iter, state):
        import pandas as pd

        if state.exists:
            total, n_urls = state.get
        else:
            total, n_urls = 0, 0
        batch_urls = set()
        for pdf in pdf_iter:
            total += len(pdf)
            # dropna: a null url must not count as a distinct source
            batch_urls.update(pdf[url_col].dropna().unique())
        # exact distinct within this batch, additive across batches —
        # see docstring for the upper-bound semantics
        n_urls += len(batch_urls)
        state.update((total, n_urls))
        yield pd.DataFrame(
            {key_col: [key[0]], "n_mentions": [total], "n_batches_urls": [n_urls]}
        )

    return rows.groupBy(key_col).applyInPandasWithState(
        update,
        outputStructType=f"{key_col} string, n_mentions long, n_batches_urls long",
        stateStructType="total long, n_urls long",
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


def streaming_dedup(
    rows: DataFrame,
    key_cols: list[str],
    ts_col: str = "ts",
    watermark: str = "30 minutes",
) -> DataFrame:
    """Streaming exact dedup with bounded state: emit the first row per
    key, dropping re-arrivals within the watermark horizon
    (``dropDuplicatesWithinWatermark``).

    This is the streaming analogue of the batch pipeline's exact-dedup
    operators (``operators/dedup.exact_duplicates``,
    ``triples.dedup_relationships``): the state store holds one entry
    per key seen in the last ``watermark`` of event time and is evicted
    as the watermark advances — unlike a plain streaming
    ``dropDuplicates``, whose state grows without bound over an
    unbounded crawl feed. Duplicates straddling a horizon boundary are
    the (documented) miss; the batch exact-dedup downstream remains the
    global guarantee, this operator keeps the *stream* volume bounded
    at the source (re-crawls and mirror bursts arrive close together,
    which is exactly the within-horizon case).

    On a batch DataFrame it degrades to plain ``dropDuplicates`` —
    same keys, no watermark needed — so batch/stream parity tests can
    share one call."""
    if rows.isStreaming:
        return rows.withWatermark(ts_col, watermark) \
            .dropDuplicatesWithinWatermark(key_cols)
    return rows.dropDuplicates(key_cols)


def windowed_event_counts(
    events: DataFrame,
    window: str = "10 minutes",
    slide: str | None = None,
    watermark: str = "30 minutes",
) -> DataFrame:
    """Watermarked (sliding-)window counts per event_type — works on a
    stream (late rows beyond the watermark dropped, state bounded) and
    identically on a batch DataFrame."""
    win = F.window("ts", window, slide) if slide else F.window("ts", window)
    src = events
    if events.isStreaming:
        src = events.withWatermark("ts", watermark)
    return src.groupBy(win.alias("w"), "event_type").agg(
        F.count(F.lit(1)).alias("n"),
        F.round(F.sum("value"), 2).alias("total_value"),
    ).select(
        F.col("w.start").alias("window_start"),
        F.col("w.end").alias("window_end"),
        "event_type", "n", "total_value",
    )


def interval_join_attribution(
    clicks: DataFrame,
    purchases: DataFrame,
    key_col: str = "user_id",
    within: str = "1 hour",
    watermark: str = "2 hours",
) -> DataFrame:
    """Stream-stream INNER interval join — the attribution shape:
    each purchase matched to every click by the same user in
    ``[purchase_ts − within, purchase_ts]``.

    This is the one streaming surface the rest of the module didn't
    cover: with BOTH sides watermarked and the join condition carrying
    an explicit event-time range, Spark bounds each side's state store
    to ``watermark + within`` of history and evicts behind the
    watermark — an unwatermarked stream-stream join would buffer both
    streams forever. At 100 TB/day of events, state is proportional to
    the time horizon, never the stream length.

    On batch DataFrames it degrades to the identical range join
    (no watermark needed), so the exact-SQL oracle
    (q_click_attribution) pins the join semantics and the streaming
    test pins the incremental emission against that same batch result.

    Output: (user_id, click_ts, purchase_ts, purchase_value,
    lag_seconds ≥ 0)."""
    c = clicks.select(
        F.col(key_col).alias("user_id"),
        F.col("ts").alias("click_ts"),
    )
    p = purchases.select(
        F.col(key_col).alias("p_user_id"),
        F.col("ts").alias("purchase_ts"),
        F.col("value").alias("purchase_value"),
    )
    if c.isStreaming:
        c = c.withWatermark("click_ts", watermark)
    if p.isStreaming:
        p = p.withWatermark("purchase_ts", watermark)
    joined = c.join(
        p,
        (F.col("user_id") == F.col("p_user_id"))
        & (F.col("click_ts") <= F.col("purchase_ts"))
        & F.expr(f"click_ts >= purchase_ts - interval {within}"),
    )
    return joined.select(
        "user_id", "click_ts", "purchase_ts", "purchase_value",
        (
            F.unix_timestamp("purchase_ts") - F.unix_timestamp("click_ts")
        ).cast("long").alias("lag_seconds"),
    )


def stream_neardup_ingest(
    spark: SparkSession,
    docs: DataFrame,
    out_dir: str,
    checkpoint_dir: str,
    threshold: float = 0.9,
    id_col: str = "doc_id",
    text_col: str = "text",
):
    """Continuous near-dup-gated corpus ingest: a STREAM of documents
    → per-micro-batch MinHash probe of the PERSISTED band index
    (``dedup.minhash_probe_new`` — the index is never rebuilt),
    within-batch closure dedup, and an index append for the admitted
    survivors only — the streaming twin of the batch dedup family and
    the standing shape of a crawl→training-corpus pipeline (every new
    snapshot dedups against everything ever admitted).

    Admission policy, stated precisely: within a batch, near-dup
    groups are CLOSED (``dedup.group_representatives`` — connected
    components of the verified pair graph) and only each group's
    min-id representative is considered; a document (representative or
    singleton) is then admitted iff its exact-Jaccard probe against
    the stored index clears no pair ≥ ``threshold``. A group whose
    representative matches stored content is dropped WHOLE — its
    members are near-dups of a near-dup of admitted content (the
    SemDeDup-style group verdict).

    Outputs under ``out_dir``: ``accepted/`` (batch_id-partitioned
    admitted documents with ``group_size`` provenance) and ``index/``
    (the growing ``minhash_band_table``). Exactly-once via an atomic
    ``_COMMITTED`` marker inside the ``batch_id=`` partition
    (marker after the accepted write; the index append is sequenced
    after the marker and recomputed FROM the committed partition on
    replay, so a crash never admits a document twice and duplicate
    index rows are impossible). Scale: the probe shuffles only
    (band, bucket) keys; state grows with ADMITTED docs only — dups
    never enter the index.
    """
    import os

    from ..operators.dedup import (
        group_representatives,
        minhash_band_table,
        minhash_lsh_pairs,
        minhash_probe_new,
    )

    acc_dir = os.path.join(out_dir, "accepted")
    idx_dir = os.path.join(out_dir, "index")

    def _append_index_from(part: str) -> None:
        committed = spark.read.parquet(part).select(id_col, text_col)
        minhash_band_table(committed, id_col, text_col) \
            .write.mode("append").parquet(idx_dir)

    def _one_batch(batch_df: DataFrame, batch_id: int) -> None:
        import shutil

        part = os.path.join(acc_dir, f"batch_id={batch_id}")
        marker = os.path.join(part, "_COMMITTED")
        if os.path.exists(marker):
            # replay after commit: the accepted partition is the
            # truth — re-derive its index rows (idempotent only if
            # the crashed attempt never appended; sequence below
            # guarantees that) and never recompute the verdicts
            if any(not f.startswith(("_", ".")) for f in os.listdir(part)):
                _append_index_from(part)
            return
        if os.path.isdir(part):
            shutil.rmtree(part)  # crash mid-commit: scrub + recompute
        batch = batch_df.select(id_col, text_col).localCheckpoint(eager=True)
        reps = group_representatives(
            minhash_lsh_pairs(batch, id_col, text_col,
                              threshold=threshold),
            docs=batch, id_col=id_col,
        )
        # eager checkpoints between stages: foreachBatch plans on a
        # worker thread with a SMALLER JVM stack than the main driver
        # thread, and the composed banding→closure→probe lineage
        # overflows Catalyst's recursive transforms there (measured:
        # StackOverflowError at the final checkpoint without these) —
        # each stage's tree stays shallow and the output is frozen
        # before the two writes anyway
        kept = batch.join(
            reps.filter(F.col("keep")).select(id_col, "group_size"),
            id_col,
        ).localCheckpoint(eager=True)
        try:
            index = spark.read.parquet(idx_dir)
        except Exception:
            index = None
        if index is not None:
            cross = minhash_probe_new(
                kept, index, id_col, text_col, threshold=threshold
            ).select(F.col("doc_new").alias(id_col)).distinct() \
                .localCheckpoint(eager=True)
            kept = kept.join(cross, id_col, "left_anti") \
                .localCheckpoint(eager=True)
        kept.withColumn("batch_id", F.lit(batch_id).cast("long")) \
            .write.mode("append").partitionBy("batch_id").parquet(acc_dir)
        os.makedirs(part, exist_ok=True)
        with open(marker, "a"):
            pass  # atomic commit point
        if any(not f.startswith(("_", ".")) for f in os.listdir(part)):
            _append_index_from(part)

    return (
        docs.writeStream.foreachBatch(_one_batch)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )
