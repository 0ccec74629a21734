"""Composed WARC-slice ingest (VERDICT r4 next-step #8): the WARC
container boundary must be LOSSLESS — running the full pipeline on a
pages table that took the detour through build_warc → parse_warc →
pages_from_warc must commit byte-identical entity and edge tables to
running it on the original pages. Field-level WARC parsing is pinned
separately by q_warc_roundtrip's oracle and test_warc; this pins the
composition."""

import shutil

from pyspark.sql import functions as F

from metal_history_knowledge_graph_spark.io import TableStore
from metal_history_knowledge_graph_spark.plans.pipeline import run
from metal_history_knowledge_graph_spark.sources.corpus import generate_pages
from metal_history_knowledge_graph_spark.sources.warc import (
    build_warc,
    pages_from_warc,
    parse_warc,
)

N_PAGES = 40


def _roundtrip(pages):
    ided = pages.select(
        F.regexp_extract("url", r"(\d+)$", 1).cast("long").alias("page_id"),
        "url",
        F.col("warc_ts").cast("string").alias("warc_date"),
        F.decode("html", "utf-8").alias("html_str"),
    )
    blobs = build_warc(
        ided,
        id_col="page_id",
        url_col="url",
        date_col="warc_date",
        payload_col="html_str",
        records_per_blob=16,
    )
    return pages_from_warc(parse_warc(blobs))


def _run(spark, pages, root, run_id):
    shutil.rmtree(root, ignore_errors=True)
    store = TableStore(spark, root)
    metrics = run(spark, pages, store, run_id=run_id, resume=False)
    return store, metrics


def _rows(df, cols):
    return sorted(tuple(r) for r in df.select(*cols).collect())


def test_pages_survive_warc_roundtrip(spark):
    pages = generate_pages(spark, N_PAGES, seed=77)
    back = _roundtrip(pages)
    want = _rows(pages, ["url", "warc_ts", "text", "lang"])
    got = _rows(back, ["url", "warc_ts", "text", "lang"])
    assert got == want
    # html bytes identical too (the payload IS the html)
    want_h = {r["url"]: bytes(r["html"]) for r in pages.collect()}
    got_h = {r["url"]: bytes(r["html"]) for r in back.collect()}
    assert got_h == want_h


def test_pipeline_identical_through_warc_boundary(spark, tmp_path):
    pages = generate_pages(spark, N_PAGES, seed=77)
    s_direct, m_direct = _run(
        spark, pages, str(tmp_path / "direct"), "wp-direct"
    )
    s_warc, m_warc = _run(
        spark, _roundtrip(pages), str(tmp_path / "warc"), "wp-warc"
    )
    # the chunk stage's byte-identity audit column holds on BOTH
    # paths: text re-derived from html equals the crawl text
    for store in (s_direct, s_warc):
        assert (
            store.read("chunks")
            .filter(~F.col("text_matches_crawl"))
            .count()
            == 0
        )
    edge_cols = ["pred", "subj_type", "subj_name", "obj_type", "obj_name",
                 "n_sources"]
    assert _rows(s_warc.read("edges"), edge_cols) == _rows(
        s_direct.read("edges"), edge_cols
    )
    ent_cols = ["entity_type", "canonical_name", "n_mentions"]
    assert _rows(s_warc.read("entities"), ent_cols) == _rows(
        s_direct.read("entities"), ent_cols
    )


def test_default_z_suffixed_warc_date_parses(spark):
    """build_warc's default WARC-Date literal is Z-suffixed ISO-8601;
    pages_from_warc must parse it into the naive timestamp the pages
    schema declares (UTC, zone dropped)."""
    import datetime

    docs = spark.createDataFrame(
        [(1, "http://a.example/x", "<p>hi</p>")],
        "doc_id long, url string, text string",
    )
    recs = parse_warc(build_warc(docs))  # no date_col → Z literal
    row = pages_from_warc(recs).collect()[0]
    assert row["warc_ts"] == datetime.datetime(2024, 1, 1, 0, 0, 0)
