"""The Arrow chunker and extractor UDFs (``chunk_pages``,
``extract_chunks``) against the ``mapInPandas`` versions they replaced,
kept here as the reference: same rows for
``build_page(i, 42, profile)``, i < 40, on both corpus profiles —
including chunks without mentions, array attributes and relationship
rows whose ``year``/``role`` are null."""

import pytest

from metal_history_knowledge_graph_spark.functions.chunker import split_text
from metal_history_knowledge_graph_spark.functions.html_text import html_to_text
from metal_history_knowledge_graph_spark.functions.patterns import extract_from_text
from metal_history_knowledge_graph_spark.operators.chunk import CHUNKS_SCHEMA, chunk_pages
from metal_history_knowledge_graph_spark.operators.extract import (
    _ATTR_NAMES,
    EXTRACTED_SCHEMA,
    extract_chunks,
)
from metal_history_knowledge_graph_spark.sources.corpus import generate_pages

N_PAGES = 40

CHUNK_COLS = ["id", "url", "chunk_index", "text", "start_char", "end_char",
              "section_header", "subsection_header", "char_count", "word_count",
              "text_matches_crawl"]
EXTRACTED_COLS = ["kind", "chunk_id", "url", "chunk_index", "idx", "entity_type",
                  "name", "linked_name", "confidence", *_ATTR_NAMES, "rel_type",
                  "from_entity_type", "from_entity_name", "to_entity_type",
                  "to_entity_name", "rel_year", "rel_role", "rel_context"]


def _pandas_chunk_pages(pages):
    def run(batches):
        import pandas as pd

        for pdf in batches:
            rows = []
            for rec in pdf.itertuples(index=False):
                text = html_to_text(rec.html)
                for c in split_text(text, rec.url):
                    c["text_matches_crawl"] = text == rec.text
                    rows.append(c)
            out = pd.DataFrame(rows, columns=CHUNK_COLS)
            yield out.astype(object).where(out.notna(), None)

    return pages.select("url", "html", "text").mapInPandas(run, schema=CHUNKS_SCHEMA)


def _pandas_extract_chunks(chunks):
    def run(batches):
        import pandas as pd

        for pdf in batches:
            rows = []
            for rec in pdf.itertuples(index=False):
                mentions, rels = extract_from_text(rec.text)
                for m in mentions:
                    rows.append({**m, "kind": "mention", "chunk_id": rec.id,
                                 "url": rec.url, "chunk_index": rec.chunk_index,
                                 "idx": m["mention_index"]})
                for i, r in enumerate(rels):
                    rows.append(dict(
                        kind="rel", chunk_id=rec.id, url=rec.url,
                        chunk_index=rec.chunk_index, idx=i, rel_type=r["type"],
                        from_entity_type=r["from_entity_type"],
                        from_entity_name=r["from_entity_name"],
                        to_entity_type=r["to_entity_type"],
                        to_entity_name=r["to_entity_name"],
                        rel_year=r.get("year"), rel_role=r.get("role"),
                        rel_context=r.get("context"),
                    ))
            out = pd.DataFrame(rows, columns=EXTRACTED_COLS)
            yield out.astype(object).where(out.notna(), None)

    return chunks.select("id", "url", "chunk_index", "text").mapInPandas(
        run, schema=EXTRACTED_SCHEMA)


def _rows(df):
    return sorted(df.collect(), key=repr)


@pytest.fixture(scope="module", params=["default", "heavy"])
def profile(request):
    return request.param


@pytest.fixture(scope="module")
def pages(spark, profile):
    return generate_pages(spark, N_PAGES, seed=42, profile=profile) \
        .localCheckpoint(eager=True)


def test_chunk_pages_match_pandas(pages):
    got = chunk_pages(pages)
    rows = _rows(got)
    assert rows == _rows(_pandas_chunk_pages(pages))
    assert {r.url for r in rows} == {r.url for r in pages.select("url").collect()}


def test_extract_chunks_match_pandas(pages, profile):
    chunks = chunk_pages(pages).localCheckpoint(eager=True)
    got = extract_chunks(chunks)
    rows = _rows(got)
    assert rows == _rows(_pandas_extract_chunks(chunks))
    # the cases the conversion must carry; every heavy-profile chunk
    # has a mention
    if profile == "default":
        mentioned = {r.chunk_id for r in rows if r.kind == "mention"}
        assert {r.id for r in chunks.select("id").collect()} - mentioned
    arrays = [r for r in rows if r.kind == "mention"
              and any(r[a] for a in ("instruments", "associated_bands", "key_bands"))]
    assert arrays
    rels = [r for r in rows if r.kind == "rel"]
    assert any(r.rel_year is None for r in rels)
    assert any(r.rel_role is None for r in rels)
    assert any(r.rel_year is not None for r in rels)

