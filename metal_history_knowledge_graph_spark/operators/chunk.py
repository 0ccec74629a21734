"""pages → chunks: the deterministic HTML→text→chunks operator.

Narrow (no shuffle): one ``mapInArrow`` pass per page partition, plain
Python lists in and out of each Arrow batch (no pandas conversion).
Replaces the reference's driver-side split loop
(``src/utils/text_splitter.py:301-323``) with per-partition batches; the
per-url output is byte-identical to the reference chunker semantics
(golden-tested in tests/test_chunker.py).

Chunk ids are ``{url}_{chunk_index:04d}`` (``text_splitter.py:124``) —
deterministic, so re-runs and resumes reproduce identical ids.
"""

from __future__ import annotations

from pyspark.sql import DataFrame

from ..functions.chunker import split_text
from ..functions.html_text import html_to_text
from ..session import arrow_schema

CHUNKS_SCHEMA = (
    "id string, url string, chunk_index int, text string, "
    "start_char long, end_char long, section_header string, "
    "subsection_header string, char_count int, word_count int, "
    "text_matches_crawl boolean"
)


def chunk_pages(pages: DataFrame) -> DataFrame:
    """Chunk every page from the text re-extracted from its html, with
    the default chunker sizes; ``text_matches_crawl`` records the
    byte-identity invariant per url (the crawl's ``text`` equals the
    re-extraction), aggregated into stage metrics downstream."""
    schema = arrow_schema(CHUNKS_SCHEMA)

    def run(batches):
        import pyarrow as pa

        for batch in batches:
            cols = batch.to_pydict()
            rows = []
            for url, html, crawl in zip(cols["url"], cols["html"], cols["text"]):
                text = html_to_text(html)
                matches = text == crawl
                for c in split_text(text, url):
                    c["text_matches_crawl"] = matches
                    rows.append(c)
            yield pa.RecordBatch.from_pylist(rows, schema=schema)

    return pages.select("url", "html", "text").mapInArrow(run, CHUNKS_SCHEMA)
