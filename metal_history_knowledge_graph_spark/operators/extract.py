"""chunks → mentions + relationship candidates.

One narrow ``mapInArrow`` pass (plain Python lists in and out of each
Arrow batch, no pandas conversion) runs the gazetteer+pattern extractor
(functions/patterns.py — the deterministic stand-in for the reference's
per-chunk LLM call, ``src/extraction/parallel_extraction.py:33-101``)
and emits a single union-typed row stream (``kind`` ∈ {mention, rel})
so extraction runs exactly once per chunk; two cheap filters split it.

``order_key`` is the pinned total order ``url#chunk_index#index`` that
makes every downstream "first-seen wins" merge rule deterministic
(SURVEY §4 pt.4 — the reference's merge semantics are iteration-order
dependent; we fix the order instead).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..session import arrow_schema

#: typed attribute surface of the ExtractionResult schema
#: (reference src/extraction/extraction_schemas.py:10-98 + enhanced
#: movements). Everything a mention can carry; mostly-null columnar.
ATTR_FIELDS: list[tuple[str, str]] = [
    ("formed_year", "int"), ("origin_city", "string"), ("origin_country", "string"),
    ("description", "string"),
    ("instruments", "array<string>"), ("associated_bands", "array<string>"),
    ("title", "string"), ("artist", "string"), ("release_year", "int"),
    ("release_date", "string"), ("label", "string"), ("studio", "string"),
    ("album", "string"), ("track_number", "int"), ("bpm", "int"),
    ("city", "string"), ("region", "string"), ("country", "string"),
    ("scene_description", "string"),
    ("date", "string"), ("type", "string"),
    ("famous_for", "string"), ("location", "string"),
    ("founded_year", "int"), ("manufacturer", "string"),
    ("era_start", "int"), ("era_end", "int"), ("bpm_min", "int"), ("bpm_max", "int"),
    ("guitar_tuning", "string"), ("vocal_style", "string"),
    ("key_characteristics", "string"), ("parent_influences", "array<string>"),
    ("start_year", "int"), ("key_bands", "array<string>"),
]
_ATTR_NAMES = [n for n, _ in ATTR_FIELDS]
_ATTR_SCHEMA = ", ".join(f"{n} {t}" for n, t in ATTR_FIELDS)

EXTRACTED_SCHEMA = (
    "kind string, chunk_id string, url string, chunk_index int, idx int, "
    "entity_type string, name string, linked_name string, confidence double, "
    + _ATTR_SCHEMA + ", "
    "rel_type string, from_entity_type string, from_entity_name string, "
    "to_entity_type string, to_entity_name string, rel_year int, "
    "rel_role string, rel_context string"
)

MENTION_COLS = ["chunk_id", "url", "chunk_index", "idx", "entity_type", "name",
                "linked_name", "confidence", *_ATTR_NAMES]
REL_COLS = ["chunk_id", "url", "chunk_index", "idx", "rel_type",
            "from_entity_type", "from_entity_name", "to_entity_type",
            "to_entity_name", "rel_year", "rel_role", "rel_context"]


def _order_key(url_col, chunk_idx_col, idx_col):
    return F.format_string("%s#%05d#%05d", url_col, chunk_idx_col, idx_col)


def extract_chunks(chunks: DataFrame) -> DataFrame:
    """Run extraction once per chunk; returns the union-typed stream."""
    from ..functions.patterns import extract_from_text

    schema = arrow_schema(EXTRACTED_SCHEMA)

    def run(batches):
        import pyarrow as pa

        for batch in batches:
            cols = batch.to_pydict()
            rows = []
            for cid, url, ci, text in zip(
                cols["id"], cols["url"], cols["chunk_index"], cols["text"]
            ):
                mentions, rels = extract_from_text(text)
                for m in mentions:
                    # the mention dict's keys are column names; the
                    # batch keeps only the schema's and nulls absent ones
                    rows.append({**m, "kind": "mention", "chunk_id": cid,
                                 "url": url, "chunk_index": ci,
                                 "idx": m["mention_index"]})
                for i, r in enumerate(rels):
                    rows.append(dict(
                        kind="rel", chunk_id=cid, url=url,
                        chunk_index=ci, idx=i,
                        rel_type=r["type"],
                        from_entity_type=r["from_entity_type"],
                        from_entity_name=r["from_entity_name"],
                        to_entity_type=r["to_entity_type"],
                        to_entity_name=r["to_entity_name"],
                        rel_year=r.get("year"), rel_role=r.get("role"),
                        rel_context=r.get("context"),
                    ))
            yield pa.RecordBatch.from_pylist(rows, schema=schema)

    return chunks.select("id", "url", "chunk_index", "text").mapInArrow(
        run, EXTRACTED_SCHEMA
    )


def mentions_of(extracted: DataFrame) -> DataFrame:
    """Mention rows, with the pinned total order key."""
    return (
        extracted.filter(F.col("kind") == "mention")
        .select(*MENTION_COLS)
        .withColumn("order_key", _order_key(F.col("url"), F.col("chunk_index"), F.col("idx")))
        .withColumn("name_norm", F.lower(F.trim(F.col("name"))))
        .withColumn("link_norm", F.lower(F.trim(F.coalesce("linked_name", "name"))))
    )


def relationships_of(extracted: DataFrame) -> DataFrame:
    """Relationship-candidate rows, with the pinned total order key."""
    return (
        extracted.filter(F.col("kind") == "rel")
        .select(*REL_COLS)
        .withColumn("order_key", _order_key(F.col("url"), F.col("chunk_index"), F.col("idx")))
    )
