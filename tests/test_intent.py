"""Intent parsing + routing + enhanced search
(reference scripts/search/semantic_query.py:70-331)."""

import pytest
from pyspark.sql import functions as F

from metal_history_knowledge_graph_spark.operators.intent import (
    graph_context,
    intent_route,
    intent_search,
    parse_intent,
)
from metal_history_knowledge_graph_spark.plans.pipeline import run
from metal_history_knowledge_graph_spark.sources.corpus import generate_pages


@pytest.fixture(scope="module")
def graph(spark, tmp_path_factory):
    from metal_history_knowledge_graph_spark.io import TableStore

    store = TableStore(spark, str(tmp_path_factory.mktemp("istore")))
    run(spark, generate_pages(spark, 80, seed=11), store, run_id="i")
    return store.read("entities").cache(), store.read("edges").cache()


# --- parse_intent: the reference's regex table, first match wins ----------

@pytest.mark.parametrize("query,intent,extracted", [
    ("bands similar to Black Sabbath", "find_similar", "black sabbath"),
    ("bands like Slayer", "find_similar", "slayer"),
    ("british metal bands", "find_by_location", "british"),
    ("bands from Birmingham", "find_by_location", "birmingham"),
    ("formed in 1968", "find_by_attribute", "1968"),
    ("thrash metal bands", "find_by_genre", "thrash"),
    ("influenced by Black Sabbath", "find_influence", "black sabbath"),
    ("members of Metallica", "find_members", "metallica"),
    # reference quirk pinned: group(1) is the role, not the band
    ("guitarists in Metallica", "find_members", "guitarist"),
    ("what happened in 1991", "general_search", None),
])
def test_parse_intent(query, intent, extracted):
    assert parse_intent(query) == (intent, extracted)


def test_graph_context_shapes(graph):
    entities, edges = graph
    ctx = graph_context(entities, edges)
    assert ctx.count() == entities.count()
    some_band = (
        ctx.filter(F.col("n_members").isNotNull()).limit(1).collect()
    )
    assert some_band, "at least one band has MEMBER_OF context"


def test_intent_route_members(graph):
    entities, edges = graph
    df = intent_route(entities, edges, "find_members", "metallica",
                      query="members of Metallica")
    assert df is not None
    rows = df.collect()
    for r in rows:
        assert r.band.lower() == "metallica"


def test_intent_route_genre(graph):
    entities, edges = graph
    df = intent_route(entities, edges, "find_by_genre", "thrash",
                      query="thrash metal bands")
    rows = df.collect()
    assert rows
    for r in rows:
        assert any("thrash" in g for g in r.genres)


def test_intent_route_location_and_attribute(graph):
    entities, edges = graph
    loc = intent_route(entities, edges, "find_by_location", "birmingham",
                       query="bands from Birmingham")
    assert loc is not None and loc.count() > 0
    attr = intent_route(entities, edges, "find_by_attribute", "1968",
                        query="formed in 1968")
    rows = attr.collect()
    assert rows
    assert all(r.formed_year == 1968 for r in rows)
    # '1980s' is the 1980-1989 DECADE, never the exact year 1980
    dec = intent_route(entities, edges, "find_by_attribute", "1980s",
                       query="bands from the 1980s")
    dec_rows = dec.collect()
    assert dec_rows
    assert all(1980 <= r.formed_year <= 1989 for r in dec_rows)
    assert any(r.formed_year != 1980 for r in dec_rows)
    # two-digit decade form still works
    dec2 = {(r.canonical_name, r.formed_year)
            for r in intent_route(entities, edges, "find_by_attribute",
                                  "80s", query="80s bands").collect()}
    assert dec2 == {(r.canonical_name, r.formed_year) for r in dec_rows}


def test_intent_route_genre_case_insensitive(graph):
    """Genre names keep first-seen surface casing ('Thrash Metal'
    upstream of a title-cased corpus); the lowercased query must still
    match."""
    from pyspark.sql import functions as F

    entities, edges = graph
    spark = edges.sparkSession
    cased = edges.unionByName(spark.createDataFrame(
        [(901, 902, "Casey Band", "Thrash Metal", "PLAYS_GENRE",
          "bands", "subgenres")],
        "subj_id long, obj_id long, subj_name string, obj_name string, "
        "pred string, subj_type string, obj_type string",
    ), allowMissingColumns=True)
    df = intent_route(entities, cased, "find_by_genre", "thrash",
                      query="thrash metal bands")
    bands = {r.band for r in df.collect()}
    assert "Casey Band" in bands


def test_intent_search_enhanced(graph):
    from metal_history_knowledge_graph_spark.operators.embeddings import (
        embed_entities,
    )

    entities, edges = graph
    spark = entities.sparkSession
    vecs = embed_entities(entities)
    out = intent_search(spark, entities, vecs, edges,
                        "bands similar to sabbath", k=5)
    rows = out.collect()
    assert 0 < len(rows) <= 5
    assert rows[0].intent == "find_similar"
    scores = [r.combined_score for r in rows]
    assert scores == sorted(scores, reverse=True)
    assert any("sabbath" in r.canonical_name.lower() for r in rows)


def test_intent_search_location_boost(graph):
    from metal_history_knowledge_graph_spark.operators.embeddings import (
        embed_entities,
    )

    entities, edges = graph
    spark = entities.sparkSession
    vecs = embed_entities(entities)
    out = intent_search(spark, entities, vecs, edges,
                        "bands from Birmingham", k=10).collect()
    assert out
    assert out[0].intent == "find_by_location"
