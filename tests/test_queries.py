"""Query catalog over a built graph (SURVEY §2.8)."""

import pytest
from pyspark.sql import functions as F

from metal_history_knowledge_graph_spark.plans import queries as Q
from metal_history_knowledge_graph_spark.plans.pipeline import run
from metal_history_knowledge_graph_spark.sources.corpus import generate_pages


@pytest.fixture(scope="module")
def graph(spark, tmp_path_factory):
    from metal_history_knowledge_graph_spark.io import TableStore

    store = TableStore(spark, str(tmp_path_factory.mktemp("qstore")))
    run(spark, generate_pages(spark, 60, seed=7), store, run_id="q")
    return store.read("entities").cache(), store.read("edges").cache()


def test_bands_by_country_paginated(graph):
    ents, _ = graph
    p1 = Q.bands_by_country(ents, country="England", page=1, page_size=3).collect()
    p2 = Q.bands_by_country(ents, country="England", page=2, page_size=3).collect()
    assert 0 < len(p1) <= 3
    assert not {r.canonical_name for r in p1} & {r.canonical_name for r in p2}


def test_point_lookup(graph):
    ents, _ = graph
    some = ents.limit(1).collect()[0]
    assert Q.entity_by_id(ents, some.canonical_id).count() == 1


def test_band_members_and_albums(graph):
    ents, edges = graph
    members = Q.band_members(edges, "Black Sabbath").collect()
    assert members and all(m.band == "Black Sabbath" for m in members)
    albums = Q.band_albums(ents, edges, "Black Sabbath")
    assert albums.count() >= 0  # plan executes


def test_neighborhood_bounded(graph):
    ents, edges = graph
    sab = ents.filter(
        (F.col("entity_type") == "bands") & (F.col("name_norm") == "black sabbath")
    ).collect()[0]
    n1 = Q.neighborhood(edges, sab.canonical_id, depth=1)
    n2 = Q.neighborhood(edges, sab.canonical_id, depth=2)
    assert n1.count() <= n2.count()
    assert n2.agg(F.max("hops")).collect()[0][0] <= 2


def test_degree_and_distribution(graph):
    _, edges = graph
    deg = Q.degree_stats(edges)
    assert deg.filter(F.col("degree") <= 0).count() == 0
    dist = Q.degree_distribution(edges)
    total = dist.agg(F.sum("count")).collect()[0][0]
    assert total == deg.count()


def test_bands_per_decade(graph):
    ents, _ = graph
    rows = Q.bands_per_decade(ents).collect()
    assert rows and all(r.decade % 10 == 0 for r in rows)


def test_genre_popularity_and_band_genres(graph):
    _, edges = graph
    pop = Q.genre_popularity(edges, top_n=5).collect()
    assert pop and pop[0].n_bands >= pop[-1].n_bands
    bg = Q.band_genres(edges).collect()
    assert all(len(r.genres) >= 1 for r in bg)


def test_shared_members(graph):
    _, edges = graph
    rows = Q.shared_members(edges).collect()
    # Ronnie James Dio or Dave Mustaine multi-band memberships exist in
    # the gazetteer; if sampled into this corpus there are rows.
    for r in rows:
        assert r.band1 != r.band2


def test_activity_overlap_range_join(graph):
    ents, _ = graph
    rows = Q.activity_overlap(ents).collect()
    for r in rows:
        assert abs(r.year1 - r.year2) <= 5
        assert r.band1 < r.band2


def test_guest_artists_anti_join(graph):
    ents, edges = graph
    guests = {r.person for r in Q.guest_artists(ents, edges).collect()}
    members = {
        r.subj_name for r in edges.filter(F.col("pred") == "MEMBER_OF").collect()
    }
    assert not guests & members


def test_substring_search_ranking(graph):
    ents, _ = graph
    rows = Q.substring_search(ents, "sabbath").collect()
    assert rows
    assert [r.rank_key for r in rows] == sorted(r.rank_key for r in rows)


def test_timeline(graph):
    ents, _ = graph
    rows = Q.timeline(ents, 1968, 1975).collect()
    assert all(1968 <= r.year <= 1975 for r in rows)


def test_db_stats(graph):
    ents, edges = graph
    stats = Q.db_stats(ents, edges).collect()
    kinds = {r.kind for r in stats}
    assert kinds == {"nodes", "edges"}


def test_influence_chains_and_score(graph):
    _, edges = graph
    chains = Q.influence_chains(edges).collect()
    for c in chains:
        assert c.hops in (2, 3)
    score = Q.influence_score(edges)
    rows = score.collect()
    if rows:
        assert rows[0].score >= rows[-1].score


def test_shortest_path(graph):
    ents, edges = graph
    e = edges.limit(1).collect()
    if e:
        d = Q.shortest_path_length(edges, e[0].subj_id, e[0].obj_id, max_hops=3)
        assert d == 1


def test_triangle_counts_runs(graph):
    _, edges = graph
    tri = Q.triangle_counts(edges).collect()
    for r in tri:
        assert r.triangles >= 1


def test_album_tracks(graph):
    from metal_history_knowledge_graph_spark.functions.gazetteer import SONGS

    entities, edges = graph
    rows = Q.album_tracks(edges).collect()
    assert rows, "corpus at this seed emits CONTAINS_TRACK edges"
    for r in rows:
        assert SONGS[r.track]["album"] == r.album


def test_band_cooccurrence(graph):
    entities, edges = graph
    rows = Q.band_cooccurrence(edges).collect()
    assert rows, "corpus at this seed emits co-occurrence edges"
    for r in rows:
        assert r.band1 <= r.band2
        assert set(r.predicates) <= {"MENTIONED_WITH", "CONTEMPORARY_OF"}
        assert r.n_links >= 1


def test_songs_entity_view(graph):
    entities, edges = graph
    songs = Q.entity_view(entities, "songs")
    rows = songs.collect()
    assert rows
    for r in rows:
        assert r.album is not None


def test_clustering_coefficient(graph):
    entities, edges = graph
    rows = Q.clustering_coefficient(edges).collect()
    assert rows
    for r in rows:
        assert 0.0 <= r.clustering <= 1.0
        if r.degree < 2:
            assert r.clustering == 0.0
        else:
            assert r.clustering == round(
                2.0 * r.triangles / (r.degree * (r.degree - 1)), 4
            )
