"""SALSA: pure-Python integer-trajectory replay plus the TKC
(link-farm) resistance property that separates it from HITS; and the
degenerate (self-loop-only) input across the whole rank family."""

import pytest

from metal_history_knowledge_graph_spark.operators.graph_algos import (
    DAMPING_PCT,
    HITS_SCALE,
    PAGERANK_SCALE,
    hits,
    katz,
    pagerank,
    pagerank_personalized,
    pagerank_resume,
    pagerank_weighted,
    salsa,
)


def _edges(spark, pairs):
    return spark.createDataFrame(
        [(int(a), int(b)) for a, b in pairs], "subj_id long, obj_id long"
    )


def _py_salsa(pairs, n_iters=5, scale=HITS_SCALE):
    e = sorted({(a, b) for a, b in pairs if a != b})
    nodes = sorted({x for p in e for x in p})
    outdeg, indeg = {}, {}
    for a, b in e:
        outdeg[a] = outdeg.get(a, 0) + 1
        indeg[b] = indeg.get(b, 0) + 1
    h = {v: scale // len(nodes) for v in nodes}
    a_ = {v: 0 for v in nodes}
    for _ in range(n_iters):
        a_ = {v: 0 for v in nodes}
        for u, v in e:
            a_[v] += h[u] // outdeg[u]
        h = {v: 0 for v in nodes}
        for u, v in e:
            h[u] += a_[v] // indeg[v]
    return {v: (h[v], a_[v]) for v in nodes}


PAIRS = [
    (0, 1), (0, 2), (1, 2), (2, 3), (3, 0), (4, 2), (4, 3), (5, 0),
]


def test_matches_python_trajectory(spark):
    got = {
        r["node_id"]: (r["hub_fixed"], r["auth_fixed"])
        for r in salsa(_edges(spark, PAIRS)).collect()
    }
    assert got == _py_salsa(PAIRS)


def test_link_farm_resistance(spark):
    # organic community: 10 hubs × 10 targets, complete bipartite.
    organic = [(h, 100 + t) for h in range(10) for t in range(10)]
    # farm community: 30 hubs × 5 targets, complete bipartite — the
    # classic TKC construction (larger principal eigenvalue
    # sqrt(150) > sqrt(100), so HITS mass collapses onto it).
    farm = [(200 + i, 900 + t) for i in range(30) for t in range(5)]
    pairs = organic + farm
    s = {
        r["node_id"]: r["auth_fixed"]
        for r in salsa(_edges(spark, pairs)).collect()
    }
    k = {
        r["node_id"]: r["auth_fixed"]
        for r in hits(_edges(spark, pairs)).collect()
    }
    # HITS: farm target authority EXPLODES relative to organic
    # ((150/100)^5 ≈ 7.6× amplification on top of the 6× in-degree).
    # SALSA: degree division pins the ratio at the in-degree share
    # (30/5 vs 10/10 per unit hub mass = 6×), no amplification.
    # measured at 5 iters: HITS ratio 15.2 (and growing per iter),
    # SALSA ratio 6.000 — exactly the in-degree share, no growth
    assert k[900] > 12 * k[100]
    assert s[900] < 7 * s[100]
    assert 5 * s[100] < s[900]  # in-degree signal itself is kept


def test_empty_graph(spark):
    assert salsa(_edges(spark, [(1, 1)])).count() == 0


# member -> (call on the edge table and a seed table, result columns
# after node_id, result rows); the graph has nodes only through seeds
FAMILY = {
    "pagerank": (lambda e, s: pagerank(e), ["rank_fixed"], 0),
    "pagerank_resume": (lambda e, s: pagerank_resume(e, pagerank(e)), ["rank_fixed"], 0),
    "pagerank_weighted": (lambda e, s: pagerank_weighted(e), ["rank_fixed"], 0),
    "pagerank_personalized": (pagerank_personalized, ["rank_fixed"], 2),
    "katz": (lambda e, s: katz(e), ["katz_fixed"], 0),
    "hits": (lambda e, s: hits(e), ["hub_fixed", "auth_fixed"], 0),
    "salsa": (lambda e, s: salsa(e), ["hub_fixed", "auth_fixed"], 0),
}


@pytest.mark.parametrize("node_type, nodes", [("bigint", (1, 2)), ("string", ("a.com", "b.com"))],
                         ids=["long", "string"])
@pytest.mark.parametrize("member", list(FAMILY))
def test_empty_graph_family(spark, member, node_type, nodes):
    call, cols, n_rows = FAMILY[member]
    edges = spark.createDataFrame(
        [(nodes[0], nodes[0], 1)], f"subj_id {node_type}, obj_id {node_type}, weight bigint")
    seeds = spark.createDataFrame([(v,) for v in nodes], f"node {node_type}")
    out = call(edges, seeds)
    assert out.dtypes == [("node_id", node_type)] + [(c, "bigint") for c in cols]
    rows = out.collect()
    assert len(rows) == n_rows
    if member == "pagerank_personalized":
        # a seed with no edge keeps its teleport share, nothing more
        teleport = (100 - DAMPING_PCT) * PAGERANK_SCALE // (100 * len(nodes))
        assert sorted(rows) == [(v, teleport) for v in nodes]
