"""Unit tests for operators/temporal.py (sessionize, asof_join,
latest_snapshot) and operators/graph_algos.pagerank — the driver-gate
oracle parity for these lives in test_oracle_parity.py (q_sessionize,
q_asof_join, q_latest_event, q_pagerank); here we pin the semantic
corner cases the oracles can't isolate."""

from __future__ import annotations

import datetime as dt

import pytest
from pyspark.sql import functions as F

from metal_history_knowledge_graph_spark.operators.temporal import (
    asof_join,
    latest_snapshot,
    session_stats,
    sessionize,
)


def _ts(minute, second=0):
    return dt.datetime(2024, 1, 1, 12, minute, second)


def _events(spark, rows):
    return spark.createDataFrame(
        rows, "user_id long, ts timestamp, event_id long, value double"
    )


def test_sessionize_gap_splits_sessions(spark):
    rows = [
        (1, _ts(0), 1, 1.0),
        (1, _ts(10), 2, 1.0),   # 10 min gap → same session
        (1, _ts(50), 3, 1.0),   # 40 min gap → new session
        (1, _ts(55), 4, 1.0),
        (2, _ts(0), 5, 1.0),    # other user independent
    ]
    out = sessionize(_events(spark, rows), gap_minutes=30).collect()
    by_id = {r.event_id: r.session_no for r in out}
    assert by_id == {1: 1, 2: 1, 3: 2, 4: 2, 5: 1}


def test_sessionize_exact_gap_is_same_session(spark):
    # gap == threshold stays in-session (strictly-greater rule)
    rows = [(1, _ts(0), 1, 1.0), (1, _ts(30), 2, 1.0),
            (1, _ts(0, 1) + dt.timedelta(minutes=60), 3, 1.0)]
    out = sessionize(_events(spark, rows), gap_minutes=30).collect()
    by_id = {r.event_id: r.session_no for r in out}
    assert by_id[1] == 1 and by_id[2] == 1 and by_id[3] == 2


def test_session_stats_span_and_counts(spark):
    rows = [(1, _ts(0), 1, 2.0), (1, _ts(10), 2, 3.0), (1, _ts(50), 3, 5.0)]
    s = session_stats(sessionize(_events(spark, rows), gap_minutes=30))
    got = {(r.user_id, r.session_no): (r.n_events, r.span_us, r.total_value)
           for r in s.collect()}
    assert got[(1, 1)] == (2, 10 * 60 * 1_000_000, 5.0)
    assert got[(1, 2)] == (1, 0, 5.0)


def test_asof_inclusive_and_no_match(spark):
    left = _events(spark, [(1, _ts(10), 100, 0.0), (1, _ts(5), 101, 0.0),
                           (2, _ts(10), 102, 0.0)]).drop("value")
    right = _events(spark, [(1, _ts(10), 7, 7.7), (1, _ts(3), 6, 6.6)])
    out = asof_join(left, right, "user_id", "ts", "event_id", ["value"])
    got = {r.event_id: (r.matched_event_id, r.matched_value) for r in out.collect()}
    assert got[100] == (7, 7.7)      # same-ts right row matches (inclusive)
    assert got[101] == (6, 6.6)      # most recent prior
    assert got[102] == (None, None)  # user 2 has no rights → left-join nulls


def test_asof_right_ts_tie_keeps_greatest_id(spark):
    left = _events(spark, [(1, _ts(20), 100, 0.0)]).drop("value")
    right = _events(spark, [(1, _ts(10), 5, 5.5), (1, _ts(10), 9, 9.9)])
    out = asof_join(left, right, "user_id", "ts", "event_id", ["value"]).collect()
    assert out[0].matched_event_id == 9 and out[0].matched_value == 9.9


def test_latest_snapshot_keeps_newest_and_breaks_ties_by_id(spark):
    df = _events(spark, [
        (1, _ts(0), 1, 1.0), (1, _ts(9), 3, 3.0), (1, _ts(9), 2, 2.0),
        (2, _ts(5), 4, 4.0),
    ])
    out = latest_snapshot(df, "user_id", "ts", "event_id", ["value"])
    got = {r.user_id: (r.event_id, r.value) for r in out.collect()}
    assert got == {1: (3, 3.0), 2: (4, 4.0)}


# --- pagerank ----------------------------------------------------------------

def _edges(spark, pairs):
    return spark.createDataFrame(pairs, "subj_id long, obj_id long")


def test_pagerank_matches_float_reference(spark):
    from metal_history_knowledge_graph_spark.operators.graph_algos import (
        PAGERANK_SCALE,
        pagerank,
    )

    pairs = [(0, 1), (1, 2), (2, 0), (2, 1), (3, 2), (3, 0)]
    out = {r.node_id: r.rank_fixed / PAGERANK_SCALE
           for r in pagerank(_edges(spark, pairs), n_iters=20).collect()}
    # float power iteration, same simplified (dropped dangling mass) rule
    nodes = sorted({a for a, _ in pairs} | {b for _, b in pairs})
    outdeg = {}
    for a, _ in pairs:
        outdeg[a] = outdeg.get(a, 0) + 1
    r = {v: 1 / len(nodes) for v in nodes}
    for _ in range(20):
        nxt = {v: 0.15 / len(nodes) for v in nodes}
        for a, b in pairs:
            nxt[b] += 0.85 * r[a] / outdeg[a]
        r = nxt
    for v in nodes:
        assert abs(out[v] - r[v]) < 1e-4, (v, out[v], r[v])
    # ranking order must agree exactly
    assert sorted(out, key=out.get) == sorted(r, key=r.get)


def test_pagerank_deterministic_across_partitioning(spark):
    from metal_history_knowledge_graph_spark.operators.graph_algos import pagerank

    pairs = [(i, (i * 7 + 1) % 50) for i in range(50)] + \
            [(i, (i + 1) % 50) for i in range(50)]
    e = _edges(spark, pairs)
    a = sorted((r.node_id, r.rank_fixed)
               for r in pagerank(e.repartition(1), n_iters=5).collect())
    b = sorted((r.node_id, r.rank_fixed)
               for r in pagerank(e.repartition(13), n_iters=5).collect())
    assert a == b


def test_pagerank_mass_bounded(spark):
    from metal_history_knowledge_graph_spark.operators.graph_algos import (
        PAGERANK_SCALE,
        pagerank,
    )

    pairs = [(0, 1), (1, 0), (1, 2)]  # node 2 dangles
    total = sum(r.rank_fixed for r in
                pagerank(_edges(spark, pairs), n_iters=8).collect())
    assert 0 < total <= PAGERANK_SCALE  # floor-divides + dangling only lose mass


# --- repetition stats --------------------------------------------------------

def test_repetition_stats_extremes(spark):
    from metal_history_knowledge_graph_spark.operators.textstats import (
        gopher_keep,
        with_repetition_stats,
    )

    docs = spark.createDataFrame(
        [(0, ""), (1, "word"), (2, "spam spam spam spam spam spam"),
         (3, "one two three four five six")],
        "doc_id long, text string",
    )
    out = {r.doc_id: r for r in
           gopher_keep(with_repetition_stats(docs)).collect()}
    assert out[0].n_words == 0 and out[0].unique_word_bp == 0
    assert out[1].n_words == 1 and out[1].unique_word_bp == 10000
    assert out[1].dup_bigram_bp == 0  # no bigrams in a 1-word doc
    # all-same-word doc: every bigram identical → fully duplicated
    assert out[2].top_word_bp == 10000 and out[2].dup_bigram_bp == 10000
    assert not out[2].keep  # fails the diversity floor
    assert out[3].unique_word_bp == 10000 and out[3].dup_bigram_bp == 0
    assert out[3].mean_word_len_x100 == (100 * 22) // 6  # Σlen = 3+3+5+4+4+3


def test_asof_join_ignores_null_timestamps(spark):
    """A right row with NULL ts must never match (l.ts >= NULL is never
    true in the ASOF rule — and nulls-first window ordering must not
    smuggle its payload to the partition start); a left row with NULL
    ts matches nothing."""
    from metal_history_knowledge_graph_spark.operators.temporal import asof_join

    left = spark.createDataFrame(
        [("k", 10, 1), ("k", None, 2)], "key string, ts long, eid long")
    right = spark.createDataFrame(
        [("k", None, 100, "poison"), ("k", 5, 200, "real")],
        "key string, ts long, eid long, val string")
    out = {r["eid"]: r for r in asof_join(
        left, right, "key", "ts", "eid", ["val"]).collect()}
    assert (out[1]["matched_eid"], out[1]["matched_val"]) == (200, "real")
    assert out[2]["matched_eid"] is None and out[2]["matched_val"] is None


def test_snapshot_diff_classifies_all_states(spark):
    from metal_history_knowledge_graph_spark.operators.temporal import (
        snapshot_diff,
    )

    old = spark.createDataFrame(
        [(1, "a"), (2, "b"), (3, "c")], ["doc_id", "fingerprint"]
    )
    new = spark.createDataFrame(
        [(2, "b"), (3, "C2"), (4, "d")], ["doc_id", "fingerprint"]
    )
    got = {r.doc_id: r.status for r in snapshot_diff(old, new).collect()}
    assert got == {1: "removed", 2: "unchanged", 3: "changed", 4: "added"}


# --- HITS ---------------------------------------------------------------------

def test_hits_matches_float_reference(spark):
    """Fixed-point hubs/authorities converge to the classic float HITS
    values (L1-normalized power iteration) on a graph with distinct
    hub and authority roles."""
    from metal_history_knowledge_graph_spark.operators.graph_algos import (
        HITS_SCALE,
        hits,
    )

    # 0 and 3 are pure hubs, 1 and 2 pure authorities, 4 mixed
    pairs = [(0, 1), (0, 2), (3, 1), (3, 2), (3, 4), (4, 1)]
    out = {r.node_id: (r.hub_fixed / HITS_SCALE, r.auth_fixed / HITS_SCALE)
           for r in hits(_edges(spark, pairs), n_iters=25).collect()}
    nodes = sorted({a for a, _ in pairs} | {b for _, b in pairs})
    h = {v: 1 / len(nodes) for v in nodes}
    a = {}
    for _ in range(25):
        a = {v: sum(h[u] for u, w in pairs if w == v) for v in nodes}
        ta = sum(a.values()) or 1.0
        a = {v: x / ta for v, x in a.items()}
        h = {v: sum(a[w] for u, w in pairs if u == v) for v in nodes}
        th = sum(h.values()) or 1.0
        h = {v: x / th for v, x in h.items()}
    for v in nodes:
        assert abs(out[v][0] - h[v]) < 1e-4, (v, out[v][0], h[v])
        assert abs(out[v][1] - a[v]) < 1e-4, (v, out[v][1], a[v])
    # role separation: pure hubs have ~zero authority and vice versa
    assert out[0][1] < 1e-4 and out[3][1] < 1e-4
    assert out[1][0] < 1e-4 and out[2][0] < 1e-4


def test_hits_deterministic_across_partitioning(spark):
    from metal_history_knowledge_graph_spark.operators.graph_algos import hits

    pairs = [(i, (i * 7 + 1) % 50) for i in range(50)] + \
            [(i, (i + 1) % 50) for i in range(50)]
    e = _edges(spark, pairs)
    a = sorted((r.node_id, r.hub_fixed, r.auth_fixed)
               for r in hits(e.repartition(1), n_iters=5).collect())
    b = sorted((r.node_id, r.hub_fixed, r.auth_fixed)
               for r in hits(e.repartition(13), n_iters=5).collect())
    assert a == b


def test_hits_mass_bounded_and_string_nodes(spark):
    """L1 normalization keeps every score ≤ scale and each total ≤
    scale (the overflow-safety invariant); node ids may be strings
    (host names) — the host-graph consumer's type."""
    from metal_history_knowledge_graph_spark.operators.graph_algos import (
        HITS_SCALE,
        hits,
    )

    pairs = [("a.com", "b.com"), ("a.com", "c.com"), ("d.com", "b.com"),
             ("b.com", "c.com")]
    e = spark.createDataFrame(pairs, "subj_id string, obj_id string")
    rows = hits(e, n_iters=5).collect()
    assert {r.node_id for r in rows} == {"a.com", "b.com", "c.com", "d.com"}
    assert all(0 <= r.hub_fixed <= HITS_SCALE for r in rows)
    assert all(0 <= r.auth_fixed <= HITS_SCALE for r in rows)
    assert sum(r.hub_fixed for r in rows) <= HITS_SCALE
    assert sum(r.auth_fixed for r in rows) <= HITS_SCALE


# --- harmonic centrality --------------------------------------------------------

def test_harmonic_sampled_exact_on_path_and_disconnected(spark):
    """Path graph 0-1-2-3 plus isolated pair 10-11: harmonic from the
    4 smallest sources; unreachable pairs contribute 0 (the
    disconnected-safe property), distances floor-divide the scale."""
    from metal_history_knowledge_graph_spark.operators.graph_algos import (
        harmonic_sampled,
    )

    pairs = [(0, 1), (1, 2), (2, 3), (10, 11)]
    out = {
        r.node_id: r.harmonic_fixed
        for r in harmonic_sampled(
            _edges(spark, pairs), n_sources=4, max_hops=6, scale=1000
        ).collect()
    }
    # sources = 4 smallest ids = {0, 1, 2, 3}; undirected path distances
    # node 0: d(1)=1, d(2)=2, d(3)=3 -> 1000 + 500 + 333
    assert out[0] == 1000 + 500 + 333
    assert out[1] == 1000 + 1000 + 500
    assert out[2] == 500 + 1000 + 1000
    assert out[3] == 333 + 500 + 1000
    # 10/11 unreachable from every source -> 0, but present
    assert out[10] == 0 and out[11] == 0


def test_harmonic_respects_hop_budget_and_partitioning(spark):
    from metal_history_knowledge_graph_spark.operators.graph_algos import (
        harmonic_sampled,
    )

    chain = [(i, i + 1) for i in range(10)]
    e = _edges(spark, chain)
    # with max_hops=2 node 5 sees only sources 3 and 4 (d=2, d=1)
    out = {r.node_id: r.harmonic_fixed
           for r in harmonic_sampled(e, n_sources=5, max_hops=2,
                                     scale=1000).collect()}
    assert out[5] == 500 + 1000
    a = sorted(out.items())
    b = sorted(
        (r.node_id, r.harmonic_fixed)
        for r in harmonic_sampled(e.repartition(7), n_sources=5, max_hops=2,
                                  scale=1000).collect()
    )
    assert a == b


# --- link prediction ------------------------------------------------------------

def test_link_prediction_hand_graph(spark):
    """Square 0-1-2-3-0: the two diagonals are the only non-adjacent
    pairs, each with 2 common neighbors and Jaccard 2/(2+2-2) = 1000
    permille; adjacent pairs never appear."""
    from metal_history_knowledge_graph_spark.operators.graph_algos import (
        link_prediction,
    )

    square = [(0, 1), (1, 2), (2, 3), (3, 0)]
    got = {
        (r.node_a, r.node_b): (r.n_common, r.jaccard_permille)
        for r in link_prediction(_edges(spark, square), min_common=1).collect()
    }
    assert got == {(0, 2): (2, 1000), (1, 3): (2, 1000)}
    # reversed-direction duplicates of the same undirected edge must
    # not leak adjacent pairs through the anti-join
    both_dirs = square + [(b, a) for a, b in square]
    got2 = {
        (r.node_a, r.node_b): r.n_common
        for r in link_prediction(_edges(spark, both_dirs), min_common=1).collect()
    }
    assert set(got2) == {(0, 2), (1, 3)}


def test_link_prediction_min_common_and_degrees(spark):
    from metal_history_knowledge_graph_spark.operators.graph_algos import (
        link_prediction,
    )

    # star center 9 with leaves 0..4 plus edge 0-1: leaves share only
    # the center (n_common=1); 2 and 3 have degree 1 each
    pairs = [(9, i) for i in range(5)] + [(0, 1)]
    out = {
        (r.node_a, r.node_b): (r.n_common, r.jaccard_permille)
        for r in link_prediction(_edges(spark, pairs), min_common=1).collect()
    }
    # leaves 2,3: jaccard = 1*1000 div (1+1-1) = 1000
    assert out[(2, 3)] == (1, 1000)
    # 0 (deg 2) vs 2 (deg 1): 1000 div (2+1-1) = 500
    assert out[(0, 2)] == (1, 500)
    # 0-1 adjacent -> excluded
    assert (0, 1) not in out
    assert link_prediction(_edges(spark, pairs), min_common=2).count() == 0


def test_personalized_pagerank_seed_locality(spark):
    """Two disjoint rings; seeds live in ring A only — every ring-B
    node must score exactly 0, seeds score highest, and ranks decay
    with distance from the seeds."""
    from metal_history_knowledge_graph_spark.operators.graph_algos import (
        pagerank_personalized,
    )

    ring_a = [(i, (i + 1) % 5) for i in range(5)]           # nodes 0-4
    ring_b = [(10 + i, 10 + (i + 1) % 5) for i in range(5)]  # nodes 10-14
    e = _edges(spark, ring_a + ring_b)
    seeds = spark.createDataFrame([(0,)], "node long")
    out = {r.node_id: r.rank_fixed
           for r in pagerank_personalized(e, seeds, n_iters=8).collect()}
    assert all(out[10 + i] == 0 for i in range(5))
    # every ring-A node is reachable from the seed and holds mass
    assert all(out[i] > 0 for i in range(5))
    # all mass lives in the seed's component: ring A sums to ~scale
    # (floor-divide leakage only), ring B to exactly 0
    assert sum(out[i] for i in range(5)) > 9 * 10**11
    # a seed absent from the edge set still holds teleport mass
    seeds2 = spark.createDataFrame([(99,)], "node long")
    out2 = {r.node_id: r.rank_fixed
            for r in pagerank_personalized(e, seeds2, n_iters=3).collect()}
    assert out2[99] > 0 and all(v == 0 for k, v in out2.items() if k != 99)


def test_pagerank_weighted_degenerates_and_shifts_mass(spark):
    from metal_history_knowledge_graph_spark.operators.graph_algos import (
        pagerank,
        pagerank_weighted,
    )

    pairs = [(0, 1), (0, 2), (1, 2), (2, 0), (3, 0)]
    # uniform weights == unweighted pagerank, bit for bit
    e1 = spark.createDataFrame(
        [(a, b, 1) for a, b in pairs], "subj_id long, obj_id long, weight long"
    )
    a = sorted((r.node_id, r.rank_fixed)
               for r in pagerank_weighted(e1, n_iters=6).collect())
    b = sorted((r.node_id, r.rank_fixed)
               for r in pagerank(_edges(spark, pairs), n_iters=6).collect())
    assert a == b
    # skewed weight on 0->2 moves rank from 1 to 2
    e2 = spark.createDataFrame(
        [(0, 1, 1), (0, 2, 9), (1, 2, 1), (2, 0, 1), (3, 0, 1)],
        "subj_id long, obj_id long, weight long",
    )
    w = {r.node_id: r.rank_fixed
         for r in pagerank_weighted(e2, n_iters=6).collect()}
    u = dict(b)
    assert w[2] > u[2] and w[1] < u[1]
    # duplicate edges accumulate their weights (multigraph fold)
    e3 = spark.createDataFrame(
        [(0, 1, 1), (0, 2, 4), (0, 2, 5), (1, 2, 1), (2, 0, 1), (3, 0, 1)],
        "subj_id long, obj_id long, weight long",
    )
    w3 = {r.node_id: r.rank_fixed
          for r in pagerank_weighted(e3, n_iters=6).collect()}
    assert w3 == w
    import pytest as _pytest
    bad = spark.createDataFrame([(0, 1, 0)], "subj_id long, obj_id long, weight long")
    with _pytest.raises(ValueError, match="non-positive"):
        pagerank_weighted(bad)
    # NULL weights are corrupt input too — a bare w <= 0 filter would
    # evaluate NULL <= 0 to NULL and let the edge silently vanish
    bad_null = spark.createDataFrame(
        [(0, 1, 1), (1, 2, None)], "subj_id long, obj_id long, weight long"
    )
    with _pytest.raises(ValueError, match="null/non-positive"):
        pagerank_weighted(bad_null)



def test_weighted_edge_set_runs_its_input_once(spark, jobs_started):
    # the bad-weight check rides in the one checkpointed aggregate: the
    # weighted edge set starts no more jobs than the unweighted one
    # (a separate check action would run the input lineage again)
    from metal_history_knowledge_graph_spark.operators.graph_algos import _directed_edges

    edges = spark.range(40).select(
        (F.col("id") % 7).alias("subj_id"), (F.col("id") % 5).alias("obj_id"),
        (F.col("id") % 3 + 1).alias("weight"),
    )
    weighted, jobs = jobs_started(lambda: _directed_edges(edges, weighted=True))
    _, unweighted_jobs = jobs_started(lambda: _directed_edges(edges))
    assert jobs == unweighted_jobs
    assert weighted.agg(F.sum("w")).first()[0] == edges.filter(
        F.col("subj_id") != F.col("obj_id")).agg(F.sum("weight")).first()[0]

# ---- funnel analysis (funnel_steps / funnel_counts) ----


@pytest.fixture(scope="module")
def funnel_events(spark):
    # user 1: full funnel; user 2: stops after click; user 3: purchase
    # BEFORE signup (must not count); user 4: same-ts tie resolved by id.
    rows = [
        (1, "2024-01-01 10:00:00", 1, "view"),
        (2, "2024-01-01 10:05:00", 1, "click"),
        (3, "2024-01-01 10:10:00", 1, "signup"),
        (4, "2024-01-01 12:00:00", 1, "purchase"),
        (5, "2024-01-01 10:00:00", 2, "view"),
        (6, "2024-01-01 10:20:00", 2, "click"),
        (7, "2024-01-01 09:00:00", 3, "purchase"),
        (8, "2024-01-01 10:00:00", 3, "view"),
        (9, "2024-01-01 10:01:00", 3, "click"),
        (10, "2024-01-01 10:02:00", 3, "signup"),
        (11, "2024-01-01 10:00:00", 4, "view"),
        (12, "2024-01-01 10:00:00", 4, "click"),  # same ts, id 12 > 11: counts
        (13, "2024-01-01 09:59:59", 4, "signup"),  # before click: must not
    ]
    return spark.createDataFrame(
        [(i, ts, u, t) for i, ts, u, t in rows],
        "event_id long, ts string, user_id long, event_type string",
    ).select("event_id", F.col("ts").cast("timestamp").alias("ts"),
             "user_id", "event_type")


def test_funnel_order_and_ties(spark, funnel_events):
    from metal_history_knowledge_graph_spark.operators.temporal import (
        funnel_steps,
    )

    comp = funnel_steps(funnel_events, ["view", "click", "signup", "purchase"])
    got = {(r.step_no, r.user_id): r.event_id for r in comp.collect()}
    assert got == {
        (1, 1): 1, (2, 1): 2, (3, 1): 3, (4, 1): 4,
        (1, 2): 5, (2, 2): 6,
        (1, 3): 8, (2, 3): 9, (3, 3): 10,  # user 3: early purchase ignored
        (1, 4): 11, (2, 4): 12,  # same-ts click counts; early signup doesn't
    }


def test_funnel_counts_permille(spark, funnel_events):
    from metal_history_knowledge_graph_spark.operators.temporal import (
        funnel_counts,
        funnel_steps,
    )

    comp = funnel_steps(funnel_events, ["view", "click", "signup", "purchase"])
    got = {r.step_no: (r.n_keys, r.conv_permille)
           for r in funnel_counts(comp).collect()}
    assert got == {1: (4, 1000), 2: (4, 1000), 3: (2, 500), 4: (1, 250)}


def test_funnel_within_minutes(spark, funnel_events):
    from metal_history_knowledge_graph_spark.operators.temporal import (
        funnel_steps,
    )

    comp = funnel_steps(
        funnel_events, ["view", "click", "signup", "purchase"],
        within_minutes=30,
    )
    # user 1's purchase at 12:00 falls outside 30 min of the 10:00 anchor
    got = {(r.step_no, r.user_id) for r in comp.collect()}
    assert (4, 1) not in got and (3, 1) in got


def test_funnel_no_window_over_events(spark, funnel_events):
    """The completion chain is join+partial-agg only — no window runs
    over the event log (hot users collapse map-side)."""
    from metal_history_knowledge_graph_spark.operators.temporal import (
        funnel_steps,
    )

    plan = (
        funnel_steps(funnel_events, ["view", "click"])
        ._jdf.queryExecution().executedPlan().toString()
    )
    assert "Window" not in plan


def test_pagerank_resume_continues_trajectory(spark):
    """Warm-starting from iteration-3 ranks and running 2 more equals
    a cold 5-iteration run on the SAME graph — the resume loop is the
    identical arithmetic."""
    from metal_history_knowledge_graph_spark.operators.graph_algos import (
        pagerank,
        pagerank_resume,
    )

    e = spark.createDataFrame(
        [(i, (i * 3 + 1) % 40) for i in range(40)]
        + [(i, (i + 1) % 40) for i in range(40)],
        "subj_id long, obj_id long",
    )
    cold = {r.node_id: r.rank_fixed for r in pagerank(e, n_iters=5).collect()}
    warm = {
        r.node_id: r.rank_fixed
        for r in pagerank_resume(e, pagerank(e, n_iters=3), n_iters=2).collect()
    }
    assert warm == cold


def test_pagerank_resume_seeds_new_nodes(spark):
    from metal_history_knowledge_graph_spark.operators.graph_algos import (
        pagerank,
        pagerank_resume,
    )

    base = spark.createDataFrame(
        [(0, 1), (1, 2), (2, 0)], "subj_id long, obj_id long"
    )
    prev = pagerank(base, n_iters=3)
    upd = base.unionByName(
        spark.createDataFrame([(2, 9)], "subj_id long, obj_id long")
    )
    out = {r.node_id: r.rank_fixed
           for r in pagerank_resume(upd, prev, n_iters=1).collect()}
    assert 9 in out  # new node participates
    # node 2 now splits mass between 0 and 9: node 0 gets teleport +
    # 0.85 * (prev(2) div 2); replay by hand
    p = {r.node_id: r.rank_fixed for r in prev.collect()}
    teleport = (15 * 10**12) // (100 * 4)
    assert out[9] == teleport + (85 * (p[2] // 2)) // 100


def test_decayed_counts_weights_and_mergeable_rollup(spark):
    from metal_history_knowledge_graph_spark.operators.temporal import (
        decayed_counts,
    )

    # key 'a': events at bucket 0, 7, 14 (days); now = bucket 14,
    # half-life 7 -> weights 2^28, 2^29, 2^30
    rows = [
        ("a", "2024-01-01 00:00:00"),
        ("a", "2024-01-08 00:00:00"),
        ("a", "2024-01-15 00:00:00"),
        ("b", "2024-01-15 12:00:00"),  # same bucket as now: full weight
    ]
    ev = spark.createDataFrame(rows, "k string, ts string").select(
        "k", F.col("ts").cast("timestamp").alias("ts")
    )
    got = {r.key: (r.n_events, r.decayed_fixed, r.last_bucket)
           for r in decayed_counts(ev, key_col="k").collect()}
    base = 19723  # 2024-01-01 in days since epoch
    assert got["a"] == (3, (1 << 28) + (1 << 29) + (1 << 30), base + 14)
    assert got["b"] == (1, 1 << 30, base + 14)


def test_decayed_counts_ancient_events_zero(spark):
    from metal_history_knowledge_graph_spark.operators.temporal import (
        decayed_counts,
    )

    ev = spark.createDataFrame(
        [("x", "1990-01-01 00:00:00"), ("x", "2024-01-01 00:00:00")],
        "k string, ts string",
    ).select("k", F.col("ts").cast("timestamp").alias("ts"))
    r = decayed_counts(ev, key_col="k").collect()[0]
    # the 1990 event is > 30 half-lives old: weight exactly 0
    assert r.n_events == 2 and r.decayed_fixed == 1 << 30


def test_cohort_retention_hand_and_properties(spark):
    from metal_history_knowledge_graph_spark.operators.temporal import (
        cohort_retention,
    )

    rows = [
        # user, bucket; u1 cohort 0 active 0,1,2; u2 cohort 0 active 0,2;
        # u3 cohort 1 active 1; nulls dropped; duplicate activity rows ok
        (1, 0), (1, 0), (1, 1), (1, 2),
        (2, 0), (2, 2),
        (3, 1),
        (None, 0), (4, None),
    ]
    df = spark.createDataFrame(rows, "user_id long, bucket int")
    got = {
        (r.cohort, r.bucket): (r.cohort_size, r.n_active, r.retention_ppm)
        for r in cohort_retention(df).collect()
    }
    assert got == {
        (0, 0): (2, 2, 1_000_000),
        (0, 1): (2, 1, 500_000),
        (0, 2): (2, 2, 1_000_000),
        (1, 1): (1, 1, 1_000_000),
    }
    # diagonal is always full retention
    for (c, b), (_, _, ppm) in got.items():
        if c == b:
            assert ppm == 1_000_000
