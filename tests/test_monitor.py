"""Quality monitors (reference scripts/monitoring/quality_monitor.py)."""

import pytest

from metal_history_knowledge_graph_spark.operators import monitor as M
from metal_history_knowledge_graph_spark.plans.pipeline import run
from metal_history_knowledge_graph_spark.sources.corpus import (
    generate_pages,
    generate_truth,
)


@pytest.fixture(scope="module")
def built(spark, tmp_path_factory):
    from metal_history_knowledge_graph_spark.io import TableStore

    store = TableStore(spark, str(tmp_path_factory.mktemp("mstore")))
    run(spark, generate_pages(spark, 40, seed=13), store, run_id="m")
    return store


def test_extraction_monitor_green_and_alerting(spark, built):
    truth = generate_truth(spark, 40, seed=13)
    entities, edges = built.read("entities"), built.read("edges")
    prf, alerts = M.monitor_extraction_quality(edges, truth, entities)
    assert prf["f1"] >= 0.95
    assert alerts == []
    # threshold breach path: impossible bar -> alert fires
    _, alerts = M.monitor_extraction_quality(
        edges, truth, entities,
        {**M.DEFAULT_THRESHOLDS, "extraction_f1_min": 1.1},
    )
    assert len(alerts) == 1 and "F1 low" in alerts[0]


def test_search_latency_monitor(spark, built):
    from metal_history_knowledge_graph_spark.operators.embeddings import (
        embed_entities,
    )

    entities = built.read("entities")
    metrics, alerts = M.monitor_search_latency(
        spark, entities, embed_entities(entities),
        thresholds={**M.DEFAULT_THRESHOLDS, "search_latency_max_ms": 1e9},
    )
    assert metrics["search_latency_mean_ms"] > 0
    assert metrics["error_rate"] == 0.0
    assert alerts == []
    # Spark overhead >> 0.001 ms -> latency alert fires
    _, alerts = M.monitor_search_latency(
        spark, entities, embed_entities(entities),
        thresholds={**M.DEFAULT_THRESHOLDS, "search_latency_max_ms": 0.001},
    )
    assert alerts and "latency high" in alerts[0]


def test_run_all_monitors_appends_history(spark, built):
    truth = generate_truth(spark, 40, seed=13)
    loose = {**M.DEFAULT_THRESHOLDS, "search_latency_max_ms": 1e9}
    row, alerts = M.run_all_monitors(spark, built, truth, loose)
    # the history row is built on the driver without a Python RDD
    assert "LogicalRDD" not in row._jdf.queryExecution().analyzed().toString()
    assert built.exists(M.HISTORY_TABLE)
    n1 = built.read(M.HISTORY_TABLE).count()
    assert n1 >= 1
    # second run computes growth vs the first snapshot (0% -> stall alert)
    _, alerts2 = M.run_all_monitors(spark, built, truth, loose)
    assert built.read(M.HISTORY_TABLE).count() == n1 + 1
    assert any("growth stalled" in a for a in alerts2)


def test_ranking_quality_hand_computed(spark):
    """Pin the metric arithmetic (reference benchmark_search.py:97-148)
    on a hand-computed fixture: hits/returned, hits/relevant, 1/rank of
    first hit; labeled queries with no results (or no hits) score 0."""
    from metal_history_knowledge_graph_spark.operators.search_quality import (
        mean_ranking_quality,
        ranking_quality,
    )

    ranking = spark.createDataFrame(
        [(1, "a", 1), (1, "b", 2), (1, "c", 3),
         (2, "d", 1), (2, "e", 2)],
        "query_id int, doc string, rank int",
    )
    labels = spark.createDataFrame(
        [(1, "b"), (1, "z"), (2, "x"), (3, "y")],
        "query_id int, doc string",
    )
    per_q = {r.query_id: r for r in ranking_quality(ranking, labels).collect()}
    assert per_q[1].n_hits == 1 and abs(per_q[1].precision - 1 / 3) < 1e-9
    assert abs(per_q[1].recall - 0.5) < 1e-9 and abs(per_q[1].rr - 0.5) < 1e-9
    assert per_q[2].n_hits == 0 and per_q[2].precision == 0.0 and per_q[2].rr == 0.0
    assert per_q[3].n_returned == 0 and per_q[3].precision == 0.0
    mean = mean_ranking_quality(ranking, labels).collect()[0]
    assert abs(mean.mean_precision - round(1 / 9, 4)) < 1e-9
    assert abs(mean.mean_recall - round(0.5 / 3, 4)) < 1e-9
    assert abs(mean.mrr - round(0.5 / 3, 4)) < 1e-9
    assert mean.n_queries == 3


def test_ndcg_hand_computed_and_log2_pin(spark):
    """Graded nDCG@k: discount constants pinned against math.log2,
    hand-computed DCG/IDCG/ndcg including the zero-gain and
    unjudged-doc paths, plus exact parity with a float reference."""
    import math

    from metal_history_knowledge_graph_spark.operators.search_quality import (
        dcg_discounts_micro,
        mean_ndcg,
        ndcg_quality,
    )

    disc = dict(dcg_discounts_micro(10))
    for r in range(1, 11):
        assert disc[r] == math.floor(1e6 / math.log2(r + 1) + 0.5)
    assert disc[1] == 1_000_000 and disc[3] == 500_000
    ranking = spark.createDataFrame(
        [(1, "a", 1), (1, "b", 2), (1, "c", 3),
         (2, "p", 1), (2, "q", 2),
         (3, "x", 1)],
        "query_id int, doc string, rank int",
    )
    qrels = spark.createDataFrame(
        # q1: graded gains, one unjudged doc ranked (c); ideal = b(3),a(1)
        [(1, "a", 1), (1, "b", 3), (1, "z", 2),
         # q2: all judged gains zero -> idcg 0 -> ndcg 0
         (2, "p", 0),
         # q3: relevant doc NOT retrieved -> dcg 0
         (3, "y", 2)],
        "query_id int, doc string, gain int",
    )
    per_q = {r.query_id: r for r in ndcg_quality(ranking, qrels).collect()}
    d1 = 1 * disc[1] + 3 * disc[2]
    i1 = 3 * disc[1] + 2 * disc[2] + 1 * disc[3]
    assert per_q[1].dcg_micro == d1 and per_q[1].idcg_micro == i1
    assert per_q[1].ndcg_ppm == d1 * 1_000_000 // i1
    assert per_q[2].idcg_micro == 0 and per_q[2].ndcg_ppm == 0
    assert per_q[3].dcg_micro == 0 and per_q[3].ndcg_ppm == 0
    assert per_q[3].idcg_micro == 2 * disc[1]
    mean = mean_ndcg(ranking, qrels).collect()[0]
    assert mean.n_queries == 3
    assert mean.mean_ndcg_ppm == (per_q[1].ndcg_ppm + 0 + 0) // 3


def test_rbo_hand_computed_and_formula_pin(spark):
    """RBO@k: suffix weights pinned against the float Webber et al.
    formula; identical rankings score Σ all-depth weights (→ the
    truncated-RBO maximum); disjoint rankings score 0; a hand pair
    matches the per-item suffix contributions."""
    import math

    from metal_history_knowledge_graph_spark.operators.search_quality import (
        rbo_overlap,
        rbo_suffix_weights_ppb,
    )

    k, p = 5, 0.9
    wts = dict(rbo_suffix_weights_ppb(k, 900))
    for m in range(1, k + 1):
        want = sum((1 - p) * p ** (d - 1) / d for d in range(m, k + 1))
        assert wts[m] == math.floor(want * 1e9 + 0.5)
    ra = spark.createDataFrame(
        [(1, c, r) for r, c in enumerate("abcde", 1)]
        + [(2, c, r) for r, c in enumerate("vwxyz", 1)],
        "query_id int, doc string, rank int",
    )
    rb = spark.createDataFrame(
        # q1: a at 2, b at 1, f new, d at 4 -> common a(m=2), b(m=2), d(m=4)
        [(1, "b", 1), (1, "a", 2), (1, "f", 3), (1, "d", 4), (1, "g", 5)]
        + [(2, c, r) for r, c in enumerate("lmnop", 1)],
        "query_id int, doc string, rank int",
    )
    got = {
        r.query_id: (r.n_common, r.rbo_ppb)
        for r in rbo_overlap(ra, rb, k=5, p_milli=900).collect()
    }
    assert got[1] == (3, wts[2] + wts[2] + wts[4])
    assert got[2] == (0, 0)
    ident = rbo_overlap(ra, ra, k=5, p_milli=900).collect()
    for r in ident:
        assert r.n_common == 5
        assert r.rbo_ppb == sum(wts[m] for m in range(1, 6))


def test_search_quality_monitor_and_history(spark, built):
    from metal_history_knowledge_graph_spark.operators.embeddings import (
        embed_entities,
    )

    entities = built.read("entities")
    relevance = {
        "Black Sabbath": ["Black Sabbath"],
        "Judas Priest": ["Judas Priest"],
    }
    metrics, alerts = M.monitor_search_quality(
        spark, entities, embed_entities(entities), relevance,
        thresholds={**M.DEFAULT_THRESHOLDS, "search_mrr_min": 0.0},
    )
    assert metrics["queries_evaluated"] == 2
    # the query text IS the entity name -> the hashing-trick embedding
    # must retrieve it within the top 10
    assert metrics["search_mrr"] > 0.0
    # impossible bar -> alert fires
    _, alerts = M.monitor_search_quality(
        spark, entities, embed_entities(entities), relevance,
        thresholds={**M.DEFAULT_THRESHOLDS, "search_mrr_min": 1.1},
    )
    assert alerts and "MRR low" in alerts[0]
    # wired into the history row next to latency
    loose = {**M.DEFAULT_THRESHOLDS, "search_latency_max_ms": 1e9,
             "search_mrr_min": 0.0}
    row, _ = M.run_all_monitors(spark, built, relevance=relevance,
                                thresholds=loose)
    got = row.collect()[0]
    assert got.search_mrr is not None and got.search_mean_recall is not None
