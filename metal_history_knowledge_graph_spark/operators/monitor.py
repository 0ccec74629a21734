"""Quality monitors: extraction accuracy, search latency, graph growth
— thresholded, with an append-only metrics history table.

Re-expresses the reference's ``QualityMonitor``
(``scripts/monitoring/quality_monitor.py:25-430``) Spark-first:

* the reference keeps ``metrics_history.json`` on disk and loops Cypher
  count queries per table; here every count is one set-oriented
  aggregation and history is an append-only ``monitor_history`` table
  in the same ``TableStore`` as the graph (snapshot-committed on
  Iceberg, so monitoring survives the same failure model as the data);
* thresholds mirror the reference's defaults
  (``quality_monitor.py:40-46``): extraction F1 ≥ 0.7, search latency
  ≤ 100 ms, growth ≥ 0.01%;
* ``run_all_monitors`` returns (metrics_row, alerts) and appends the
  metrics row — the reference's ``run_all_monitors`` + ``alert`` pair.

Latency is wall-clock of real queries at whatever scale the store
holds — at sandbox scale the Spark fixed overhead (~100s of ms)
dominates, so the threshold is configurable; the *shape* (timed probe
queries, mean/max, alert on breach) is the reference contract.
"""

from __future__ import annotations

import time
from datetime import datetime, timezone

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..io import TableStore
from ..session import local_frame

#: reference thresholds, quality_monitor.py:40-46 (latency default is
#: host-dependent; the reference's 100 ms targets Kuzu point lookups).
DEFAULT_THRESHOLDS = {
    "extraction_f1_min": 0.7,
    "search_latency_max_ms": 100.0,
    "db_growth_min_percent": 0.01,
    "error_rate_max_percent": 5.0,
    # retrieval quality gate (mean reciprocal rank @10 over the
    # labeled query set; benchmark_search.py's quality metrics)
    "search_mrr_min": 0.3,
}

HISTORY_TABLE = "monitor_history"
HISTORY_SCHEMA = (
    "ts string, n_entities long, n_edges long, f1 double, "
    "search_latency_mean_ms double, search_latency_max_ms double, "
    "growth_percent double, "
    "search_mean_precision double, search_mean_recall double, "
    "search_mrr double"
)


def monitor_extraction_quality(
    edges: DataFrame, truth: DataFrame, entities: DataFrame,
    thresholds: dict = DEFAULT_THRESHOLDS,
) -> tuple[dict, list[str]]:
    """Triple P/R/F1 vs the oracle, alert if F1 < threshold
    (quality_monitor.py:75-148 with the engine's exact P/R gate
    instead of LLM test samples)."""
    from ..plans.quality import triple_prf

    prf = triple_prf(edges, truth, entities)
    alerts = []
    if prf["f1"] < thresholds["extraction_f1_min"]:
        alerts.append(
            f"extraction F1 low: {prf['f1']:.3f} < "
            f"{thresholds['extraction_f1_min']}"
        )
    return prf, alerts


def monitor_search_latency(
    spark, entities: DataFrame, entity_vectors: DataFrame,
    queries: list[str] | None = None,
    thresholds: dict = DEFAULT_THRESHOLDS,
) -> tuple[dict, list[str]]:
    """Timed probe searches (mean/max wall ms, error rate), alert on
    breach (quality_monitor.py:150-227)."""
    from .embeddings import hybrid_search

    queries = queries or ["British heavy metal bands",
                          "thrash metal albums 1980s"]
    latencies: list[float] = []
    errors = 0
    for q in queries:
        t0 = time.time()
        try:
            hybrid_search(spark, entities, entity_vectors, q, k=10).collect()
            latencies.append((time.time() - t0) * 1000.0)
        except Exception:  # noqa: BLE001 — mirror the reference's count-and-continue
            errors += 1
    alerts = []
    metrics = {
        "search_latency_mean_ms": (sum(latencies) / len(latencies)) if latencies else None,
        "search_latency_max_ms": max(latencies) if latencies else None,
        "error_rate": errors / max(1, len(latencies) + errors),
    }
    if latencies and metrics["search_latency_mean_ms"] > thresholds["search_latency_max_ms"]:
        alerts.append(
            f"search latency high: {metrics['search_latency_mean_ms']:.1f}ms"
        )
    if metrics["error_rate"] * 100 > thresholds["error_rate_max_percent"]:
        alerts.append(f"search error rate high: {metrics['error_rate']:.2%}")
    return metrics, alerts


def monitor_search_quality(
    spark, entities: DataFrame, entity_vectors: DataFrame,
    relevance: dict[str, list[str]],
    k: int = 10,
    thresholds: dict = DEFAULT_THRESHOLDS,
) -> tuple[dict, list[str]]:
    """Mean precision/recall/MRR@k over a labeled query set
    (benchmark_search.py:97-148), alert when MRR drops below the
    threshold. One broadcast batch_topk pass + one aggregation —
    no per-query loop, so the labeled set can be large."""
    from .search_quality import search_quality_benchmark

    row = search_quality_benchmark(
        spark, entities, entity_vectors, relevance, k=k
    ).collect()[0]
    metrics = {
        "search_mean_precision": row.mean_precision,
        "search_mean_recall": row.mean_recall,
        "search_mrr": row.mrr,
        "queries_evaluated": row.n_queries,
    }
    alerts = []
    min_mrr = thresholds.get("search_mrr_min", 0.0)
    if row.mrr is not None and row.mrr < min_mrr:
        alerts.append(f"search MRR low: {row.mrr:.3f} < {min_mrr}")
    return metrics, alerts


def monitor_graph_growth(
    store: TableStore, thresholds: dict = DEFAULT_THRESHOLDS,
    entities: DataFrame | None = None, edges: DataFrame | None = None,
) -> tuple[dict, list[str]]:
    """Entity/edge counts + growth vs the previous history snapshot
    (quality_monitor.py:229-297). One aggregation per table — no
    per-entity-type query loop. Pass already-loaded ``entities`` /
    ``edges`` DataFrames (as ``run_all_monitors`` does) to avoid
    re-reading the tables a monitoring run already holds."""
    if entities is not None:
        n_entities = entities.count()
    else:
        n_entities = store.read("entities").count() if store.exists("entities") else 0
    if edges is not None:
        n_edges = edges.count()
    else:
        n_edges = store.read("edges").count() if store.exists("edges") else 0
    growth = None
    alerts = []
    if store.exists(HISTORY_TABLE):
        last = (
            store.read(HISTORY_TABLE)
            .orderBy(F.desc("ts")).limit(1).collect()
        )
        if last:
            prev = last[0].n_entities + last[0].n_edges
            cur = n_entities + n_edges
            growth = (100.0 * (cur - prev) / prev) if prev else None
            if growth is not None and growth < thresholds["db_growth_min_percent"]:
                alerts.append(f"graph growth stalled: {growth:.3f}%")
    return {"n_entities": n_entities, "n_edges": n_edges,
            "growth_percent": growth}, alerts


def run_all_monitors(
    spark, store: TableStore, truth: DataFrame | None = None,
    thresholds: dict = DEFAULT_THRESHOLDS,
    relevance: dict[str, list[str]] | None = None,
) -> tuple[DataFrame, list[str]]:
    """All monitors; appends one metrics row to ``monitor_history`` and
    returns (metrics_df, alerts) — the reference's run_all_monitors +
    metrics_history persistence (quality_monitor.py:359-430). Pass a
    labeled ``relevance`` set (query text → expected entity names) to
    include the retrieval-quality metrics (P/R/MRR@10) in the row."""
    from .embeddings import embed_entities

    alerts: list[str] = []
    entities = store.read("entities")
    edges = store.read("edges")
    vectors = embed_entities(entities)

    f1 = None
    if truth is not None:
        prf, a = monitor_extraction_quality(edges, truth, entities, thresholds)
        f1 = prf["f1"]
        alerts += a
    lat, a = monitor_search_latency(spark, entities, vectors, thresholds=thresholds)
    alerts += a
    quality = {"search_mean_precision": None, "search_mean_recall": None,
               "search_mrr": None}
    if relevance:
        quality, a = monitor_search_quality(
            spark, entities, vectors, relevance, thresholds=thresholds
        )
        alerts += a
    growth, a = monitor_graph_growth(store, thresholds, entities=entities, edges=edges)
    alerts += a

    row = local_frame(
        spark,
        [(
            datetime.now(timezone.utc).isoformat(),
            growth["n_entities"], growth["n_edges"], f1,
            lat["search_latency_mean_ms"], lat["search_latency_max_ms"],
            growth["growth_percent"],
            quality["search_mean_precision"], quality["search_mean_recall"],
            quality["search_mrr"],
        )],
        HISTORY_SCHEMA,
    )
    store.append(row, HISTORY_TABLE)
    return row, alerts
