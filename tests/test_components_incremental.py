"""components_incremental (graph_algos): incremental == full
recompute on random edge splits (merges, attachments, brand-new
components), min-id label convention preserved, and the
component-pair driver guard."""

import itertools
import random

import pytest

from metal_history_knowledge_graph_spark.operators.graph_algos import (
    components_incremental,
    graph_components,
)


def _edges_df(spark, edges):
    return spark.createDataFrame(edges, "subj_id long, obj_id long")


def _labels(df):
    return {r["node_id"]: r["component_id"] for r in df.collect()}


def test_incremental_equals_full_random_splits(spark):
    """Three seeded random graphs, random 60/40 edge split: fold the
    40% batch into the 60% labels — must equal the full recompute."""
    rng = random.Random(5)
    for p in (0.03, 0.08, 0.2):
        edges = [
            (a, b)
            for a, b in itertools.combinations(range(60), 2)
            if rng.random() < p
        ]
        rng.shuffle(edges)
        cut = int(len(edges) * 0.6)
        old, batch = edges[:cut], edges[cut:]
        labels = graph_components(_edges_df(spark, old))
        inc = components_incremental(labels, _edges_df(spark, batch))
        full = graph_components(_edges_df(spark, edges))
        assert _labels(inc) == _labels(full), p


def test_merge_attach_and_new_components(spark):
    """One batch exercising all three effects: merging two existing
    components, attaching a new node to one, and a brand-new isolated
    component."""
    old = [(0, 1), (1, 2), (10, 11)]          # comps {0,1,2} and {10,11}
    labels = graph_components(_edges_df(spark, old))
    batch = [
        (2, 10),    # merges the two comps -> min id 0
        (11, 99),   # attaches new node 99
        (50, 51),   # brand-new component, min id 50
    ]
    got = _labels(components_incremental(labels, _edges_df(spark, batch)))
    assert got == {0: 0, 1: 0, 2: 0, 10: 0, 11: 0, 99: 0, 50: 50, 51: 50}


def test_empty_batch_is_identity(spark):
    old = [(0, 1), (2, 3)]
    labels = graph_components(_edges_df(spark, old))
    inc = components_incremental(
        labels, _edges_df(spark, []).limit(0)
    )
    assert _labels(inc) == _labels(labels)


def test_driver_guard_raises(spark):
    labels = graph_components(_edges_df(spark, [(0, 1)]))
    batch = [(i, i + 100) for i in range(10)]
    with pytest.raises(RuntimeError, match="component pairs"):
        components_incremental(
            labels, _edges_df(spark, batch), driver_edge_limit=5
        ).collect()
