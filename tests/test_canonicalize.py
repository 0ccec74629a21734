"""Canonicalizer internals: LSH recall vs the exact-pair oracle over
the full gazetteer vocabulary (every misspelling must be recoverable),
and merge-provenance bookkeeping."""

import pytest
from pyspark.sql import functions as F

from metal_history_knowledge_graph_spark.functions.gazetteer import BANDS, PEOPLE
from metal_history_knowledge_graph_spark.operators.canonicalize import (
    candidate_pairs_exact,
    candidate_pairs_lsh,
    connected_components,
    verify_pairs,
)


@pytest.fixture(scope="module")
def vocab_forms(spark):
    """Forms table = every gazetteer name + alias + misspelling."""
    rows = []
    for name, b in BANDS.items():
        for v in [name, *b["aliases"], *b["misspellings"]]:
            rows.append(("bands", v.lower().strip()))
    for name, p in PEOPLE.items():
        for v in [name, *p["misspellings"]]:
            rows.append(("people", v.lower().strip()))
    return spark.createDataFrame(
        sorted(set(rows)), "entity_type string, form_norm string"
    ).cache()


def _verified(pairs):
    return {
        (r.entity_type, r.left, r.right)
        for r in verify_pairs(pairs).collect()
    }


def test_lsh_recall_equals_exact_on_vocabulary(vocab_forms):
    """Every ratio≥0.85 pair in the vocabulary must survive the LSH
    prefilter — LSH may only add candidates, never lose a true pair."""
    exact = _verified(candidate_pairs_exact(vocab_forms))
    lsh = _verified(candidate_pairs_lsh(vocab_forms))
    assert exact, "oracle must be non-trivial"
    missing = exact - lsh
    assert not missing, f"LSH lost true pairs: {sorted(missing)[:5]}"
    assert lsh == exact  # verification makes the outputs identical


def test_every_misspelling_pairs_with_canonical(vocab_forms):
    verified = _verified(candidate_pairs_lsh(vocab_forms))
    joined = {frozenset((a, b)) for _, a, b in verified}
    for name, b in BANDS.items():
        for miss in b["misspellings"]:
            key = frozenset((name.lower(), miss.lower()))
            assert key in joined, f"{miss} !~ {name}"


def test_cross_type_never_pairs(vocab_forms):
    pairs = candidate_pairs_lsh(vocab_forms)
    # pair generation is within-type by construction
    assert pairs.filter(F.col("left") == F.col("right")).count() == 0
    verified = _verified(pairs)
    for etype, left, right in verified:
        assert etype in ("bands", "people")


def _chain(spark, n=5):
    """Forms f0..f{n-1} linked as a path f0-f1-...: diameter n-1."""
    names = [f"f{i}" for i in range(n)]
    forms = spark.createDataFrame(
        [("bands", f) for f in names], "entity_type string, form_norm string"
    )
    edges = spark.createDataFrame(
        [("bands", a, b) for a, b in zip(names, names[1:])],
        "entity_type string, left string, right string",
    )
    return forms, edges


def test_distributed_components_match_driver_path(spark):
    forms, edges = _chain(spark)
    labels = lambda df: {(r.form_norm, r.label) for r in df.collect()}  # noqa: E731
    driver = labels(connected_components(forms, edges))
    assert driver == {(f"f{i}", "f0") for i in range(5)}
    assert labels(connected_components(forms, edges, driver_edge_limit=0)) == driver


def test_distributed_components_raise_on_non_convergence(spark):
    """A capped label propagation must not split a component silently."""
    forms, edges = _chain(spark)
    with pytest.raises(RuntimeError, match="did not converge"):
        connected_components(forms, edges, driver_edge_limit=0, max_iter=1)


def test_components_stay_within_entity_type(spark):
    """Both types carry the same form names, linked by chains that
    would merge into one component if types were ignored; each path
    must keep every type's components (and labels) to itself."""
    names = [f"f{i}" for i in range(5)]
    forms = spark.createDataFrame(
        [(t, f) for t in ("bands", "people") for f in names],
        "entity_type string, form_norm string",
    )
    edges = spark.createDataFrame(
        [("bands", "f0", "f1"), ("bands", "f3", "f4"),
         ("people", "f1", "f2"), ("people", "f2", "f3")],
        "entity_type string, left string, right string",
    )
    expected = {
        ("bands", "f0", "f0"), ("bands", "f1", "f0"), ("bands", "f2", "f2"),
        ("bands", "f3", "f3"), ("bands", "f4", "f3"),
        ("people", "f0", "f0"), ("people", "f1", "f1"), ("people", "f2", "f1"),
        ("people", "f3", "f1"), ("people", "f4", "f4"),
    }
    for limit in (2_000_000, 0):
        got = connected_components(forms, edges, driver_edge_limit=limit).collect()
        assert len(got) == len(expected)
        assert set(map(tuple, got)) == expected, limit
