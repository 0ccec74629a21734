"""Canonicalization: mentions → canonical entities + resolution map.

The scale architecture (this is where the 100 TB story lives):

1. **Surface-form pre-aggregation** — mentions (billions; 'Black
   Sabbath' alone may appear in millions of pages) are reduced to
   distinct ``(entity_type, link_norm, name, attrs_json)`` rows via a
   hash aggregation. Spark's partial (map-side) aggregation collapses
   hot keys *before* the shuffle, which is the salted-agg effect for
   identical payloads; AQE handles residual skew. After this step all
   fuzzy work happens on a vocabulary-sized table (≤ millions of rows
   at web scale), NOT on mentions.
2. **Within-form ordered fold** (``applyInArrow`` per (type, form),
   on plain Python lists — no per-group pandas conversion): replays
   the reference's merge rules (``extraction_pipeline.py:118-156``)
   over the few distinct attr payloads of a surface form, in the
   pinned total order.
3. **Pair generation** — MinHash-LSH over char-3-gram shingles
   (native banded minhash, one hash table per xxhash64 seed — the same
   OR-amplified scheme as ``pyspark.ml.feature.MinHashLSH`` without a
   fit stage), recall-oriented. Replaces the reference's O(n²)
   greedy scan (``extraction_pipeline.py:109-116``).
4. **Pair verification** — the reference's own decision function,
   ``SequenceMatcher.ratio() ≥ 0.85`` (``extraction_pipeline.py:46-61``)
   in a scalar Arrow UDF, so emitted groups match reference
   semantics; LSH is never the decider.
5. **Connected components** — the package's one kernel,
   ``graph_algos.components`` grouped by entity_type: driver union-find
   over the collected verified pairs, min-label propagation
   (localCheckpoint per round) above its pair limit. Greedy reference
   grouping is transitive via accumulated variations, so CC produces
   the same groups, order-independently (SURVEY §2.4).
6. **Cross-form ordered fold** per component → canonical entity;
   deterministic ``canonical_id = xxhash64(entity_type, lower(name))``.

Provenance is normalized into its own (canonical_id, url) table —
collecting millions of urls into one array cell would recreate the
skew problem; the entity table carries exact ``n_sources`` plus a
bounded ``source_urls`` sample.
"""

from __future__ import annotations

import json

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import BooleanType

from ..functions.merge_rules import fold_entities
from ..functions.plan_hints import drop_pin, hash_agg_pin
from ..functions.similarity import MERGE_THRESHOLD, name_similarity
from ..session import arrow_schema
from .extract import _ATTR_NAMES
from .graph_algos import COMPONENTS_MAX_ITER, DRIVER_EDGE_LIMIT, components

FORMS_SCHEMA = (
    "entity_type string, form_norm string, first_seen string, first_name string, "
    "attrs_json string, variations array<string>, n_mentions long, confidence double"
)

ENTITY_SCHEMA = (
    "entity_type string, canonical_name string, name_norm string, first_seen string, "
    "attrs_json string, variations array<string>, member_forms array<string>, "
    "n_mentions long, n_forms int, confidence double"
)

#: urls kept, sorted, in an entity's ``source_urls`` / an edge's
#: ``provenance`` sample (``n_sources`` stays exact)
PROVENANCE_SAMPLE = 100

#: MinHash-LSH hash tables (one band of one hash each)
LSH_TABLES = 16


def _fold_rows_to_dict(rows) -> dict:
    """Fold (first_seen-sorted) rows carrying attrs_json into one dict."""
    dicts = []
    for r in rows:
        d = json.loads(r) if r else {}
        dicts.append(d)
    return fold_entities(dicts)


def _sorted_rows(cols: dict, keys: list[str]) -> list[int]:
    """Row order of a group by ``keys``, nulls last, stable — the order
    ``DataFrame.sort_values(keys, kind="mergesort")`` gives."""
    return sorted(range(len(cols[keys[0]])),
                  key=lambda i: tuple((cols[k][i] is None, cols[k][i]) for k in keys))


def _min_present(values):
    present = [v for v in values if v is not None]
    return min(present) if present else None


def _max_confidence(values) -> float | None:
    # the pandas fold's Series.max skipped nulls and NaN; its NaN for an
    # all-null group reached Spark as null
    present = [v for v in values if v is not None and v == v]
    return float(max(present)) if present else None


def surface_forms(mentions: DataFrame) -> DataFrame:
    """Stages 1+2: mentions → one row per (entity_type, link_norm),
    folding every distinct attr payload of the form (the reference's
    unbounded merge semantics).

    No url pooling here: provenance lives in its own narrow
    (canonical_id, url) pair table (:func:`entity_provenance`). Earlier
    builds collect_set the urls through this aggregation and the fold,
    which dragged every distinct url of a hot entity (millions at web
    scale) through ONE Python group — an unbounded per-group state the
    rest of this module is designed to avoid. min/count/max keep the
    aggregation a plain whole-stage-codegen HashAggregate."""
    attrs_json = F.to_json(F.struct(*[F.col(a) for a in _ATTR_NAMES]))
    variants = (
        mentions
        .withColumn("attrs_json", attrs_json)
        .groupBy("entity_type", "link_norm", "name", "attrs_json")
        .agg(
            F.min("order_key").alias("first_seen"),
            F.count(F.lit(1)).alias("n_mentions"),
            F.max("confidence").alias("confidence"),
            # min-over-string alone would land this mention-scale agg
            # on SortAggregate; the pin keeps it a hash aggregation
            # (functions/plan_hints.py)
            hash_agg_pin().alias("_h"),
        )
    )
    variants = drop_pin(variants)

    schema = arrow_schema(FORMS_SCHEMA)

    def fold(table):
        import pyarrow as pa

        cols = table.to_pydict()
        order = _sorted_rows(cols, ["first_seen", "name", "attrs_json"])
        names = [cols["name"][i] for i in order]
        merged = _fold_rows_to_dict([cols["attrs_json"][i] for i in order])
        return pa.Table.from_pylist([{
            "entity_type": cols["entity_type"][order[0]],
            "form_norm": cols["link_norm"][order[0]],
            "first_seen": _min_present(cols["first_seen"]),
            "first_name": names[0],
            "attrs_json": json.dumps(merged, ensure_ascii=False, sort_keys=True),
            "variations": list(dict.fromkeys(names)),
            "n_mentions": sum(cols["n_mentions"]),
            "confidence": _max_confidence(cols["confidence"]),
        }], schema=schema)

    return variants.groupBy("entity_type", "link_norm").applyInArrow(fold, FORMS_SCHEMA)


def candidate_pairs_lsh(forms: DataFrame) -> DataFrame:
    """Stage 3: recall-oriented candidate pairs via MinHash-LSH over
    char-3-gram shingles. Returns (entity_type, left, right) with
    left < right.

    Native implementation (same OR-amplified scheme as
    ``pyspark.ml.feature.MinHashLSH`` with one hash per table, but with
    no fit stage, no model broadcast, and fully inside whole-stage
    codegen): table *i*'s bucket = min over shingles of
    ``xxhash64(shingle, i)``; two names collide in table *i* with
    probability = their Jaccard similarity, so recall after 16 tables is
    1−(1−J)¹⁶ (≈99.7% at J=0.3, the weakest true-misspelling pair).
    The bucket self-join shuffles only (table, bucket) keys of the
    vocabulary-sized forms table; precision is irrelevant here — every
    candidate is verified by the exact ratio (stage 4)."""
    grams = (
        forms.select("entity_type", "form_norm")
        .withColumn(
            "grams",
            F.when(
                F.length("form_norm") <= 3, F.array(F.col("form_norm"))
            ).otherwise(
                F.expr(
                    "transform(sequence(0, length(form_norm) - 3),"
                    " i -> substring(form_norm, i + 1, 3))"
                )
            ),
        )
        .withColumn("grams", F.array_distinct("grams"))
        .filter(F.size("grams") > 0)
    )
    banded = grams.select(
        "entity_type", "form_norm",
        F.posexplode(
            F.transform(
                F.sequence(F.lit(0), F.lit(LSH_TABLES - 1)),
                lambda i: F.array_min(
                    F.transform(F.col("grams"), lambda g: F.xxhash64(g, i))
                ),
            )
        ).alias("table", "bucket"),
    )
    return (
        banded.alias("a")
        .join(banded.alias("b"), ["entity_type", "table", "bucket"])
        .filter(F.col("a.form_norm") < F.col("b.form_norm"))
        .select(
            "entity_type",
            F.col("a.form_norm").alias("left"),
            F.col("b.form_norm").alias("right"),
        )
        .distinct()
    )


def candidate_pairs_exact(forms: DataFrame) -> DataFrame:
    """Exhaustive within-type pairs (test oracle for LSH recall; only
    usable when the vocabulary is small)."""
    a = forms.select("entity_type", F.col("form_norm").alias("left"))
    b = forms.select("entity_type", F.col("form_norm").alias("right"))
    return a.join(b, "entity_type").filter(F.col("left") < F.col("right"))


def verify_pairs(pairs: DataFrame) -> DataFrame:
    """Stage 4: keep pairs with SequenceMatcher ratio ≥
    ``MERGE_THRESHOLD`` — the reference's exact decision function, over
    Arrow batches."""
    @F.arrow_udf(BooleanType())
    def similar(left, right):
        import pyarrow as pa

        return pa.array([name_similarity(a, b) >= MERGE_THRESHOLD
                         for a, b in zip(left.to_pylist(), right.to_pylist())],
                        type=pa.bool_())

    return pairs.filter(similar(F.col("left"), F.col("right")))


def connected_components(
    forms: DataFrame, edges: DataFrame,
    driver_edge_limit: int = DRIVER_EDGE_LIMIT,
    max_iter: int = COMPONENTS_MAX_ITER,
) -> DataFrame:
    """Stage 5: connected components over the verified-pair graph;
    returns (entity_type, form_norm, label).

    The pair graph is tiny at every scale (|pairs| ≪ |vocabulary| ≪
    |mentions|: pairs exist only between near-identical name forms),
    so :func:`graph_algos.components` (grouped by entity_type) takes
    its driver union-find path — one job, zero shuffle iterations.
    Only forms in a verified pair get a label there; every other form
    labels itself in one narrow expression."""
    labels = components(
        edges, "left", "right", ["entity_type"], driver_edge_limit, max_iter
    ).withColumnRenamed("node", "form_norm")
    return (
        forms.select("entity_type", "form_norm")
        .join(labels, ["entity_type", "form_norm"], "left")
        .select(
            "entity_type", "form_norm",
            F.coalesce("label", "form_norm").alias("label"),
        )
    )


def canonical_entities(forms: DataFrame, labels: DataFrame) -> DataFrame:
    """Stage 6: fold each component's forms (ordered by first_seen)
    into one canonical entity row."""
    member = forms.join(labels, ["entity_type", "form_norm"])

    schema = arrow_schema(ENTITY_SCHEMA)

    def fold(table):
        import pyarrow as pa

        cols = table.to_pydict()
        order = _sorted_rows(cols, ["first_seen", "form_norm"])
        merged = _fold_rows_to_dict([cols["attrs_json"][i] for i in order])
        first_name = cols["first_name"][order[0]]
        return pa.Table.from_pylist([{
            "entity_type": cols["entity_type"][order[0]],
            "canonical_name": first_name,
            "name_norm": str(first_name).lower().strip(),
            "first_seen": _min_present(cols["first_seen"]),
            "attrs_json": json.dumps(merged, ensure_ascii=False, sort_keys=True),
            "variations": list(dict.fromkeys(
                v for i in order for v in cols["variations"][i])),
            "member_forms": [cols["form_norm"][i] for i in order],
            "n_mentions": sum(cols["n_mentions"]),
            "n_forms": len(order),
            "confidence": _max_confidence(cols["confidence"]),
        }], schema=schema)

    folded = member.groupBy("entity_type", "label").applyInArrow(fold, ENTITY_SCHEMA)
    return folded.withColumn(
        "canonical_id", F.xxhash64(F.col("entity_type"), F.col("name_norm"))
    )


def resolution_map(entities: DataFrame) -> DataFrame:
    """(entity_type, form_norm → canonical_id/name): the broadcast dim
    table every downstream name-resolution join uses."""
    return entities.select(
        "entity_type",
        F.explode("member_forms").alias("form_norm"),
        "canonical_id",
        "canonical_name",
    ).distinct()


def entity_provenance(mentions: DataFrame, resolution: DataFrame) -> DataFrame:
    """Normalized provenance: one row per (canonical_id, url) — the
    pipeline's provenance path. One column-pruned mention-scale pass
    (3 columns reach the scan), a broadcast join against the
    vocabulary-sized resolution map, and a hash distinct whose partial
    aggregation dedups hot keys map-side. Provenance never rides
    through arrays or a Python fold: an earlier build pooled urls via
    collect_set inside the surface-form aggregation, which hauled a hot
    entity's millions of urls into single rows (and single fold
    groups) — exactly the skew this table shape exists to prevent."""
    return (
        mentions.select("entity_type", "link_norm", "url")
        .join(
            F.broadcast(resolution.withColumnRenamed("form_norm", "link_norm")),
            ["entity_type", "link_norm"],
        )
        .select("canonical_id", "url")
        .distinct()
    )


def provenance_pools(pairs: DataFrame, key: str, sample: str) -> DataFrame:
    """``(key, n_sources, sample)`` from a committed distinct
    ``(key, url)`` pair table: the exact url count and the first
    ``PROVENANCE_SAMPLE`` urls in sorted order, in ONE vocabulary-keyed
    aggregation (no window). The pairs are distinct, so a list needs no
    set dedup; the full sorted array exists only transiently inside the
    aggregation — hash-subsample the pairs first if one key's url set
    ever outgrows executor memory. Entities (``source_urls``) and edges
    (``provenance``) both pool here."""
    return pairs.groupBy(key).agg(
        F.array_sort(F.collect_list("url")).alias("_urls")
    ).select(
        key,
        F.size("_urls").alias("n_sources"),
        F.slice("_urls", 1, PROVENANCE_SAMPLE).alias(sample),
    )


def attach_provenance_sample(entities: DataFrame, provenance: DataFrame) -> DataFrame:
    """Entities with exact ``n_sources`` (0 without provenance) and the
    bounded sorted ``source_urls`` sample from the committed
    (canonical_id, url) table."""
    return (
        entities.join(provenance_pools(provenance, "canonical_id", "source_urls"),
                      "canonical_id", "left")
        .withColumn("n_sources", F.coalesce("n_sources", F.lit(0)))
    )


def canonicalize_core(
    mentions: DataFrame, spark: SparkSession | None = None
) -> tuple[DataFrame, DataFrame, DataFrame]:
    """Canonicalization stages 1–6 WITHOUT the provenance attach.
    Returns (entities, resolution, provenance_pairs) where entities and
    resolution are vocabulary-sized and eagerly cut, and
    provenance_pairs is the LAZY (canonical_id, url) pair DF — the
    caller commits it once (its only execution) and feeds the committed
    table to :func:`attach_provenance_sample`. This is the pipeline's
    path: a table commit, not a 10⁷-row localCheckpoint."""
    forms = surface_forms(mentions).localCheckpoint(eager=True)
    edges = verify_pairs(candidate_pairs_lsh(forms))
    labels = connected_components(forms, edges)
    # Everything below is vocabulary-sized: checkpoint eagerly so the
    # applyInArrow fold DAG runs exactly once, not once per consumer.
    entities = canonical_entities(forms, labels).localCheckpoint(eager=True)
    resolution = resolution_map(entities).localCheckpoint(eager=True)
    provenance = entity_provenance(mentions, resolution)
    return entities, resolution, provenance

