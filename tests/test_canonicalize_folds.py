"""The Arrow vocabulary folds of canonicalize (``surface_forms`` and
``canonical_entities``) against the pandas folds they replaced, kept
here as the reference: same rows on corpus mentions, on tied
``first_seen`` keys and on a group whose confidences are all null
(null out, as the pandas fold's NaN reached Spark)."""

import json

import pytest
from pyspark.sql import functions as F

from metal_history_knowledge_graph_spark.functions.plan_hints import drop_pin, hash_agg_pin
from metal_history_knowledge_graph_spark.operators.canonicalize import (
    ENTITY_SCHEMA,
    FORMS_SCHEMA,
    _fold_rows_to_dict,
    canonical_entities,
    candidate_pairs_lsh,
    connected_components,
    surface_forms,
    verify_pairs,
)
from metal_history_knowledge_graph_spark.operators.chunk import chunk_pages
from metal_history_knowledge_graph_spark.operators.extract import (
    _ATTR_NAMES,
    extract_chunks,
    mentions_of,
)
from metal_history_knowledge_graph_spark.sources.corpus import generate_pages


def _pandas_surface_forms(mentions):
    attrs_json = F.to_json(F.struct(*[F.col(a) for a in _ATTR_NAMES]))
    variants = drop_pin(
        mentions.withColumn("attrs_json", attrs_json)
        .groupBy("entity_type", "link_norm", "name", "attrs_json")
        .agg(
            F.min("order_key").alias("first_seen"),
            F.count(F.lit(1)).alias("n_mentions"),
            F.max("confidence").alias("confidence"),
            hash_agg_pin().alias("_h"),
        )
    )

    def fold(pdf):
        import pandas as pd

        pdf = pdf.sort_values(["first_seen", "name", "attrs_json"], kind="mergesort")
        merged = _fold_rows_to_dict(list(pdf["attrs_json"]))
        return pd.DataFrame([{
            "entity_type": pdf["entity_type"].iloc[0],
            "form_norm": pdf["link_norm"].iloc[0],
            "first_seen": pdf["first_seen"].min(),
            "first_name": pdf["name"].iloc[0],
            "attrs_json": json.dumps(merged, ensure_ascii=False, sort_keys=True),
            "variations": list(dict.fromkeys(pdf["name"])),
            "n_mentions": int(pdf["n_mentions"].sum()),
            "confidence": float(pdf["confidence"].max()),
        }])

    return variants.groupBy("entity_type", "link_norm").applyInPandas(fold, FORMS_SCHEMA)


def _pandas_canonical_entities(forms, labels):
    member = forms.join(labels, ["entity_type", "form_norm"])

    def fold(pdf):
        import pandas as pd

        pdf = pdf.sort_values(["first_seen", "form_norm"], kind="mergesort")
        merged = _fold_rows_to_dict(list(pdf["attrs_json"]))
        first_name = pdf["first_name"].iloc[0]
        return pd.DataFrame([{
            "entity_type": pdf["entity_type"].iloc[0],
            "canonical_name": first_name,
            "name_norm": str(first_name).lower().strip(),
            "first_seen": pdf["first_seen"].min(),
            "attrs_json": json.dumps(merged, ensure_ascii=False, sort_keys=True),
            "variations": list(dict.fromkeys(v for vs in pdf["variations"] for v in vs)),
            "member_forms": list(pdf["form_norm"]),
            "n_mentions": int(pdf["n_mentions"].sum()),
            "n_forms": int(len(pdf)),
            "confidence": float(pdf["confidence"].max()),
        }])

    folded = member.groupBy("entity_type", "label").applyInPandas(fold, ENTITY_SCHEMA)
    return folded.withColumn(
        "canonical_id", F.xxhash64(F.col("entity_type"), F.col("name_norm")))


def _rows(df):
    # NaN != NaN: compare it as a marker (sorted puts None before it)
    return sorted(
        (tuple("NaN" if isinstance(v, float) and v != v else v for v in r)
         for r in df.collect()),
        key=repr,
    )


@pytest.fixture(scope="module")
def mentions(spark):
    real = mentions_of(extract_chunks(chunk_pages(generate_pages(spark, 40, seed=7))))
    base = real.filter(F.col("entity_type") == "bands").orderBy("order_key").limit(1)
    # two names of one form share the base row's order_key (a first_seen
    # tie broken by name), and carry different attrs so the fold order shows
    tie = base.withColumn("link_norm", F.lit("zz tie"))
    tie_a = tie.withColumn("name", F.lit("ZZ Tie")).withColumn(
        "description", F.lit("second"))
    tie_b = tie.withColumn("name", F.lit("Zz tie")).withColumn(
        "description", F.lit("first"))
    nulls = base.withColumn("link_norm", F.lit("zz null")).withColumn(
        "confidence", F.lit(None).cast("double"))
    return real.unionByName(tie_a).unionByName(tie_b).unionByName(nulls) \
        .localCheckpoint(eager=True)


def test_surface_forms_match_pandas_fold(mentions):
    got = _rows(surface_forms(mentions))
    assert got == _rows(_pandas_surface_forms(mentions))
    by_form = {r[1]: r for r in got}
    assert by_form["zz tie"][3] == "ZZ Tie"  # first_name: smaller name wins the tie
    assert by_form["zz tie"][5] == ["ZZ Tie", "Zz tie"]
    # pandas' max() is NaN there, which its Arrow conversion sends as null
    assert by_form["zz null"][7] is None
    assert len(got) > 50


def test_canonical_entities_match_pandas_fold(spark, mentions):
    forms = _pandas_surface_forms(mentions)
    # two forms of one component with the same first_seen: form_norm
    # breaks the tie; both have all-null confidence
    extra = spark.createDataFrame([
        ("bands", "zz b", "0001", "Zz B", '{"description": "b"}', ["Zz B"], 2, None),
        ("bands", "zz a", "0001", "Zz A", '{"description": "a"}', ["Zz A", "ZZ A"], 1, None),
    ], FORMS_SCHEMA)
    forms = forms.unionByName(extra).localCheckpoint(eager=True)
    labels = connected_components(forms, verify_pairs(candidate_pairs_lsh(forms))) \
        .withColumn("label", F.when(F.col("form_norm") == "zz b", "zz a")
                    .otherwise(F.col("label")))
    got = _rows(canonical_entities(forms, labels))
    assert got == _rows(_pandas_canonical_entities(forms, labels))
    zz = [r for r in got if r[1] == "Zz A"]
    assert len(zz) == 1
    assert zz[0][5] == ["Zz A", "ZZ A", "Zz B"]  # variations in first_seen, form order
    assert zz[0][6] == ["zz a", "zz b"]
    assert zz[0][9] is None
