"""Entity embeddings + semantic/hybrid search.

The reference embeds entities with ollama snowflake-arctic-embed2
(1024-d) and searches a dense in-memory matrix
(``scripts/automation/generate_embeddings.py:105-186``,
``scripts/search/vector_search.py:53-204``,
``api/semantic_search.py:325-455``). This engine:

* builds the same per-type **embedding text** templates (``"Band:
  {name} | Formed: {year} | ..."``) as ``concat_ws`` expressions;
* embeds with a deterministic **hashing-trick** vector (token →
  xxhash64 bucket, signed, L2-normalized) — a model-free stand-in with
  the same column type (``array<double>``), swappable for a real model
  UDF;
* searches with the operators in operators/simsearch.py;
* hybrid score = 0.7·semantic + 0.3·keyword with found-by-both boost
  (``api/semantic_search.py:325-455``) as a full-outer join.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..plans.queries import entity_view
from ..session import local_frame
from .simsearch import cosine_topk, with_l2_normalized

DIM_DEFAULT = 64


def embedding_text(entities: DataFrame) -> DataFrame:
    """Per-type embedding text (generate_embeddings.py:105-171)."""
    bands = entity_view(entities, "bands").select(
        "canonical_id",
        F.concat_ws(
            " | ",
            F.concat(F.lit("Band: "), F.col("canonical_name")),
            F.when(F.col("formed_year").isNotNull(),
                   F.concat(F.lit("Formed: "), F.col("formed_year").cast("string"))),
            F.when(F.col("origin_city").isNotNull(),
                   F.concat(F.lit("Origin: "), F.col("origin_city"))),
            F.col("description"),
        ).alias("embed_text"),
    )
    people = entity_view(entities, "people").select(
        "canonical_id",
        F.concat_ws(
            " | ",
            F.concat(F.lit("Person: "), F.col("canonical_name")),
            F.when(F.size(F.coalesce("instruments", F.array())) > 0,
                   F.concat(F.lit("Instruments: "), F.array_join("instruments", ", "))),
            F.when(F.size(F.coalesce("associated_bands", F.array())) > 0,
                   F.concat(F.lit("Bands: "), F.array_join("associated_bands", ", "))),
            F.col("description"),
        ).alias("embed_text"),
    )
    albums = entity_view(entities, "albums").select(
        "canonical_id",
        F.concat_ws(
            " | ",
            F.concat(F.lit("Album: "), F.col("canonical_name")),
            F.when(F.col("artist").isNotNull(), F.concat(F.lit("Artist: "), F.col("artist"))),
            F.when(F.col("release_year").isNotNull(),
                   F.concat(F.lit("Released: "), F.col("release_year").cast("string"))),
            F.col("description"),
        ).alias("embed_text"),
    )
    other = entities.filter(
        ~F.col("entity_type").isin(["bands", "people", "albums"])
    ).select(
        "canonical_id",
        F.concat_ws(
            " | ",
            F.concat(F.initcap(F.col("entity_type")), F.lit(": "), F.col("canonical_name")),
        ).alias("embed_text"),
    )
    return bands.unionByName(people).unionByName(albums).unionByName(other)


def _hashing_vector(text_col, dim: int):
    """Deterministic hashing-trick embedding, fully native: each token
    adds ±1 to bucket xxhash64(token)%dim; sign from a second hash.
    Returns array<double> (unnormalized)."""
    toks = F.filter(F.split(F.lower(text_col), r"[^\w]+"), lambda t: F.length(t) > 0)
    bucketed = F.transform(
        toks,
        lambda t: F.struct(
            F.pmod(F.xxhash64(t), F.lit(dim)).cast("int").alias("b"),
            (F.pmod(F.xxhash64(t, F.lit(1)), F.lit(2)) * 2 - 1).cast("double").alias("s"),
        ),
    )
    return F.transform(
        F.sequence(F.lit(0), F.lit(dim - 1)),
        lambda i: F.aggregate(
            bucketed, F.lit(0.0),
            lambda acc, x: acc + F.when(x["b"] == i, x["s"]).otherwise(0.0),
        ),
    )


def embed_entities(entities: DataFrame, dim: int = DIM_DEFAULT) -> DataFrame:
    """(canonical_id, embed_text, embedding) — L2-normalized so cosine
    is a dot product (vector_search.py:92-97 trick)."""
    txt = embedding_text(entities)
    vec = txt.withColumn("embedding", _hashing_vector(F.col("embed_text"), dim))
    return with_l2_normalized(vec, "embedding", out_col="embedding").select(
        "canonical_id", "embed_text", "embedding"
    )


def embed_texts_df(spark, texts: list[str], dim: int = DIM_DEFAULT) -> DataFrame:
    """Embed arbitrary query strings with the same expression."""
    df = local_frame(spark, list(enumerate(texts)), "qid int, q string")
    vec = df.withColumn("embedding", _hashing_vector(F.col("q"), dim))
    return with_l2_normalized(vec, "embedding", out_col="embedding").select(
        "qid", "q", "embedding"
    )


def semantic_search(
    spark, entity_vectors: DataFrame, query: str, k: int = 10,
    dim: int = DIM_DEFAULT,
) -> DataFrame:
    """Cosine top-k entities for a text query."""
    qvec = [float(v) for v in embed_texts_df(spark, [query], dim).head().embedding]
    return cosine_topk(entity_vectors, qvec, k=k, vec_col="embedding",
                       id_col="canonical_id")


def hybrid_search_vec(
    items: DataFrame, vectors: DataFrame, query_vec: list[float],
    keyword: str, k: int = 10, id_col: str = "canonical_id",
    text_col: str = "name_norm", round_digits: int = 4,
) -> DataFrame:
    """Hybrid rank with a PRECOMPUTED query vector: the same
    0.7·semantic + 0.3·keyword full-outer merge as ``hybrid_search``
    (api/semantic_search.py:325-455) but with both inputs expressible
    in plain SQL — semantic = cosine against ``query_vec`` over the
    stored vector column, keyword = exact/prefix/contains tiers on
    ``text_col``. This is the oracle-checkable decision function of
    the hybrid family (the text-embedding step is covered by unit
    tests); numeric tie-break on ``id_col``. Semantic side keeps
    ``hybrid_search``'s top-3k cut before the merge."""
    import math

    qn = math.sqrt(sum(v * v for v in query_vec)) or 1.0
    q = F.array(*[F.lit(float(v) / qn) for v in query_vec])
    from .simsearch import _dot

    sem = (
        with_l2_normalized(vectors, "embedding")
        .withColumn("semantic_score", F.round(_dot(F.col("unit_vec"), q), round_digits))
        .select(id_col, "semantic_score")
        .orderBy(F.desc("semantic_score"), F.asc(id_col))
        .limit(k * 3)
    )
    kwn = keyword.lower().strip()
    kw = (
        items.filter(F.col(text_col).contains(kwn))
        .withColumn(
            "keyword_score",
            F.when(F.col(text_col) == kwn, 1.0)
            .when(F.col(text_col).startswith(kwn), 0.8)
            .otherwise(0.5),
        )
        .select(id_col, "keyword_score")
    )
    return (
        sem.join(kw, id_col, "full_outer")
        .select(
            id_col,
            F.coalesce("semantic_score", F.lit(0.0)).alias("semantic_score"),
            F.coalesce("keyword_score", F.lit(0.0)).alias("keyword_score"),
        )
        .withColumn(
            "final_score",
            F.round(0.7 * F.col("semantic_score") + 0.3 * F.col("keyword_score"),
                    round_digits),
        )
        .orderBy(F.desc("final_score"), F.asc(id_col))
        .limit(k)
    )


def hybrid_search(
    spark, entities: DataFrame, entity_vectors: DataFrame, query: str,
    k: int = 10, dim: int = DIM_DEFAULT,
) -> DataFrame:
    """0.7·semantic + 0.3·keyword, found-by-both summed boost, sorted
    desc (api/semantic_search.py:325-455) — full-outer join of the two
    scored sides."""
    sem = semantic_search(spark, entity_vectors, query, k=k * 3, dim=dim) \
        .select("canonical_id", F.col("cosine").alias("semantic_score"))
    qn = query.lower().strip()
    kw = (
        entities.filter(F.col("name_norm").contains(qn))
        .withColumn(
            "keyword_score",
            F.when(F.col("name_norm") == qn, 1.0)
            .when(F.col("name_norm").startswith(qn), 0.8)
            .otherwise(0.5),
        )
        .select("canonical_id", "keyword_score")
    )
    merged = sem.join(kw, "canonical_id", "full_outer").select(
        "canonical_id",
        F.coalesce("semantic_score", F.lit(0.0)).alias("semantic_score"),
        F.coalesce("keyword_score", F.lit(0.0)).alias("keyword_score"),
    ).withColumn(
        "final_score",
        F.round(0.7 * F.col("semantic_score") + 0.3 * F.col("keyword_score"), 6),
    )
    names = entities.select("canonical_id", "entity_type", "canonical_name")
    return (
        merged.join(F.broadcast(names), "canonical_id")
        .orderBy(F.desc("final_score"), "canonical_name")
        .limit(k)
    )
