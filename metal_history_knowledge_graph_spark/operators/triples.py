"""Triple emission: relationship candidates → resolved, deduplicated,
provenance-tagged (subj, pred, obj) edges.

Pipeline (all set-oriented; the reference does this with per-row Kuzu
calls in ``scripts/automation/load_to_kuzu.py:638-861``):

1. union explicit relationship candidates with *inferred* ones
   (person.associated_bands ⇒ MEMBER_OF, album.artist ⇒ RELEASED —
   ``scripts/pipeline/03_deduplicate_entities.sh:223-259``);
2. normalize predicates (lowercase alias map → UPPER,
   ``load_to_kuzu.py:800-810``) and filter through the predicate
   whitelist — the reference's 27 base predicates
   (``load_to_kuzu.py:813-821``) plus the enhanced-schema predicates we
   emit (``src/schema/metal_history_schema_enhanced.cypher:104-198``);
3. dedup on ``rel_hash = md5(type|from_type|lower(from)|to_type|
   lower(to))`` keeping the first occurrence in the pinned total order
   (``extraction_pipeline.py:336-353``) — a min-struct HashAggregate
   that partial-aggregates map-side;
4. resolve names → canonical ids via a **broadcast** join against the
   resolution map (vocabulary-sized dim table — no shuffle of the big
   side, no skew: this is the famous-band hot-key join done right);
5. provenance = normalized (edge_key, url) table + bounded sample on
   the edge rows.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..functions.patterns import SINGULAR
from ..functions.plan_hints import drop_pin, hash_agg_pin
from .canonicalize import provenance_pools

#: base whitelist, load_to_kuzu.py:813-821.
BASE_PREDICATES = [
    "FORMED_IN", "PLAYS_GENRE", "RELEASED", "ACTIVE_DURING", "MEMBER_OF",
    "PRODUCED", "PERFORMED_ON", "CONTAINS_TRACK", "RECORDED_AT", "RELEASED_BY",
    "REPRESENTS_GENRE", "INFLUENCED_BY", "EVOLVED_INTO", "ORIGINATED_IN",
    "EMERGED_DURING", "SCENE_SPAWNED", "SCENE_DEVELOPED", "DOCUMENTED_IN",
    "FEATURED_IN", "PARTICIPATED_IN", "INFLUENCED_EVENT", "HAS_CHARACTERISTIC",
    "USES_TECHNIQUE", "ALBUM_FEATURES", "MENTIONED_WITH", "CONTEMPORARY_OF",
    "CITATION",
]
#: enhanced-schema predicates this engine emits
#: (metal_history_schema_enhanced.cypher:104-198).
ENHANCED_PREDICATES = [
    "PART_OF_MOVEMENT", "USES_EQUIPMENT", "VENUE_HOSTED", "PROMOTED_ON",
    "PRODUCED_WITH_STYLE", "WENT_VIRAL",
]
PREDICATE_WHITELIST = frozenset(BASE_PREDICATES + ENHANCED_PREDICATES)

#: lowercase alias → schema predicate (load_to_kuzu.py:800-810).
PREDICATE_ALIASES = {
    "member_of": "MEMBER_OF", "formed_in": "FORMED_IN", "released": "RELEASED",
    "plays_genre": "PLAYS_GENRE", "influenced_by": "INFLUENCED_BY",
    "produced": "PRODUCED", "recorded_at": "RECORDED_AT",
}

#: relationship endpoint type (singular, the extraction contract) →
#: entity table type (plural): the extractor's ``SINGULAR`` inverted,
#: plus the ``genre`` alias.
SINGULAR_TO_PLURAL = {s: p for p, s in SINGULAR.items()} | {"genre": "subgenres"}


def _inferred(rows: DataFrame, rel_type: str, from_type: str, from_name,
              to_type: str, to_name, context: str, year=None, role=None) -> DataFrame:
    """One inferred-rule select: the relationship-candidate columns of
    ``rel_type`` rows ``from_name → to_name``, ordered by the entity's
    ``first_seen``."""
    return rows.select(
        F.lit(rel_type).alias("rel_type"),
        F.lit(from_type).alias("from_entity_type"), from_name.alias("from_entity_name"),
        F.lit(to_type).alias("to_entity_type"), to_name.alias("to_entity_name"),
        (F.lit(None) if year is None else year).cast("int").alias("rel_year"),
        (F.lit(None) if role is None else role).cast("string").alias("rel_role"),
        F.lit(context).alias("rel_context"),
        F.col("first_seen").alias("order_key"),
        F.lit(None).cast("string").alias("url"),
    )


def infer_relationships(entities: DataFrame) -> DataFrame:
    """Inferred rels from canonical entity attrs
    (03_deduplicate_entities.sh:223-259): person.associated_bands ⇒
    MEMBER_OF (role = first instrument, default 'member'); album.artist
    ⇒ RELEASED (year = release_year); song.album ⇒ CONTAINS_TRACK (the
    reference's _create_contains_track_relationships,
    load_to_kuzu.py:765-791). Emitted in the canonical entity's
    first_seen order slot so dedup stays deterministic."""
    attrs = F.from_json(
        "attrs_json",
        "struct<associated_bands:array<string>, instruments:array<string>, "
        "title:string, artist:string, release_year:int, "
        "album:string, track_number:int>",
    )
    e = entities.withColumn("a", attrs)
    canonical = F.col("canonical_name")
    people = e.filter(F.col("entity_type") == "people") \
        .withColumn("band", F.explode("a.associated_bands"))
    albums = e.filter((F.col("entity_type") == "albums") & F.col("a.artist").isNotNull())
    songs = e.filter((F.col("entity_type") == "songs") & F.col("a.album").isNotNull())
    return (
        _inferred(people, "MEMBER_OF", "person", canonical, "band", F.col("band"),
                  "Inferred from associated_bands",
                  role=F.coalesce(F.element_at("a.instruments", 1), F.lit("member")))
        .unionByName(_inferred(albums, "RELEASED", "band", F.col("a.artist"), "album",
                               canonical, "Inferred from album data",
                               year=F.col("a.release_year")))
        .unionByName(_inferred(songs, "CONTAINS_TRACK", "album", F.col("a.album"), "song",
                               canonical, "Inferred from song data"))
    )


def normalize_predicates(rels: DataFrame) -> DataFrame:
    """Alias-map + uppercase + whitelist (broadcastable literal set)."""
    alias_map = F.create_map(
        *[F.lit(x) for kv in PREDICATE_ALIASES.items() for x in kv]
    )
    pred = F.coalesce(
        alias_map[F.lower(F.col("rel_type"))], F.upper(F.col("rel_type"))
    )
    return (
        rels.withColumn("pred", pred)
        .filter(F.col("pred").isin(list(PREDICATE_WHITELIST)))
    )


def _keep_first(df: DataFrame, key: str) -> DataFrame:
    """First-occurrence-wins dedup on ``key`` in the pinned total order
    — as a min(struct(order_key, ...)) aggregation, NOT a row_number
    window: struct-min partial-aggregates map-side, so a hot fact
    observed in millions of pages collapses inside each input partition
    instead of funnelling through one window sorter."""
    rest = [c for c in df.columns if c not in (key, "order_key")]
    agg = df.groupBy(key).agg(
        F.min(F.struct("order_key", *rest)).alias("_r"),
        # keeps the agg hash-based; min-over-struct alone would sort
        # every input partition (functions/plan_hints.py)
        hash_agg_pin().alias("_h"),
    )
    return drop_pin(agg).select(key, "_r.order_key", *[F.col(f"_r.{c}") for c in rest])


def _with_rel_hash(rels: DataFrame) -> DataFrame:
    """The surface-level fact key ``rel_hash = md5(pred|from_type|
    lower(from)|to_type|lower(to))``."""
    return rels.withColumn("rel_hash", F.md5(F.concat_ws(
        "|", F.col("pred"), F.col("from_entity_type"),
        F.lower(F.col("from_entity_name")), F.col("to_entity_type"),
        F.lower(F.col("to_entity_name")),
    )))


def dedup_relationships(rels: DataFrame) -> DataFrame:
    """md5 canonical-key dedup, first occurrence wins (pinned order)."""
    return _keep_first(_with_rel_hash(rels), "rel_hash")


def resolve_triples(rels: DataFrame, resolution: DataFrame) -> DataFrame:
    """Name → canonical id resolution via two broadcast joins
    (subject, object). Unresolved endpoints are dropped (the reference
    skips relationships whose entities are unknown) — endpoints that do
    not resolve come back with null ids, and :func:`build_triples` drops
    those rows."""
    singular_map = F.create_map(
        *[F.lit(x) for kv in SINGULAR_TO_PLURAL.items() for x in kv]
    )
    r = (
        rels.withColumn("subj_etype", singular_map[F.col("from_entity_type")])
        .withColumn("obj_etype", singular_map[F.col("to_entity_type")])
        .withColumn("subj_norm", F.lower(F.trim("from_entity_name")))
        .withColumn("obj_norm", F.lower(F.trim("to_entity_name")))
    )
    res_subj = resolution.select(
        F.col("entity_type").alias("subj_etype"),
        F.col("form_norm").alias("subj_norm"),
        F.col("canonical_id").alias("subj_id"),
        F.col("canonical_name").alias("subj_name"),
    )
    res_obj = resolution.select(
        F.col("entity_type").alias("obj_etype"),
        F.col("form_norm").alias("obj_norm"),
        F.col("canonical_id").alias("obj_id"),
        F.col("canonical_name").alias("obj_name"),
    )
    return (
        r.join(F.broadcast(res_subj), ["subj_etype", "subj_norm"], "left")
        .join(F.broadcast(res_obj), ["obj_etype", "obj_norm"], "left")
    )


def build_triples(
    rels: DataFrame,
    entities: DataFrame,
    resolution: DataFrame,
) -> tuple[DataFrame, DataFrame]:
    """Full triple pipeline. Returns (rep, edge_provenance):

    * ``rep`` — one vocabulary-sized representative row per canonical
      edge (pinned min-struct order), derived from an eagerly-cut
      mention-scale dedup; feed it to :func:`finalize_edges`.
    * ``edge_provenance`` — LAZY distinct (edge_key, url) pairs; commit
      it once (its only execution), then pass the committed table to
      :func:`finalize_edges` for n_sources + the bounded sample.

    finalize_edges(rep, committed_pairs) yields the edges table:
    (edge_key, rel_hash, subj_id, subj_type, subj_name, pred, obj_id,
    obj_type, obj_name, props map<string,string>, order_key, n_sources,
    provenance array<string> sample).
    """
    explicit = rels.select(
        "rel_type", "from_entity_type", "from_entity_name",
        "to_entity_type", "to_entity_name",
        "rel_year", "rel_role", "rel_context", "order_key", "url",
    )
    candidates = explicit.unionByName(infer_relationships(entities))
    hashed = _with_rel_hash(normalize_predicates(candidates))

    # First-occurrence dedup as ONE mention-scale HashAggregate
    # (:func:`dedup_relationships`' own key and keep-first rule).
    # Provenance deliberately does NOT ride along as a collect_set here:
    # pooling urls into per-fact arrays hauls a hot fact's millions of
    # urls into one row (and degrades the whole aggregation from codegen
    # HashAggregate to ObjectHashAggregate); it lives in its own narrow
    # pair table below instead.
    per_fact = _keep_first(hashed, "rel_hash")

    resolved = resolve_triples(per_fact, resolution)
    complete = resolved.filter(
        F.col("subj_id").isNotNull() & F.col("obj_id").isNotNull()
    ).withColumn(
        # Canonical edge key: two misspelled surfaces of the same fact
        # hash differently at the surface level but resolve to the same
        # (subj_id, pred, obj_id) — dedup again post-resolution.
        "edge_key",
        F.md5(F.concat_ws("|", F.col("pred"), F.col("subj_id"), F.col("obj_id"))),
        # feeds the edge representative, the rel_hash→edge_key map for
        # provenance, and (via rep) the edges table; the cut stops the
        # mention-scale dedup lineage re-running per consumer.
        # localCheckpoint blocks are executor-local and not
        # fault-tolerant; at cluster scale this spot is a reliable
        # checkpoint / intermediate table commit.
    ).localCheckpoint(eager=True)

    # Vocabulary-sized: representative per canonical edge (the same
    # first-wins rule in the pinned order).
    rep = _keep_first(complete, "edge_key")

    # Provenance pair path: a second, column-pruned mention pass —
    # (rel_hash, url) distinct (partial agg dedups hot facts map-side),
    # then every contributing surface-level rel_hash maps onto its
    # canonical edge via a broadcast of the vocabulary-sized key map.
    # Urls of facts that failed resolution drop out with the inner
    # join, exactly as a pooled design would drop them. Returned LAZY:
    # the caller commits it as the edge_provenance table (its one
    # execution) and feeds the committed table to finalize_edges —
    # a table commit, not a 10⁷-row localCheckpoint.
    obs_pairs = (
        hashed.select("rel_hash", "url")
        .filter(F.col("url").isNotNull())
        .distinct()
    )
    key_map = complete.select("rel_hash", "edge_key")
    prov_canon = (
        obs_pairs.join(F.broadcast(key_map), "rel_hash")
        .select("edge_key", "url")
        .distinct()
    )
    return rep, prov_canon


def finalize_edges(rep: DataFrame, prov_pairs: DataFrame) -> DataFrame:
    """Attach exact ``n_sources`` + bounded sorted url sample
    (:func:`canonicalize.provenance_pools`) to the canonical-edge
    representatives. ``prov_pairs`` should be the COMMITTED
    (edge_key, url) table from :func:`build_triples` so the pool
    aggregation is a cheap two-column scan of parquet, not a re-run of
    the mention-scale lineage."""
    pools = provenance_pools(prov_pairs, "edge_key", "provenance")
    return rep.join(pools, "edge_key", "left").select(
        "edge_key", "rel_hash",
        "subj_id", F.col("subj_etype").alias("subj_type"), "subj_name",
        "pred",
        "obj_id", F.col("obj_etype").alias("obj_type"), "obj_name",
        F.map_filter(
            F.create_map(
                F.lit("year"), F.col("rel_year").cast("string"),
                F.lit("role"), F.col("rel_role"),
                F.lit("context"), F.col("rel_context"),
            ),
            lambda _, v: v.isNotNull(),
        ).alias("props"),
        "order_key",
        F.coalesce("n_sources", F.lit(0)).alias("n_sources"),
        "provenance",
    )

